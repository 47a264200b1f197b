"""Seeded Gen3 input generator for the ETL workloads.

Writes, under one output directory:

  schema.json        a Gen3 data dictionary: program -> project -> subject ->
                     {demographic, diagnosis, sample -> aliquot ->
                     submitted_file}
  etlMapping.yaml    an aggregator index (subject_idx) that joins a collector
                     index (file_idx) through joining_props, and a small
                     aggregator (project_idx) that reads no clinical table
  dumps/             Sqoop-style quoted-CSV node_*/edge_* text dumps with the
                     properties as escaped JSON in `_props`
  expected.json      the totals every published document set must show,
                     computed here from the generated rows, independently of
                     the engine

The same seed gives byte-identical files. Row counts per table depend only
on the subject count, never on the seed, so every seed has the same size.

`variant(out, seed, subjects, k)` rewrites node_diagnosis with new property
values (same rows, same ids) and returns the expected totals after the
change; it is the change a CDC pass publishes. subject_idx reads the table
and file_idx, a collector, depends on every table, so both re-publish;
project_idx does not read it and must keep its live version.

Usage: python3 gen3gen.py <outDir> <seed> [subjects]
"""
import json
import os
import random
import sys
import uuid

PROGRAMS = 2
PROJECTS = 6
SPECIES = ["homo sapiens", "mus musculus", "rattus norvegicus"]
GENDERS = ["female", "male", "unknown"]
RACES = ["asian", "black", "white", "other", "not reported"]
DIAGNOSES = ["adenocarcinoma", "glioma", "melanoma", "lymphoma", "sarcoma"]
GRADES = ["G1", "G2", "G3", "G4"]
SAMPLE_TYPES = ["blood", "tissue", "saliva", "tumor", "normal"]
COMPOSITIONS = ["cell", "solid", "liquid"]
ANALYTES = ["DNA", "RNA", "protein"]
FORMATS = ["BAM", "VCF", "FASTQ", "CRAM", "TSV"]

# child label, link label, parent label, link name (up), backref (down),
# multiplicity
LINKS = [
    ("project", "member_of", "program", "programs", "projects", "many_to_one"),
    ("subject", "member_of", "project", "projects", "subjects", "many_to_one"),
    ("demographic", "describes", "subject", "subjects", "demographics",
     "one_to_one"),
    ("diagnosis", "describes", "subject", "subjects", "diagnoses",
     "many_to_one"),
    ("sample", "derived_from", "subject", "subjects", "samples", "many_to_one"),
    ("aliquot", "derived_from", "sample", "samples", "aliquots", "many_to_one"),
    ("submitted_file", "data_from", "aliquot", "aliquots", "submitted_files",
     "many_to_one"),
]

PROPS = {
    "program": {"name": "string", "dbgap_accession_number": "string"},
    "project": {"code": "string", "name": "string"},
    "subject": {"submitter_id": "string", "species": "string",
                "age_at_enrollment": "integer"},
    "demographic": {"gender": "string", "race": "string",
                    "year_of_birth": "integer"},
    "diagnosis": {"primary_diagnosis": "string", "age_at_diagnosis": "integer",
                  "tumor_grade": "string"},
    "sample": {"sample_type": "string", "composition": "string"},
    "aliquot": {"analyte_type": "string", "aliquot_volume": "integer"},
    "submitted_file": {"file_name": "string", "file_size": "integer",
                       "data_format": "string", "md5sum": "string"},
}

CATEGORY = {"program": "administrative", "project": "administrative",
            "subject": "administrative", "demographic": "clinical",
            "diagnosis": "clinical", "sample": "biospecimen",
            "aliquot": "biospecimen", "submitted_file": "data_file"}

MAPPING = """mappings:
  - name: subject_idx
    doc_type: subject
    type: aggregator
    root: subject
    props:
      - name: submitter_id
      - name: species
      - name: age_at_enrollment
    parent_props:
      - path: projects[project_code:code].programs[program_name:name]
        relation: 1-1
    flatten_props:
      - path: demographics
        props:
          - name: gender
          - name: race
          - name: year_of_birth
    aggregated_props:
      - name: _diagnoses_count
        path: diagnoses
        fn: count
      - name: total_age_at_diagnosis
        path: diagnoses
        src: age_at_diagnosis
        fn: sum
      - name: sample_types
        path: samples
        src: sample_type
        fn: set
      - name: _aliquots_count
        path: samples.aliquots
        fn: count
      - name: total_aliquot_volume
        path: samples.aliquots
        src: aliquot_volume
        fn: sum
      - name: _files_count
        path: samples.aliquots.submitted_files
        fn: count
      - name: total_file_size
        path: samples.aliquots.submitted_files
        src: file_size
        fn: sum
    nested_props:
      - name: diagnoses
        path: diagnoses
        props:
          - name: primary_diagnosis
          - name: age_at_diagnosis
          - name: tumor_grade
    joining_props:
      - index: file_idx
        join_on: _subject_id
        props:
          - name: data_formats
            src: data_format
            fn: set
          - name: joined_file_count
            src: _file_id
            fn: count
  - name: project_idx
    doc_type: project
    type: aggregator
    root: project
    props:
      - name: code
      - name: name
    parent_props:
      - path: programs[program_name:name]
    aggregated_props:
      - name: _subjects_count
        path: subjects
        fn: count
      - name: _samples_count
        path: subjects.samples
        fn: count
  - name: file_idx
    doc_type: file
    type: collector
    root: None
    category: data_file
    props:
      - name: file_name
      - name: file_size
      - name: data_format
      - name: source_node
    injecting_props:
      subject:
        props:
          - name: _subject_id
            src: id
            fn: set
          - name: subject_submitter_id
            src: submitter_id
            fn: set
"""

CREATED = "2024-01-01 00:00:00"


def edge_table(child, label, parent):
    return "edge_" + (child + label + parent).replace("_", "")


def dictionary():
    d = {"_definitions.yaml": {
        "file_size": {"type": "integer", "description": "bytes"},
        "md5sum": {"type": "string", "pattern": "^[a-f0-9]{32}$"}}}
    for label, props in PROPS.items():
        properties = {"id": {"systemAlias": "node_id", "type": "string"},
                      "type": {"enum": [label]}}
        for name, t in props.items():
            if label == "submitted_file" and name in ("file_size", "md5sum"):
                properties[name] = {"$ref": f"_definitions.yaml#/{name}"}
            elif t == "string" and name in ("species", "gender"):
                properties[name] = {"enum": {"species": SPECIES,
                                             "gender": GENDERS}[name]}
            else:
                properties[name] = {"type": [t, "null"]}
        links = []
        for child, lab, parent, name, backref, mult in LINKS:
            if child == label:
                properties[name] = {"type": "array"}
                links.append({"name": name, "backref": backref, "label": lab,
                              "target_type": parent, "multiplicity": mult,
                              "required": True})
        d[f"{label}.yaml"] = {"id": label, "title": label,
                              "category": CATEGORY[label],
                              "properties": properties, "links": links}
    return d


def _uuid(rng):
    return str(uuid.UUID(int=rng.getrandbits(128), version=4))


def _counts(rng, n, pattern):
    """n per-parent child counts cycling through `pattern`, in seeded order:
    the total is fixed by n, only the assignment varies with the seed."""
    c = [pattern[i % len(pattern)] for i in range(n)]
    rng.shuffle(c)
    return c


def generate(seed, subjects):
    """All rows of the graph, as {label: [(node_id, props, parent_id)]}."""
    rng = random.Random(seed)
    g = {label: [] for label in PROPS}
    for i in range(PROGRAMS):
        g["program"].append((_uuid(rng), {
            "name": f"prog{i}_{rng.randrange(10**6):06d}",
            "dbgap_accession_number": f"phs{rng.randrange(10**6):06d}"}, None))
    for i in range(PROJECTS):
        g["project"].append((_uuid(rng), {
            "code": f"proj{i}_{rng.randrange(10**6):06d}",
            "name": f"project {i}"}, g["program"][i % PROGRAMS][0]))
    for i in range(subjects):
        g["subject"].append((_uuid(rng), {
            "submitter_id": f"subj_{rng.randrange(16**10):010x}",
            "species": rng.choice(SPECIES),
            "age_at_enrollment": rng.randint(18, 90)},
            g["project"][rng.randrange(PROJECTS)][0]))
    for sid, _, _ in g["subject"]:
        g["demographic"].append((_uuid(rng), {
            "gender": rng.choice(GENDERS), "race": rng.choice(RACES),
            "year_of_birth": rng.randint(1930, 2005)}, sid))
    for (sid, _, _), n in zip(g["subject"], _counts(rng, subjects, [0, 1, 2, 3])):
        for _ in range(n):
            g["diagnosis"].append((_uuid(rng), _diagnosis_props(rng), sid))
    for (sid, _, _), n in zip(g["subject"], _counts(rng, subjects, [1, 2, 3, 4])):
        for _ in range(n):
            g["sample"].append((_uuid(rng), {
                "sample_type": rng.choice(SAMPLE_TYPES),
                "composition": rng.choice(COMPOSITIONS)}, sid))
    samples = g["sample"]
    for (smp, _, _), n in zip(samples, _counts(rng, len(samples), [1, 2, 3])):
        for _ in range(n):
            g["aliquot"].append((_uuid(rng), {
                "analyte_type": rng.choice(ANALYTES),
                "aliquot_volume": rng.randint(1, 500)}, smp))
    aliquots = g["aliquot"]
    for (al, _, _), n in zip(aliquots, _counts(rng, len(aliquots), [0, 1, 2])):
        for _ in range(n):
            g["submitted_file"].append((_uuid(rng), {
                "file_name": f"f_{rng.randrange(16**12):012x}.dat",
                "file_size": rng.randint(1000, 10**9),
                "data_format": rng.choice(FORMATS),
                "md5sum": f"{rng.getrandbits(128):032x}"}, al))
    return g


def _diagnosis_props(rng):
    return {"primary_diagnosis": rng.choice(DIAGNOSES),
            "age_at_diagnosis": rng.randint(1, 95),
            "tumor_grade": rng.choice(GRADES)}


def _q(s):
    return '"' + s.replace('"', '""') + '"'


def _write_table(dumps, table, lines):
    d = os.path.join(dumps, table)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, ".part-m-00000.tmp")
    with open(tmp, "w", encoding="utf-8", newline="\n") as f:
        f.write("\n".join(lines))
        f.write("\n")
    # a rename changes the directory entry, so the table's mtime moves
    os.replace(tmp, os.path.join(d, "part-m-00000"))


def _write_nodes(dumps, label, rows):
    _write_table(dumps, "node_" + label.replace("_", ""), [
        ",".join([_q(CREATED), _q("{}"), _q("{}"),
                  _q(json.dumps(props, sort_keys=True)), _q(nid)])
        for nid, props, _ in rows])


def write_dumps(dumps, g):
    for label, rows in g.items():
        _write_nodes(dumps, label, rows)
    for child, lab, parent, _, _, _ in LINKS:
        _write_table(dumps, edge_table(child, lab, parent), [
            ",".join([_q(CREATED), _q("{}"), _q("{}"), _q("{}"), _q(nid),
                      _q(pid)])
            for nid, _, pid in g[child]])


def expected(g):
    """Totals of both published indices, from the generated rows."""
    by_parent = {}
    for label in ("diagnosis", "sample", "aliquot", "submitted_file",
                  "demographic"):
        for nid, props, pid in g[label]:
            by_parent.setdefault((label, pid), []).append((nid, props))
    project_code = {nid: p["code"] for nid, p, _ in g["project"]}
    tot = dict(docs=0, diagnoses_count=0, total_age_at_diagnosis=0,
               sample_types_len=0, aliquots_count=0, total_aliquot_volume=0,
               files_count=0, total_file_size=0, nested_diagnoses_len=0,
               data_formats_len=0, joined_file_count=0)
    by_code, by_gender = {}, {}
    for sid, _, proj in g["subject"]:
        tot["docs"] += 1
        code = project_code[proj]
        by_code[code] = by_code.get(code, 0) + 1
        for _, dp in by_parent.get(("demographic", sid), []):
            by_gender[dp["gender"]] = by_gender.get(dp["gender"], 0) + 1
        diags = by_parent.get(("diagnosis", sid), [])
        tot["diagnoses_count"] += len(diags)
        tot["nested_diagnoses_len"] += len(diags)
        tot["total_age_at_diagnosis"] += sum(p["age_at_diagnosis"]
                                             for _, p in diags)
        samples = by_parent.get(("sample", sid), [])
        tot["sample_types_len"] += len({p["sample_type"] for _, p in samples})
        formats = set()
        for smp, _ in samples:
            for al, ap in by_parent.get(("aliquot", smp), []):
                tot["aliquots_count"] += 1
                tot["total_aliquot_volume"] += ap["aliquot_volume"]
                for _, fp in by_parent.get(("submitted_file", al), []):
                    tot["files_count"] += 1
                    tot["joined_file_count"] += 1
                    tot["total_file_size"] += fp["file_size"]
                    formats.add(fp["data_format"])
        tot["data_formats_len"] += len(formats)
    files = dict(docs=len(g["submitted_file"]),
                 total_file_size=sum(p["file_size"]
                                     for _, p, _ in g["submitted_file"]),
                 subject_id_len=len(g["submitted_file"]),
                 project_id_set=len(g["submitted_file"]))
    by_format = {}
    for _, p, _ in g["submitted_file"]:
        by_format[p["data_format"]] = by_format.get(p["data_format"], 0) + 1
    program_name = {nid: p["name"] for nid, p, _ in g["program"]}
    by_program = {}
    for _, _, prog in g["project"]:
        by_program[program_name[prog]] = by_program.get(program_name[prog], 0) + 1
    projects = dict(docs=len(g["project"]), subjects_count=len(g["subject"]),
                    samples_count=len(g["sample"]), by_program_name=by_program)
    return {"subject_idx": dict(tot, by_project_code=by_code,
                                by_gender=by_gender),
            "file_idx": dict(files, by_data_format=by_format),
            "project_idx": projects}


def input_stats(dumps):
    rows = size = 0
    for root, _, names in os.walk(dumps):
        for n in names:
            p = os.path.join(root, n)
            size += os.path.getsize(p)
            with open(p, "rb") as f:
                rows += sum(1 for _ in f)
    return rows, size


def write_all(out, seed, subjects):
    """Writes every input file; returns the expected totals."""
    os.makedirs(out, exist_ok=True)
    g = generate(seed, subjects)
    with open(os.path.join(out, "schema.json"), "w") as f:
        json.dump(dictionary(), f, indent=1, sort_keys=True)
    with open(os.path.join(out, "etlMapping.yaml"), "w") as f:
        f.write(MAPPING)
    write_dumps(os.path.join(out, "dumps"), g)
    exp = expected(g)
    exp["seed"], exp["subjects"] = seed, subjects
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(exp, f, indent=1, sort_keys=True)
    return exp


def variant(out, seed, subjects, k):
    """Rewrites node_diagnosis with the k-th seeded set of property values
    (same node ids) and returns the expected totals after the change."""
    g = generate(seed, subjects)
    rng = random.Random(f"{seed}/diagnosis/{k}")
    g["diagnosis"] = [(nid, _diagnosis_props(rng), pid)
                      for nid, _, pid in g["diagnosis"]]
    _write_nodes(os.path.join(out, "dumps"), "diagnosis", g["diagnosis"])
    exp = expected(g)
    exp["seed"], exp["subjects"] = seed, subjects
    return exp


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    write_all(sys.argv[1], int(sys.argv[2]),
              int(sys.argv[3]) if len(sys.argv) > 3 else 2000)
