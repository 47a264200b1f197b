"""Output checks of the benchmark, kept apart from the timers.

ETL: every published document set is compared against the totals the
generator computed from its own rows (gen3gen.expected). Suites: every
pass's query results are compared against their DuckDB oracles through the
repository's tools/diffcheck.py.

Each check returns a list of problems; an empty list is a pass.
"""
import os
import re
import subprocess
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq


def aliases(out):
    """alias -> [index] from the filesystem sink's alias file."""
    path = os.path.join(out, "_aliases.properties")
    if not os.path.exists(path):
        return {}
    m = {}
    with open(path) as f:
        for line in f:
            if "=" in line:
                k, v = line.rstrip("\n").split("=", 1)
                m[k] = [x for x in v.split(",") if x]
    return m


def _sum(table, column):
    v = pc.sum(table.column(column)).as_py()
    return 0 if v is None else v


def _len_sum(table, column):
    v = pc.sum(pc.list_value_length(table.column(column))).as_py()
    return 0 if v is None else v


def _counts(table, column):
    c = table.column(column)
    if hasattr(c.type, "value_type"):  # a set-valued prop: count its elements
        c = pc.list_flatten(c)
    vc = pc.value_counts(c)
    return {r["values"]: r["counts"] for r in vc.to_pylist()
            if r["values"] is not None}


INDICES = ("subject_idx", "file_idx", "project_idx")


def observed(out):
    """The totals of the live indices under a sink directory, in the shape
    of gen3gen.expected."""
    live = aliases(out)
    got = {}
    for alias in INDICES:
        if not live.get(alias):
            continue
        t = pq.read_table(os.path.join(out, live[alias][0], "docs"))
        if alias == "subject_idx":
            got[alias] = dict(
                docs=t.num_rows,
                diagnoses_count=_sum(t, "_diagnoses_count"),
                total_age_at_diagnosis=_sum(t, "total_age_at_diagnosis"),
                sample_types_len=_len_sum(t, "sample_types"),
                aliquots_count=_sum(t, "_aliquots_count"),
                total_aliquot_volume=_sum(t, "total_aliquot_volume"),
                files_count=_sum(t, "_files_count"),
                total_file_size=_sum(t, "total_file_size"),
                nested_diagnoses_len=_len_sum(t, "diagnoses"),
                data_formats_len=_len_sum(t, "data_formats"),
                joined_file_count=_sum(t, "joined_file_count"),
                by_project_code=_counts(t, "project_code"),
                by_gender=_counts(t, "gender"))
        elif alias == "project_idx":
            got[alias] = dict(
                docs=t.num_rows,
                subjects_count=_sum(t, "_subjects_count"),
                samples_count=_sum(t, "_samples_count"),
                by_program_name=_counts(t, "program_name"))
        else:
            got[alias] = dict(
                docs=t.num_rows,
                total_file_size=_sum(t, "file_size"),
                subject_id_len=_len_sum(t, "_subject_id"),
                project_id_set=t.num_rows - t.column("project_id").null_count,
                by_data_format=_counts(t, "data_format"))
    return got


def etl_problems(out, expected, indices=INDICES):
    """Compares the live documents of `indices` against `expected`."""
    try:
        got = observed(out)
    except Exception as e:  # an unreadable sink is a failed check
        return [f"cannot read published documents: {e!r}"]
    problems = []
    for alias in indices:
        if alias not in got:
            problems.append(f"{alias}: no live index")
            continue
        for key, want in expected[alias].items():
            have = got[alias].get(key)
            if have != want:
                problems.append(f"{alias}.{key}: expected {want!r}, got {have!r}")
    return problems


def published_bytes(out):
    """Bytes under the live index directories."""
    total = 0
    for targets in aliases(out).values():
        for idx in targets:
            d = os.path.join(out, idx)
            if not os.path.isdir(d) or idx.startswith("time_"):
                continue
            for root, _, names in os.walk(d):
                total += sum(os.path.getsize(os.path.join(root, n))
                             for n in names)
    return total


def cdc_problems(before, after, expected):
    """A CDC pass over a changed node_diagnosis must re-publish the indices
    that depend on it (subject_idx, and file_idx: a collector depends on
    every table), back up their outgoing versions, and keep project_idx's
    live version. `before` is the alias map read before the pass, `after`
    the sink directory."""
    b = aliases(after)
    problems = []
    if b.get("project_idx") != before.get("project_idx"):
        problems.append(f"project_idx changed: {before.get('project_idx')} "
                        f"-> {b.get('project_idx')}")
    for alias in ("subject_idx", "file_idx"):
        if b.get(alias) == before.get(alias):
            problems.append(f"{alias} was not re-published")
        if b.get(f"{alias}_backup") is None:
            problems.append(f"no {alias}_backup index")
    return problems + etl_problems(after, expected)


def oracle_problems(check_out, data_dir, diffcheck, cwd):
    """Runs diffcheck.py over the check pass's parquet output; every query
    must be oracle-checked and match."""
    p = subprocess.run([sys.executable, diffcheck, check_out, data_dir],
                       cwd=cwd, capture_output=True, text=True, timeout=170)
    problems = []
    if p.returncode != 0:
        problems.append(f"diffcheck exit {p.returncode}: {p.stderr[-500:]}")
    for line in p.stdout.splitlines():
        m = re.match(r"^(\S+)\s+(FAIL|rows-only)", line)
        if m:
            problems.append(f"oracle: {line.strip()}")
    if "FAILED: none" not in p.stdout:
        problems.append("oracle: diffcheck did not report FAILED: none")
    return problems
