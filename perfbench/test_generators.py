"""Determinism test of the benchmark's input generators.

    python3 perfbench/test_generators.py

The same seed must give byte-identical Gen3 dumps and expected-totals
manifest; another seed must give different ids with the same row counts and
about the same bytes. The suite-table generator must give identical tables
for one seed and different values at the same size for another.
"""
import filecmp
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen3gen  # noqa: E402
import tpcgen  # noqa: E402


def files(d):
    return sorted(os.path.relpath(os.path.join(r, n), d)
                  for r, _, ns in os.walk(d) for n in ns)


def line_counts(d):
    out = {}
    for f in files(d):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = sum(1 for _ in fh)
    return out


def node_ids(d, table):
    with open(os.path.join(d, "dumps", table, "part-m-00000")) as f:
        return {line.rstrip("\n").rsplit(",", 1)[1] for line in f}


def test_gen3(tmp):
    a, b, c = (os.path.join(tmp, x) for x in "abc")
    gen3gen.write_all(a, 5, 300)
    gen3gen.write_all(b, 5, 300)
    gen3gen.write_all(c, 6, 300)
    assert files(a) == files(b) == files(c)
    _, mismatch, errors = filecmp.cmpfiles(a, b, files(a), shallow=False)
    assert not mismatch and not errors, f"same seed differs: {mismatch}"
    for table in ("node_subject", "node_submittedfile"):
        assert not node_ids(a, table) & node_ids(c, table), \
            f"{table}: another seed reuses ids"
    counts_a = {k: v for k, v in line_counts(a).items() if "dumps" in k}
    counts_c = {k: v for k, v in line_counts(c).items() if "dumps" in k}
    assert counts_a == counts_c, "another seed changes row counts"
    size_a, size_c = (gen3gen.input_stats(os.path.join(x, "dumps"))[1]
                      for x in (a, c))
    assert abs(size_a - size_c) / size_a < 0.02, (size_a, size_c)
    # a CDC variant keeps rows and ids and changes values
    before = node_ids(a, "node_diagnosis")
    exp = gen3gen.variant(a, 5, 300, 1)
    assert node_ids(a, "node_diagnosis") == before
    assert exp["subject_idx"]["diagnoses_count"] == len(before)


def test_tpc(tmp):
    import pyarrow.parquet as pq
    a, b, c = (os.path.join(tmp, x) for x in ("ta", "tb", "tc"))
    for d, seed in ((a, 5), (b, 5), (c, 6)):
        os.makedirs(d)
        tpcgen.generate(d, seed, 0.2)
    for f in files(a):
        ta, tb, tc = (pq.read_table(os.path.join(d, f)) for d in (a, b, c))
        assert ta.equals(tb), f"{f}: same seed differs"
        assert ta.num_rows == tc.num_rows, f"{f}: another seed changes size"
        if f not in ("region.parquet", "nation.parquet"):
            assert not ta.equals(tc), f"{f}: another seed gives the same table"


if __name__ == "__main__":
    tmp = tempfile.mkdtemp(prefix="perfbench-gen-",
                           dir=os.path.join(os.getcwd()))
    try:
        test_gen3(tmp)
        test_tpc(tmp)
    finally:
        shutil.rmtree(tmp)
    print("generator determinism: PASS")
