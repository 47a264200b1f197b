"""Self-test of the benchmark's checks: each must pass on real output and
fail when one expected value is tampered with.

    python3 perfbench/selftest.py

Runs one small RunEtl publish, one small CDC publish and one small suite
pass (about two minutes on 4 cores), then replays every check with each
expected value altered in turn. Also confirms that an unknown query
name and an unknown workload are rejected before any work. Exits 1 if any
check fails to fail.
"""
import copy
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen3gen  # noqa: E402
import run  # noqa: E402
import tpcgen  # noqa: E402

RESULTS = []


def expect(name, ok):
    RESULTS.append(ok)
    print(f"{'PASS' if ok else 'FAIL'}  {name}", flush=True)


def tampered(expected):
    """Every copy of `expected` with one value changed."""
    for idx, totals in expected.items():
        if not isinstance(totals, dict):
            continue
        for key, value in totals.items():
            t = copy.deepcopy(expected)
            if isinstance(value, dict):
                k = next(iter(value))
                t[idx][key][k] = value[k] + 1
            else:
                t[idx][key] = value + 1
            yield f"{idx}.{key}", t


def etl(cp):
    work = run.fresh(os.path.join(run.WORK, "selftest_etl"))
    inputs, out = os.path.join(work, "in"), os.path.join(work, "out")
    expected = gen3gen.write_all(inputs, 3, 300)
    rc = run.etl_pass(cp, inputs, out, "graft.RunEtl", [],
                      os.path.join(work, "etl.log"), {})
    expect("RunEtl publishes", rc == 0)
    expect("etl check passes on real output",
           checks.etl_problems(out, expected) == [])
    for name, t in tampered(expected):
        expect(f"etl check fails on tampered {name}",
               checks.etl_problems(out, t) != [])
    before = checks.aliases(out)
    time.sleep(0.05)
    changed = gen3gen.variant(inputs, 3, 300, 1)
    rc = run.etl_pass(cp, inputs, out, "graft.RunEtl", ["--cdc", "--backup"],
                      os.path.join(work, "cdc.log"), {})
    expect("CDC publish runs", rc == 0)
    expect("cdc check passes on real output",
           checks.cdc_problems(before, out, changed) == [])
    expect("cdc check fails against the pre-change totals",
           checks.cdc_problems(before, out, expected) != [])
    # project_idx as if it had moved; subject_idx as if it had not
    after = checks.aliases(out)
    for alias, version in (("project_idx", ["project_idx_9"]),
                           ("subject_idx", after["subject_idx"])):
        b = dict(before, **{alias: version})
        expect(f"cdc check fails on tampered {alias} version",
               checks.cdc_problems(b, out, changed) != [])
    shutil.rmtree(work)


def suite(cp):
    work = run.fresh(os.path.join(run.WORK, "selftest_suite"))
    data, out = os.path.join(work, "data"), os.path.join(work, "out")
    os.makedirs(data)
    tpcgen.generate(data, 3, 0.2)
    res = os.path.join(work, "r.json")
    queries = run.SUITES["suite_iterative"]

    def harness(names, result):
        return run.run_child(run.java_cmd(cp, "graftbench.Main", [
            "suite", f"--data={data}", f"--out={out}", f"--queries={names}",
            "--seed=3", "--trace=0", f"--result={result}"]), cwd=work,
            log_path=os.path.join(work, "suite.log"), timeout=170,
            env=run.java_env())

    expect("suite harness runs", harness(",".join(queries), res) == 0)
    diffcheck = os.path.join(run.ROOT, "tools", "diffcheck.py")
    expect("oracle check passes on real output",
           checks.oracle_problems(out, data, diffcheck, work) == [])
    oracle = os.path.join(out, "oracle_sql.json")
    with open(oracle) as f:
        sql = json.load(f)

    def tampered_oracle(name, q, tampered_sql):
        with open(oracle, "w") as f:
            json.dump(dict(sql, **{q: tampered_sql}), f)
        expect(f"oracle check fails on {name}",
               checks.oracle_problems(out, data, diffcheck, work) != [])

    # one expected value changes: the rank of the lowest node id, plus one
    tampered_oracle(
        "a tampered graph_pagerank value", "graph_pagerank",
        "SELECT * EXCLUDE (rn) REPLACE (CASE WHEN rn = 1 THEN rank_u12 + 1 "
        "ELSE rank_u12 END AS rank_u12) FROM (SELECT *, row_number() OVER "
        f"(ORDER BY node) AS rn FROM ({sql['graph_pagerank']}) o) t")
    for q in queries:
        tampered_oracle(f"one {q} row dropped", q,
                        f"SELECT * FROM ({sql[q]}) o OFFSET 1")
    rc = harness(f"{queries[0]},no_such_query", res + ".x")
    expect("unknown query name is rejected at start",
           rc == 2 and not os.path.exists(res + ".x"))
    shutil.rmtree(work)


def workload_name():
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", "no_such_workload", "--seed", "1",
                        "--seconds", "1"], capture_output=True, text=True)
    expect("unknown workload is rejected", p.returncode == 2 and not p.stdout)


if __name__ == "__main__":
    cp, _ = run.build()
    workload_name()
    etl(cp)
    suite(cp)
    print(f"self-test: {sum(RESULTS)}/{len(RESULTS)} passed")
    sys.exit(0 if all(RESULTS) else 1)
