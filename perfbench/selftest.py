#!/usr/bin/env python3
"""Self-test of the benchmark (takes a few minutes).

    python3 perfbench/selftest.py

Run from the repository root. For each workload (catalog_sql included)
it runs run.py at the tiny scale, untraced and traced, and asserts that
the last line is a result that is correct, has no failed operation, and
carries every BENCHMARK.json metric of its mode, each end-to-end metric
above 0. It then shows that each correctness check rejects a seeded wrong
output:

  * weather_etl: a dropped row and an upserted key left in the table
    twice (final-table check), one aggregate off by a unit (Q1 check);
  * catalog_sql / corpus_pipeline: a dropped row (oracle digest check),
    one ANN neighbour swapped (numpy cosine check).
"""
import copy
import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import weather  # noqa: E402


def bench(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--scale", "tiny", "--keep"]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    res, host = json.loads(lines[-1]), json.loads(lines[-2])["host"]
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1, \
        (res, out.stderr[-3000:])
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    want = spec["per_layer" if trace else "end_to_end"]
    for m in want:
        got = res["metrics"].get(m["name"])
        assert got is not None and got["unit"] == m["unit"], (m, got)
        assert isinstance(got["value"], (int, float)), (m["name"], got)
        if not trace:
            assert got["value"] > 0, (m["name"], got)
    extra = set(res["metrics"]) - {m["name"] for m in want}
    assert extra == ({n for n, _ in run.CATALOG_LAYER} if trace and workload == "catalog_sql"
                     else set()), extra
    return res, host["work"]


def rejects(errs, what):
    assert errs, f"the check accepted {what}"
    print(f"  rejected {what}: {errs[0]}")


def weather_mutations(work):
    exp, _ = weather.generate(os.path.join(work, "regen"), 7, "tiny")
    res = json.load(open(os.path.join(work, "result.json")))["workload"]
    con = oracle.connect(work)
    assert checks.check_weather(res, exp, con) == [], checks.check_weather(res, exp, con)
    table = res["final_table"]
    files = sorted(glob.glob(f"{table}/**/*.parquet", recursive=True))
    victim = files[0]
    part = os.path.relpath(os.path.dirname(victim), table)

    def rewritten(sql_over_victim):
        mut = os.path.join(work, "mut_table")
        subprocess.run(["rm", "-rf", mut], check=True)
        subprocess.run(["cp", "-r", table, mut], check=True)
        tgt = os.path.join(mut, part, os.path.basename(victim))
        con.execute(f"COPY ({sql_over_victim.format(f=victim)}) TO '{tgt}' (FORMAT parquet)")
        return mut

    dropped = rewritten("SELECT * FROM read_parquet('{f}') OFFSET 1")
    rejects(checks.check_table(dropped, exp, con), "a dropped row")
    doubled = rewritten("SELECT * FROM read_parquet('{f}') UNION ALL "
                        "(SELECT * FROM read_parquet('{f}') LIMIT 1)")
    rejects(checks.check_table(doubled, exp, con), "an upserted key left twice")
    bad = copy.deepcopy(res)
    bad["answers"][0]["q1"][0][1] += 1.0
    bad["answers"][0]["q1"][0][2] += 1.0
    rejects(checks.check_weather(bad, exp, con), "one aggregate off by a unit")


def key_mutations(work, sf):
    res = json.load(open(os.path.join(work, "result.json")))["workload"]
    con = oracle.connect(sf)
    sqls = res["oracle_sql"]
    live = os.path.join(work, "oracle_cache")
    key = sorted(res["outputs"])[0]
    src = res["outputs"][key]
    assert checks.check_keys({key: src}, {key: sqls[key]}, sf, con, live) == []
    mut = os.path.join(work, "mut_" + key)
    os.makedirs(mut, exist_ok=True)
    con.execute(f"COPY (SELECT * FROM read_parquet('{src}/*.parquet') OFFSET 1) "
                f"TO '{mut}/part.parquet' (FORMAT parquet)")
    rejects(checks.check_keys({key: mut}, {key: sqls[key]}, sf, con, live),
            f"a dropped row ({key})")
    return res, con


def ann_mutation(res, con, sf):
    src = res["outputs"][run.ANN_KEY]
    assert checks.check_ann(src, con, sf) == []
    mut = os.path.join(os.path.dirname(src), "mut_ann")
    os.makedirs(mut, exist_ok=True)
    # replace the rank-2 neighbour of the first query by an id that is
    # not among its results, keeping the reported score
    con.execute(f"""COPY (
        WITH r AS (SELECT * FROM read_parquet('{src}/*.parquet')),
        q AS (SELECT min(qid) AS qid FROM r),
        other AS (SELECT max(vec_id) AS cid FROM read_parquet('{sf}/embeddings.parquet')
                  WHERE vec_id NOT IN (SELECT cid FROM r, q WHERE r.qid = q.qid))
        SELECT r.qid, r.rn,
               CASE WHEN r.qid = q.qid AND r.rn = 2 THEN other.cid ELSE r.cid END AS cid,
               r.cos
        FROM r, q, other) TO '{mut}/part.parquet' (FORMAT parquet)""")
    rejects(checks.check_ann(mut, con, sf), "one ANN neighbour swapped")


def main():
    for trace in (0, 1):
        for w in run.WORKLOADS:
            res, work = bench(w, trace)
            print(f"[selftest] {w} trace={trace}: attempted {res['attempted']}, "
                  f"{len(res['metrics'])} metrics")
            if trace == 0:
                if w == "weather_etl":
                    weather_mutations(work)
                elif w == "catalog_sql":
                    key_mutations(work, run.data_dir("tiny"))
                else:
                    sf = run.data_dir("tiny")
                    r, con = key_mutations(work, sf)
                    ann_mutation(r, con, sf)
            subprocess.run(["rm", "-rf", work], check=True)
    print("[selftest] ok")


if __name__ == "__main__":
    main()
