"""Correctness checks of the program's outputs, each against a computation
made apart from the program. Every check returns a list of error strings
(empty when the output is correct), so the self-test can feed it seeded
wrong outputs and expect a rejection.
"""
import math
import os

import oracle

TOL = 1e-7          # unrounded averages; the rounding units are 0.01 and 0.1
# the ANN key (sim_ann_hnsw_exact) searches each shard exhaustively, so its
# recall against brute force is 1.0; the floor fails any lost neighbour
# beyond one in ten
ANN_RECALL_FLOOR = 0.9
ANN_COS_TOL = 1e-12


def _round_ok(raw, rounded, places):
    """Spark rounds HALF_UP; skip values within 1e-6 of a rounding tie,
    where the last bits of an unrounded average decide the side."""
    x = raw * 10 ** places
    if abs(x - math.floor(x) - 0.5) < 1e-6:
        return True
    return abs(rounded - math.floor(x + 0.5) / 10 ** places) < 1e-9


def check_answers(ans, exp_q):
    """One cycle's Q1-Q3 rows against the expected answers."""
    errs = []
    where = f"round {ans['round']} batch {ans['batch']}"
    q1 = ans["q1"]
    if sorted(r[0] for r in q1) != sorted(exp_q["q1"]):
        errs.append(f"{where} Q1: locations {len(q1)} vs {len(exp_q['q1'])}")
    for loc, raw, rounded in q1:
        e = exp_q["q1"].get(loc)
        if e is None or abs(raw - e) > TOL or not _round_ok(e, rounded, 2):
            errs.append(f"{where} Q1 {loc}: {raw} ({rounded}) vs {e}")
    if [r[2] for r in q1] != sorted((r[2] for r in q1), reverse=True):
        errs.append(f"{where} Q1: not ordered by sun_hours")
    q2 = ans["q2"]
    top = sorted(exp_q["q2"].values(), reverse=True)[:10]
    if len(q2) != len(top) or len({(r[0], r[1]) for r in q2}) != len(q2):
        errs.append(f"{where} Q2: {len(q2)} rows vs {len(top)}")
    for i, (loc, month, raw, rounded) in enumerate(q2):
        e = exp_q["q2"].get((loc, month))
        if e is None or abs(raw - e) > TOL or not _round_ok(e, rounded, 2):
            errs.append(f"{where} Q2 {loc}/{month}: {raw} vs {e}")
        elif i < len(top) and abs(raw - top[i]) > TOL:
            errs.append(f"{where} Q2 rank {i + 1}: {raw} vs {top[i]}")
    q3 = ans["q3"]
    if [r[0] for r in q3] != sorted(exp_q["q3"]):
        errs.append(f"{where} Q3: months {[r[0] for r in q3]}")
    for month, raw, rounded in q3:
        e = exp_q["q3"].get(month)
        if e is None or abs(raw - e) > TOL or not _round_ok(e, rounded, 1):
            errs.append(f"{where} Q3 month {month}: {raw} ({rounded}) vs {e}")
    return errs


def _partition_of(relpath):
    kv = dict(p.split("=", 1) for p in relpath.split("/")[:-1] if "=" in p)
    try:
        return (kv["island"], kv["location_name"], int(kv["year"]), int(kv["month"]))
    except (KeyError, ValueError):
        return None


def check_weather(w, exp, con):
    """Row counts, files outside each batch, Q1-Q3 after every batch of
    every round, and the final table against the last-writer-wins table."""
    errs = []
    if w.get("bulk_count") != exp.bulk_rows:
        errs.append(f"bulk rows {w.get('bulk_count')} vs sum |OM ∩ VC| = {exp.bulk_rows}")
    if w.get("batch_counts") != exp.batch_rows:
        errs.append(f"rows after each batch {w.get('batch_counts')} vs {exp.batch_rows}")
    for b, changed in enumerate(w.get("changed_files", [])):
        outside = [p for p in changed
                   if _partition_of(p) not in exp.batch_partitions[b]]
        if outside:
            errs.append(f"batch {b + 1} changed {len(outside)} files outside its "
                        f"partitions, e.g. {outside[0]}")
    answers = w.get("answers", [])
    n_batches = len(exp.answers)
    if not answers or len(answers) % n_batches:
        errs.append(f"{len(answers)} cycle answers for {n_batches} batches per round")
    for ans in answers:
        errs += check_answers(ans, exp.answers[ans["batch"] - 1])
    errs += check_table(w.get("final_table"), exp, con)
    return errs


def check_table(path, exp, con):
    if not path or not os.path.isdir(path):
        return [f"final table missing: {path}"]
    rows = con.execute(
        "SELECT location_name, CAST(date AS VARCHAR), island, sunshine_duration, "
        "uvindex, weather_code, temperature_2m_max, cloudcover, icon "
        f"FROM read_parquet('{path}/**/*.parquet', hive_partitioning = true)").fetchall()
    errs = []
    seen = {}
    for r in rows:
        seen[(r[0], r[1])] = seen.get((r[0], r[1]), 0) + 1
    dups = [k for k, n in seen.items() if n > 1]
    if dups:
        errs.append(f"{len(dups)} (location_name, date) keys appear twice, e.g. {dups[0]}")
    if len(rows) != len(exp.table):
        errs.append(f"final table rows {len(rows)} vs {len(exp.table)}")
    fields = ("island", "sunshine_duration", "uvindex", "weather_code",
              "temperature_2m_max", "cloudcover", "icon")
    bad = 0
    for r in rows:
        e = exp.table.get((r[0], _date(r[1])))
        if e is None or tuple(r[2:]) != tuple(e[f] for f in fields):
            bad += 1
    if bad:
        errs.append(f"{bad} final-table rows differ from the last-writer-wins table")
    return errs


def _date(s):
    import datetime
    return datetime.date.fromisoformat(s)


def _diff_rows(con, got_sql, want_sql):
    """Rows in one result and not the other (multiset), compared by
    column name; None when the column names differ."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE got AS {got_sql}")
    con.execute(f"CREATE OR REPLACE TEMP TABLE want AS {want_sql}")
    cols = [sorted(d[0] for d in con.execute(f"SELECT * FROM {t} LIMIT 0").description)
            for t in ("got", "want")]
    if cols[0] != cols[1]:
        return None, cols
    sel = ", ".join('"' + c.replace('"', '""') + '"' for c in cols[0])
    n = con.execute(f"""SELECT count(*) FROM (
        (SELECT {sel} FROM got EXCEPT ALL SELECT {sel} FROM want)
        UNION ALL (SELECT {sel} FROM want EXCEPT ALL SELECT {sel} FROM got))""").fetchone()[0]
    return n, cols


def check_keys(outputs, sqls, sf_dir, con, live_cache):
    """Each saved key result against its DuckDB oracle answer: live for
    most keys, a cached digest for the slow oracles (CACHED_KEYS)."""
    errs = []
    for key, sql in sorted(sqls.items()):
        out = outputs.get(key)
        if out is None or not os.path.isdir(out):
            errs.append(f"{key}: no output")
            continue
        if sql is None:
            errs.append(f"{key}: no oracle SQL")
            continue
        got_sql = f"SELECT * FROM read_parquet('{out}/*.parquet')"
        if key in oracle.CACHED_KEYS:
            got = oracle.summary(*oracle.answer(con, got_sql))
            want = oracle.cached_answer(con, key, sql, sf_dir, live_cache)
            for f in ("columns", "rows", "digest"):
                if got[f] != want[f]:
                    errs.append(f"{key}: {f} {str(got[f])[:80]} vs oracle {str(want[f])[:80]}")
                    break
            continue
        n, cols = _diff_rows(con, got_sql, oracle.rewrite(sql, sf_dir))
        if n is None:
            errs.append(f"{key}: columns {cols[0]} vs oracle {cols[1]}")
        elif n:
            errs.append(f"{key}: {n} rows differ from the oracle's")
    return errs


def check_ann(out, con, sf_dir, k=10):
    """ANN top-k rows (qid, rn, cid, cos): every score must equal the
    cosine numpy computes from the milli-grid vectors, and recall against
    a brute-force top-k must reach ANN_RECALL_FLOOR."""
    import numpy as np
    emb = con.execute(f"SELECT vec_id, embedding FROM read_parquet('{sf_dir}/embeddings.parquet') "
                      "ORDER BY vec_id").fetchall()
    ids = np.array([r[0] for r in emb])
    vecs = np.floor(np.array([r[1] for r in emb], dtype=np.float64) * 1000)
    pos = {int(v): i for i, v in enumerate(ids)}
    norms = np.sqrt((vecs * vecs).sum(axis=1))
    rows = con.execute(f"SELECT qid, rn, cid, cos FROM read_parquet('{out}/*.parquet') "
                       "ORDER BY qid, rn").fetchall()
    errs = []
    by_q = {}
    for qid, rn, cid, cos in rows:
        by_q.setdefault(qid, []).append(cid)
        qi, ci = pos.get(qid), pos.get(cid)
        if qi is None or ci is None:
            errs.append(f"ANN: unknown id in ({qid}, {cid})")
            continue
        want = float(vecs[qi] @ vecs[ci]) / (norms[qi] * norms[ci])
        if abs(cos - want) > ANN_COS_TOL:
            errs.append(f"ANN: cos({qid}, {cid}) = {cos} vs numpy {want}")
    recalls = []
    for qid, cids in by_q.items():
        sims = (vecs @ vecs[pos[qid]]) / (norms * norms[pos[qid]])
        truth = set(int(ids[i]) for i in np.lexsort((ids, -sims))[:k])
        recalls.append(len(truth & set(cids)) / k)
    recall = sum(recalls) / len(recalls) if recalls else 0.0
    if recall < ANN_RECALL_FLOOR:
        errs.append(f"ANN: recall@{k} {recall:.3f} below floor {ANN_RECALL_FLOOR}")
    return errs
