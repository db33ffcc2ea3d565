#!/usr/bin/env python3
"""DuckDB oracle answers for catalog keys, with a cache for the slow ones.

The oracle SQL is the catalog's own (SparkEntry.oracleSql), run by
DuckDB over the same parquet tables the program reads. Two rewrites make
it runnable at any scale:

  * the tables are views named after the parquet files in the data dir;
  * staged-artifact paths hard-coded to the sf0.01 staging dir
    (/tmp/graft_stage/_root_testdata_sf0.01/...) point at the staging
    dir of the data dir in use.

Results are compared as digests of canonical rows (sorted columns,
sorted rows), so a cached answer is one line of JSON. A cache entry is
keyed by the sha256 of the rewritten SQL (staging dir replaced by a
placeholder) and of every input file it reads. Committed entries live in
perfbench/oracle_cache/; misses are computed live and kept under the
build dir.

    python3 perfbench/oracle.py rebuild [--sf DIR]

rebuilds the committed entries for the cached keys (CACHED_KEYS) over
the test tables of the full scale.
"""
import datetime
import decimal
import glob
import hashlib
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
COMMITTED = os.path.join(HERE, "oracle_cache")
# keys whose oracle takes long enough to be worth caching
CACHED_KEYS = ("corpus_prep_e2e",)
STAGE_LITERAL = "/tmp/graft_stage/_root_testdata_sf0.01/"


def stage_dir(sf_dir):
    """Where the program stages artifacts for a data dir (CatalogShared.staged)."""
    return "/tmp/graft_stage/" + re.sub(r"[^A-Za-z0-9._-]", "_", sf_dir)


def rewrite(sql, sf_dir):
    return sql.replace(STAGE_LITERAL, stage_dir(sf_dir) + "/")


def connect(sf_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return format(v.normalize(), "f") if v == v else "NaN"
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{canon(k)}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def answer(con, sql):
    """(sorted column names, canonical rows sorted) of a query."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted("\x01".join(canon(r[i]) for i in order) for r in cur.fetchall())
    return [cols[i] for i in order], rows


def summary(cols, rows):
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode() + b"\n")
    return {"columns": cols, "rows": len(rows), "digest": h.hexdigest()}


def _file_sha(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def cache_key(sql, sf_dir):
    """sha256 over the SQL (staging path as a placeholder) and the bytes of
    every input it names: data tables and staged artifact files."""
    h = hashlib.sha256(sql.replace(STAGE_LITERAL, "{stage}/").encode())
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        if re.search(r"\b" + re.escape(name) + r"\b", sql):
            h.update(name.encode() + _file_sha(p).encode())
    for art in sorted(set(re.findall(re.escape(STAGE_LITERAL) + r"([A-Za-z0-9_]+)", sql))):
        for p in sorted(glob.glob(os.path.join(stage_dir(sf_dir), art, "*"))):
            if not os.path.basename(p).startswith((".", "_")):
                h.update(art.encode() + _file_sha(p).encode())
    return h.hexdigest()


def _entry_path(base, key):
    return os.path.join(base, key + ".json")


def cached_answer(con, key, sql, sf_dir, live_dir):
    """Oracle summary for `key`, from a cache entry when its inputs match."""
    ck = cache_key(sql, sf_dir)
    for base in (COMMITTED, live_dir):
        p = _entry_path(base, key)
        if os.path.exists(p):
            with open(p) as f:
                e = json.load(f)
            if e.get("cache_key") == ck:
                return e
    e = dict(summary(*answer(con, rewrite(sql, sf_dir))), key=key, cache_key=ck)
    os.makedirs(live_dir, exist_ok=True)
    with open(_entry_path(live_dir, key), "w") as f:
        json.dump(e, f, indent=1)
    return e


def rebuild(sf_dir):
    import build
    import run
    cp = build.build()
    sqls = run.oracle_sqls(cp, CACHED_KEYS, build.build_dir())
    con = connect(sf_dir)
    os.makedirs(COMMITTED, exist_ok=True)
    for key in CACHED_KEYS:
        e = dict(summary(*answer(con, rewrite(sqls[key], sf_dir))),
                 key=key, cache_key=cache_key(sqls[key], sf_dir))
        with open(_entry_path(COMMITTED, key), "w") as f:
            json.dump(e, f, indent=1)
            f.write("\n")
        print(f"[oracle] {key}: {e['rows']} rows, digest {e['digest'][:12]}")


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    if len(sys.argv) < 2 or sys.argv[1] != "rebuild":
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    import run
    sf = (sys.argv[sys.argv.index("--sf") + 1] if "--sf" in sys.argv
          else run.data_dir("full"))
    rebuild(sf)
