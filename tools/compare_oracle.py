#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness gate.

Usage: python3 tools/compare_oracle.py <sfDir> <verifyOutDir>

For each query key: read the Spark result parquet from <verifyOutDir>/<key>,
run the oracle SQL from oracle_sql.json in DuckDB against the parquet tables
in <sfDir>, sort columns by name, and compare row counts + values
bit-exactly (the real driver hash-compares, so nothing less suffices).

Also compares DECLARED column types (DESCRIBE both sides, normalized):
the driver's hash is type-sensitive, so e.g. a Spark DECIMAL(31,6) vs a
DuckDB DECIMAL(30,6) fails the driver even when every value matches —
pandas-based value comparison alone is blind to that class (this exact
gap shipped search_tfidf_keywords "green" locally in round 8 while the
driver failed it).
"""
import sys, json, glob, os, re
import duckdb

# Normalizations for declared-type comparison: differences a parquet
# round-trip introduces that the driver's hash does NOT flag (timestamps
# are ns-normalized on the Spark side by design). Decimal widths stay
# STRICT — that's the failure class this check exists for.
def norm_type(t):
    t = t.upper()
    t = re.sub(r"TIMESTAMP_NS|TIMESTAMP WITH TIME ZONE|TIMESTAMPTZ",
               "TIMESTAMP", t)
    return t

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for p in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.basename(p).replace(".parquet", "")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for key in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, key)
        if not os.path.isdir(d):
            continue
        spark_df = con.execute(
            f"SELECT * FROM read_parquet('{d}/*.parquet')").fetchdf()
        if key not in oracle:
            print(f"  [rows-only] {key}: {len(spark_df)} rows")
            continue
        # a failing oracle (e.g. a staged artifact it reads is missing)
        # fails its own key; the other keys are still compared
        try:
            duck_df = con.execute(oracle[key]).fetchdf()
            spark_types = {
                r[0]: norm_type(r[1]) for r in con.execute(
                    f"DESCRIBE SELECT * FROM read_parquet('{d}/*.parquet')"
                ).fetchall()}
            duck_types = {
                r[0]: norm_type(r[1])
                for r in con.execute(f"DESCRIBE {oracle[key]}").fetchall()}
        except duckdb.Error as e:
            n_fail += 1
            print(f"  [FAIL] {key}: oracle error: {e}")
            continue
        spark_df = spark_df[sorted(spark_df.columns)]
        duck_df = duck_df[sorted(duck_df.columns)]
        ok = True
        msgs = []
        if list(spark_df.columns) != list(duck_df.columns):
            ok = False
            msgs.append(f"columns {list(spark_df.columns)} vs {list(duck_df.columns)}")
        elif spark_types != duck_types:
            diffs = [f"{c}: {spark_types.get(c)} vs {duck_types.get(c)}"
                     for c in sorted(set(spark_types) | set(duck_types))
                     if spark_types.get(c) != duck_types.get(c)]
            ok = False
            msgs.append("declared types differ — " + "; ".join(diffs))
        elif len(spark_df) != len(duck_df):
            ok = False
            msgs.append(f"rows {len(spark_df)} vs {len(duck_df)}")
        else:
            for c in spark_df.columns:
                a, b = spark_df[c], duck_df[c]
                try:
                    same = (a.astype(object).where(a.notna(), None).tolist()
                            == b.astype(object).where(b.notna(), None).tolist())
                except Exception as e:
                    same = False
                    msgs.append(f"col {c} compare error: {e}")
                if not same:
                    ok = False
                    # show first diff
                    import itertools
                    la = a.tolist(); lb = b.tolist()
                    for i, (x, y) in enumerate(zip(la, lb)):
                        if x != y and not (x is None and y is None):
                            msgs.append(f"col {c} first diff at row {i}: {x!r} vs {y!r}")
                            break
                    else:
                        msgs.append(f"col {c} differs (dtype? {a.dtype} vs {b.dtype})")
        if ok:
            n_pass += 1
            print(f"  [PASS] {key} ({len(spark_df)} rows)")
        else:
            n_fail += 1
            print(f"  [FAIL] {key}: {'; '.join(msgs)}")
    print(f"{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
