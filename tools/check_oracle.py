#!/usr/bin/env python3
"""Local pre-flight for the driver's DuckDB-oracle correctness gate.

Runs each oracle_sql.json query in DuckDB over /root/testdata/<sf>/ tables,
loads the matching Spark parquet output from graft.Verify, and compares:
schema (column names), row count, and values (rows sorted, columns sorted by
name — per the driver contract). Exact match required; doubles compared
bit-exactly after canonical repr, so any fp divergence shows up here first.
With SPARK_GRAFT_ONLY set (the comma-separated entry filter graft.Verify
reads), only those entries are checked; a filtered entry with no oracle
prints NOORACLE with its dump's row count, or FAIL when it has no dump.

Dev tool only — NOT part of the shipped Spark library.
"""
import json, math, os, sys
import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return repr(v)

def only_names():
    """The SPARK_GRAFT_ONLY entry names, or None when the filter is unset."""
    only = os.environ.get("SPARK_GRAFT_ONLY")
    return None if only is None else set(only.split(","))

def load_oracle(outdir):
    """oracle_sql.json, narrowed to the SPARK_GRAFT_ONLY entries when that
    comma-separated filter is set — the subset graft.Verify dumped."""
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    names = only_names()
    if names is None:
        return oracle
    return {n: sql for n, sql in oracle.items() if n in names}

def main(outdir, sfdir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracle = load_oracle(outdir)
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        try:
            want = con.execute(sql).fetch_arrow_table()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_bad += 1
            continue
        try:
            got = con.execute(
                f"SELECT * FROM '{outdir}/{name}/*.parquet'").fetch_arrow_table()
        except Exception as e:
            print(f"FAIL {name}: spark output missing: {e}")
            n_bad += 1
            continue
        wcols, gcols = sorted(want.column_names), sorted(got.column_names)
        if wcols != gcols:
            print(f"FAIL {name}: schema mismatch duckdb={wcols} spark={gcols}")
            n_bad += 1
            continue
        wrows = sorted(tuple(canon(r[c]) for c in wcols) for r in want.to_pylist())
        grows = sorted(tuple(canon(r[c]) for c in gcols) for r in got.to_pylist())
        if len(wrows) != len(grows):
            print(f"FAIL {name}: rowcount duckdb={len(wrows)} spark={len(grows)}")
            n_bad += 1
            continue
        diffs = [(i, w, g) for i, (w, g) in enumerate(zip(wrows, grows)) if w != g]
        if diffs:
            i, w, g = diffs[0]
            print(f"FAIL {name}: {len(diffs)}/{len(wrows)} rows differ; first at {i}:")
            print(f"  cols:   {wcols}")
            print(f"  duckdb: {w}")
            print(f"  spark:  {g}")
            n_bad += 1
        else:
            print(f"OK   {name} ({len(wrows)} rows)")
            n_ok += 1
    # filtered entries without an oracle: graft.Verify still dumps them, so
    # a missing dump means the entry threw
    for name in sorted((only_names() or set()) - set(oracle)):
        try:
            n = con.execute(
                f"SELECT count(*) FROM '{outdir}/{name}/*.parquet'").fetchone()[0]
            print(f"NOORACLE {name} ({n} rows)")
        except Exception as e:
            print(f"FAIL {name}: spark output missing: {e}")
            n_bad += 1
    print(f"\n{n_ok} ok, {n_bad} failed")
    return 1 if n_bad else 0

def parse_only(outdir, sfdir):
    """Pre-flight gate: EXPLAIN every oracle SQL in DuckDB (plans without
    executing) so a typo'd oracle fails here, not as a round-end err row.
    Pairs with `sbt "runMain graft.Verify --dry-oracle <outdir>"`, which
    dumps oracle_sql.json in seconds without running any query."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracle = load_oracle(outdir)
    n_bad = 0
    for name, sql in sorted(oracle.items()):
        try:
            con.execute("EXPLAIN " + sql)
        except Exception as e:
            print(f"FAIL {name}: {str(e).splitlines()[0]}")
            n_bad += 1
    print(f"\nparse-only: {len(oracle) - n_bad} ok, {n_bad} failed")
    return 1 if n_bad else 0

if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if a != "--parse-only"]
    out = args[0] if len(args) > 0 else "/tmp/verify_out"
    sf = args[1] if len(args) > 1 else "/root/testdata/sf0.01"
    if "--parse-only" in sys.argv:
        sys.exit(parse_only(out, sf))
    sys.exit(main(out, sf))
