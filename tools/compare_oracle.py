#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL in
DuckDB against the same parquet tables and compare (rows, schema names,
value hash) with the Spark result parquet written by graft.Verify.

Usage: python3 tools/compare_oracle.py <sfDir> <verifyOutDir> [resultsJson]

With a third argument, also writes per-query results in the driver's
CORRECTNESS shape (rows_match/schema_match/hash_match/...) to that path —
the committable artifact backing "all green" claims.

Every oracle in oracle_sql.json is a check: an oracle whose query left no
output dir (or an empty one) counts as NO-OUTPUT, a failure.
"""
import sys, os, json, glob, duckdb, hashlib

sf, out = sys.argv[1], sys.argv[2]
results_path = sys.argv[3] if len(sys.argv) > 3 else None
results = {}
con = duckdb.connect()
for t in ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

oracles = json.load(open(f"{out}/oracle_sql.json"))
fails = 0
dirs = {d.rstrip("/").split("/")[-1] for d in glob.glob(f"{out}/*/")}
names = sorted(set(oracles) | dirs)
for q in names:
    name = os.path.join(out, q)
    spark_files = glob.glob(f"{name}/*.parquet")
    if not spark_files:
        print(f"{q:24s} NO-OUTPUT"); fails += 1
        results[q] = {"err": "no_output"}
        continue
    sdf = con.sql(f"SELECT * FROM '{name}/*.parquet'").df()
    nrows = len(sdf)
    if q not in oracles:
        status = "rows-only" + (" OK" if nrows > 0 else " EMPTY!")
        if nrows == 0: fails += 1
        print(f"{q:24s} {status:14s} rows={nrows}")
        results[q] = {"rows_match": None, "schema_match": None,
                      "hash_match": None, "spark_rows": nrows,
                      "oracle_rows": None, "err": "no_oracle"}
        continue
    try:
        odf = con.sql(oracles[q]).df()
    except Exception as e:
        print(f"{q:24s} ORACLE-ERROR {e}"); fails += 1
        results[q] = {"err": f"oracle_error: {e}"}
        continue
    def canon(df):
        df = df[sorted(df.columns)]
        rows = sorted(df.astype(str).itertuples(index=False, name=None))
        # dtype-sensitive: the driver's hash distinguishes VARCHAR from
        # BIGINT even when the stringified values match (round-2 lesson:
        # astype(str) alone masked 7 doc_id type drifts) — so the canonical
        # form includes the dtype vector alongside the value hash
        dtypes = [str(t) for t in df.dtypes]
        return hashlib.sha256(str(rows).encode()).hexdigest()[:12], list(df.columns), len(df), dtypes
    sh, scols, sn, stypes = canon(sdf)
    oh, ocols, on, otypes = canon(odf)
    ok = (sh == oh and scols == ocols and sn == on and stypes == otypes)
    results[q] = {"rows_match": sn == on,
                  "schema_match": scols == ocols and stypes == otypes,
                  "hash_match": sh == oh,
                  "spark_rows": sn, "oracle_rows": on, "err": None}
    if not ok:
        fails += 1
        print(f"{q:24s} MISMATCH rows {sn}vs{on} cols {scols}vs{ocols} "
              f"hash {sh}vs{oh} dtypes {stypes}vs{otypes}")
        if scols == ocols and sn == on:
            merged = sdf.sort_values(sorted(sdf.columns)).reset_index(drop=True).compare(
                odf.sort_values(sorted(odf.columns)).reset_index(drop=True))
            print(merged.head(5))
    else:
        print(f"{q:24s} ORACLE-OK rows={sn}")
print(f"PASSED: {len(names) - fails}/{len(names)}")
print("FAILURES:", fails)
if results_path:
    with open(results_path, "w") as f:
        json.dump({"sf": sf, "passed": len(names) - fails, "total": len(names),
                   "failures": fails, "queries": results}, f, indent=1)
sys.exit(1 if fails else 0)
