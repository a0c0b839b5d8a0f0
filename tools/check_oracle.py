#!/usr/bin/env python3
"""Local pre-validation of the driver's DuckDB-oracle correctness gate.

Mimics the driver: for each SparkEntry query, load the Verify parquet dump
and run the oracle SQL in DuckDB over the same testdata tables; compare
schema (column names sorted), row count, and a value hash (rows sorted).

Usage: python3 tools/check_oracle.py <sfdir> <verify_out>
"""
import json
import math
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)          # exact double repr: detects any bit drift
    return str(v)


def table_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append("\x01".join(norm_cell(r[i]) for i in order))
    out.sort()
    return "\n".join(out)


def hugeint_columns(rel):
    """[column, type] of every HUGEINT output column of a DuckDB relation.

    Built from the zipped (column, type) pairs, not a dict keyed by name:
    two output columns may share a name, and a dict keeps only the last
    one's type."""
    return [[c, str(t).upper()] for c, t in zip(rel.columns, rel.types)
            if "HUGEINT" in str(t).upper()]


def main(sfdir, outdir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    results = {}
    for name, sql in sorted(oracle.items()):
        # a filtered Verify run (trailing query-name args) dumps a subset;
        # skip queries with no dump instead of flagging them FAIL — but
        # loudly, so a failed query in a FULL run can't hide here (the
        # driver's own compare still fails hard on a missing dump).
        if not os.path.isdir(f"{outdir}/{name}"):
            print(f"SKIP {name} (no dump in {outdir})")
            continue
        try:
            # Type gate (r12 m12_av_align): python fetchall coerces DuckDB
            # HUGEINT to int, so a value-only compare is blind to the type
            # class that breaks the driver's Arrow-path hash (HUGEINT
            # fetches as double there, so "1" hashes as "1.0"). Flag any
            # oracle output column whose DuckDB type Spark cannot emit.
            bad_types = hugeint_columns(con.sql(sql))
            spark_rel = con.execute(
                f"SELECT * FROM read_parquet('{outdir}/{name}/*.parquet')")
            s_cols = [d[0] for d in spark_rel.description]
            s_rows = spark_rel.fetchall()
            o_rel = con.execute(sql)
            o_cols = [d[0] for d in o_rel.description]
            o_rows = o_rel.fetchall()
            schema_match = sorted(s_cols) == sorted(o_cols)
            rows_match = len(s_rows) == len(o_rows)
            hash_match = schema_match and table_key(s_rows, s_cols) == table_key(o_rows, o_cols)
            # a HUGEINT output column fails the query even when the values
            # compare equal here — the driver's type-aware hash will drift
            if bad_types:
                hash_match = False
            results[name] = {"schema": schema_match, "rows": rows_match,
                             "hash": hash_match,
                             "n_spark": len(s_rows), "n_oracle": len(o_rows)}
            if bad_types:
                results[name]["oracle_bad_types"] = bad_types
            if not schema_match:
                results[name]["spark_cols"] = s_cols
                results[name]["oracle_cols"] = o_cols
            elif not hash_match:
                # first differing sorted row for debugging
                sk = table_key(s_rows, s_cols).split("\n")
                ok = table_key(o_rows, o_cols).split("\n")
                for i, (a, b) in enumerate(zip(sk, ok)):
                    if a != b:
                        results[name]["first_diff"] = {"i": i, "spark": a[:300], "oracle": b[:300]}
                        break
                else:
                    results[name]["first_diff"] = {"i": min(len(sk), len(ok)), "note": "length"}
        except Exception as e:
            results[name] = {"error": str(e)[:400]}
    npass = sum(1 for r in results.values() if r.get("hash"))
    for name, r in results.items():
        status = "PASS" if r.get("hash") else "FAIL"
        print(f"{status} {name} {json.dumps(r) if status == 'FAIL' else ''}")
    print(f"\n{npass}/{len(results)} oracle queries pass")
    return 0 if npass == len(results) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
