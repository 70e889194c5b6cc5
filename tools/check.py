#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (SURVEY.md §5.4):
run graft.Verify at sf0.01, then run each oracle SQL in DuckDB over the
same parquet tables and compare (schema, row count, values).

Usage: python3 tools/check.py [--sf /root/testdata/sf0.01] [--skip-verify] [query ...]
"""
import argparse, json, math, os, subprocess, sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="/tmp/graft_verify")
    ap.add_argument("--skip-verify", action="store_true")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    if not args.skip_verify:
        # named queries become Verify's filter, so one query is gated
        # end to end without the full dump
        subprocess.run([os.path.join(REPO, "tools/run.sh"), "graft.Verify",
                        args.sf, args.out] +
                       ([",".join(args.queries)] if args.queries else []),
                       check=True)

    with open(os.path.join(args.out, "oracle_sql.json")) as f:
        oracles = json.load(f)

    con = duckdb.connect()
    for t in TABLES:
        p = f"{args.sf}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    results = {}
    names = args.queries or sorted(
        d for d in os.listdir(args.out)
        if os.path.isdir(os.path.join(args.out, d)))
    for name in names:
        spark_dir = os.path.join(args.out, name)
        if not os.path.isdir(spark_dir):
            results[name] = "MISSING spark output"
            continue
        sdf = con.sql(f"SELECT * FROM '{spark_dir}/*.parquet'").df()
        if name not in oracles:
            # rows==0 with no oracle is a FAIL (silently-empty results
            # must not pass the gate — ADVICE r1).
            results[name] = (f"rows-only: {len(sdf)} rows" if len(sdf) > 0
                             else "EMPTY rows-only result")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            results[name] = f"ORACLE SQL ERROR: {e}"
            continue
        scols, ocols = sorted(sdf.columns), sorted(odf.columns)
        if scols != ocols:
            results[name] = f"SCHEMA MISMATCH spark={scols} oracle={ocols}"
            continue
        if len(sdf) != len(odf):
            results[name] = f"ROWCOUNT MISMATCH spark={len(sdf)} oracle={len(odf)}"
            continue
        s = sdf[scols].sort_values(scols).reset_index(drop=True)
        o = odf[ocols].sort_values(ocols).reset_index(drop=True)
        bad = None
        for c in scols:
            if s[c].dtype != o[c].dtype:
                try:
                    ov = o[c].astype(s[c].dtype)
                except (ValueError, TypeError):
                    ov = o[c]
            else:
                ov = o[c]
            sv = s[c]
            try:
                eq = (sv == ov) | (sv.isna() & ov.isna())
            except Exception:
                eq = sv.astype(str) == ov.astype(str)
            if not eq.all():
                i = int((~eq).idxmax())
                bad = f"VALUE MISMATCH col={c} row={i} spark={sv[i]!r} oracle={ov[i]!r} ({int((~eq).sum())} bad)"
                break
        results[name] = bad or f"OK ({len(sdf)} rows)"

    width = max(len(n) for n in results) if results else 0
    nok = 0
    for name in sorted(results):
        ok = results[name].startswith(("OK", "rows-only"))
        nok += ok
        print(f"{'PASS' if ok else 'FAIL'}  {name:<{width}}  {results[name]}")
    print(f"{nok}/{len(results)} pass")
    sys.exit(0 if nok == len(results) else 1)


if __name__ == "__main__":
    main()
