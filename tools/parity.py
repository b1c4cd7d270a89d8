#!/usr/bin/env python3
"""Local stand-in for the driver's t2 correctness gate.

Usage: python3 tools/parity.py [sfdir] [outdir] [--skip-verify] [names...]

1. Runs `sbt "runMain graft.Verify <sfdir> <outdir>"` (unless --skip-verify).
2. Registers the sfdir parquet tables as DuckDB views.
3. Runs each oracle_sql.json entry and compares against the Spark parquet
   output: columns sorted by name, rows sorted by all columns, values
   compared exactly (doubles must match bit-for-bit — the query design
   guarantees order-independent arithmetic).

Dev tooling only — the Scala engine has no Python dependency.
"""
import json, math, subprocess, sys
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


class ContractError(Exception):
    """Output violates the driver harness's comparator contract."""


def norm(v):
    # The driver's pandas comparator cannot sort/hash array-typed cells —
    # mirror that here so an array output column fails locally too.
    if isinstance(v, (list, tuple)):
        raise ContractError("array-typed output column (driver pandas "
                            "sort_values would raise; serialize with "
                            "array_join/array_to_string)")
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return [c for c in sorted(cols)], out


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sfdir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    outdir = Path(args[1] if len(args) > 1 else "/tmp/verify_out")
    only = set(args[2:])
    if "--skip-verify" not in sys.argv:
        r = subprocess.run(
            ["sbt", "-batch",
             f'runMain graft.Verify {sfdir} {outdir} {" ".join(sorted(only))}'],
            cwd=Path(__file__).resolve().parent.parent, capture_output=True, text=True, timeout=1800)
        if r.returncode != 0:
            print(r.stdout[-3000:]); print(r.stderr[-3000:])
            sys.exit("Verify failed")
        for line in r.stdout.splitlines():
            if "[verify]" in line:
                print(line)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

    oracle = json.loads((outdir / "oracle_sql.json").read_text())
    n_pass = n_fail = n_skip = 0
    for name in sorted(oracle):
        if only and name not in only:
            continue
        sql = oracle[name]
        spark_dir = outdir / name
        if not spark_dir.exists():
            print(f"MISSING  {name} (no spark output)"); n_fail += 1; continue
        try:
            rel = con.sql(sql)
            dcols = list(rel.columns)
            # DuckDB SUM(INTEGER/BIGINT) yields HUGEINT (int128), which the
            # driver hashes differently from Spark's BIGINT even when values
            # are equal — require an explicit CAST in the oracle SQL.
            huge = [c for c, t in zip(dcols, rel.types)
                    if "HUGEINT" in str(t).upper()]
            if huge:
                print(f"FAIL     {name}: HUGEINT oracle column(s) {huge} "
                      f"(wrap in CAST(... AS BIGINT))"); n_fail += 1; continue
            drows = rel.fetchall()
        except Exception as e:
            print(f"ORACLE-ERR {name}: {e}"); n_fail += 1; continue
        try:
            sp = con.execute(f"SELECT * FROM '{spark_dir}/*.parquet'")
            scols = [c[0] for c in sp.description]
            srows = sp.fetchall()
        except Exception as e:
            print(f"SPARK-ERR {name}: {e}"); n_fail += 1; continue
        try:
            dc, dr = canon(drows, dcols)
            sc, sr = canon(srows, scols)
        except ContractError as e:
            print(f"FAIL     {name}: {e}"); n_fail += 1; continue
        if dc != sc:
            print(f"FAIL     {name}: columns duck={dc} spark={sc}"); n_fail += 1; continue
        if len(dr) != len(sr):
            print(f"FAIL     {name}: rows duck={len(dr)} spark={len(sr)}"); n_fail += 1; continue
        bad = [(i, a, b) for i, (a, b) in enumerate(zip(dr, sr)) if a != b]
        if bad:
            i, a, b = bad[0]
            print(f"FAIL     {name}: {len(bad)}/{len(dr)} rows differ; first at {i}:")
            print(f"  cols : {dc}")
            print(f"  duck : {a}")
            print(f"  spark: {b}")
            n_fail += 1
        else:
            print(f"PASS     {name} ({len(dr)} rows)")
            n_pass += 1
    # queries without an oracle: rows-only note
    for d in sorted(outdir.iterdir()):
        if d.is_dir() and d.name not in oracle:
            try:
                n = con.execute(f"SELECT COUNT(*) FROM '{d}/*.parquet'").fetchone()[0]
                print(f"NO-ORACLE {d.name} ({n} rows)")
                n_skip += 1
            except Exception as e:
                print(f"NO-ORACLE {d.name} (unreadable: {e})"); n_fail += 1
    print(f"\n== {n_pass} pass, {n_fail} fail, {n_skip} oracle-less ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
