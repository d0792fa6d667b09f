"""Simulate the grading driver end-to-end (see .claude/skills/verify).

Builds a PLAIN SparkSession (none of the engine's configs — the contract
must self-apply them), runs entry() at sf0.001, then every declared
query at sf0.01 against its DuckDB oracle with the same canonicalization
the driver uses. Exit code 1 on any mismatch.

Usage: python scripts/driver_sim.py [sf_dir] [--queries=NAME,NAME]
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession

sys.path.insert(0, ".")
import __spark_entry__ as entry_mod  # noqa: E402
from energi_data_etl_spark.plans.parity import compare_frames, duckdb_connect  # noqa: E402


def main() -> int:
    # positional sf_dir, optional --queries a,b for a targeted re-check
    # (a full 273-query pass is ~15 min; iterating on one rewrite
    # shouldn't pay it every loop — the PRE-COMMIT gate stays the full
    # run, at both SFs for behavior-changing trees)
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    only: set[str] | None = None
    for a in sys.argv[1:]:
        if a.startswith("--queries="):
            only = {q.strip() for q in a.split("=", 1)[1].split(",") if q.strip()}
            if not only:
                print("--queries= given but empty: refusing a vacuous 0-fail run")
                return 2
        elif a.startswith("--"):
            # a typo'd flag must not silently fall back to the full
            # ~15-min suite (ADVICE r13); note --queries takes '=' form
            print(f"unrecognized argument: {a} (did you mean --queries=a,b?)")
            return 2
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    qs, osql = entry_mod.queries(), entry_mod.oracle_sql()
    if only is not None:
        unknown = only - set(qs)
        if unknown:
            print(f"unknown queries: {sorted(unknown)}")
            return 2
        qs = {n: f for n, f in qs.items() if n in only}
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    n = entry_mod.entry(spark).count()
    print(f"entry rows: {n}")
    assert n > 0

    con = duckdb_connect(sf_dir)
    fails = 0
    for name, fn in qs.items():
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"ERR  {name}: {exc}")
            fails += 1
            continue
        if name in osql:
            r = compare_frames(name, sdf, con.execute(osql[name]).df())
            print(("OK  " if r.ok else "FAIL") + f" {name} {r.detail}")
            fails += not r.ok
        else:
            print(f"rows {name} {len(sdf)} (rows-only)")
    print(f"FAILS: {fails} / {len(qs)} queries")
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
