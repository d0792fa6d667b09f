"""Round-17 plan audit: compile every declared query's physical plan
(no execution for pure-batch plans; stream-drain queries do run their
bounded drain inside fn) and dump `.explain("formatted")` per query,
plus a one-line-per-query summary of anti-pattern signals:

  - BatchEvalPython / ArrowEvalPython / MapInPandas / PythonMapInArrow
    node counts (guide §4 — the Python boundary)
  - CartesianProduct / BroadcastNestedLoopJoin (guide §3 — accidental
    cartesians; broadcast-scalar attachments are the benign case)
  - Exchange count (guide §2 — shuffle count), SortMergeJoin count
  - scans whose PushedFilters is empty while a Filter sits above
    (guide §6 — pushdown)

Usage: python scripts/plan_audit.py --out DIR   (fixture: $SPARK_GRAFT_SF_DIR)
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def main() -> int:
    ap = argparse.ArgumentParser(description="Dump and summarize every declared query's physical plan.")
    ap.add_argument("--out", required=True, metavar="DIR", help="directory for the plan dumps")
    out_dir = ap.parse_args().out
    os.makedirs(out_dir, exist_ok=True)

    os.environ.setdefault("SPARK_GRAFT_DRAIN_PARTITIONS", "4")
    from energi_data_etl_spark.plans.inspect import explain_str
    from energi_data_etl_spark.queries import QUERIES
    from energi_data_etl_spark.session import get_spark
    from energi_data_etl_spark.sources.tables import default_sf_dir

    sf_dir = default_sf_dir()
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for name, q in QUERIES.items():
        try:
            txt = explain_str(q.fn(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001
            rows.append(f"{name}\tERROR\t{exc}")
            continue
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(txt)
        # the formatted mode prints each operator once in the tree and once
        # in the detail section (r06 lesson) — count tree lines only
        tree = txt.split("\n\n")[0]
        counts = {
            "exch": len(re.findall(r"\bExchange\b", tree)),
            "smj": len(re.findall(r"\bSortMergeJoin\b", tree)),
            "bhj": len(re.findall(r"\bBroadcastHashJoin\b", tree)),
            "bnlj": len(re.findall(r"\bBroadcastNestedLoopJoin\b", tree)),
            "cart": len(re.findall(r"\bCartesianProduct\b", tree)),
            "pyrow": len(re.findall(r"\bBatchEvalPython\b", tree)),
            "pyarrow": len(re.findall(r"\bArrowEvalPython\b", tree)),
            "pymap": len(re.findall(r"\b(MapInPandas|PythonMapInArrow|FlatMapGroupsInPandas|FlatMapGroupsInPandasWithState)\b", tree)),
            "sort": len(re.findall(r"\bSort\b", tree)),
            "scan_rdd": len(re.findall(r"Scan ExistingRDD", tree)),
            "window": len(re.findall(r"\bWindow\b", tree)),
        }
        # pushdown check: any parquet scan detail block with empty
        # PushedFilters while the query has Filter nodes above scans
        n_scans = len(re.findall(r"Scan parquet", tree))
        empty_push = len(re.findall(r"PushedFilters: \[\]", txt))
        counts["scans"] = n_scans
        counts["nopush"] = empty_push
        rows.append(name + "\t" + "\t".join(f"{k}={v}" for k, v in counts.items()))
        print(rows[-1], flush=True)

    with open(os.path.join(out_dir, "_summary.tsv"), "w") as fh:
        fh.write("\n".join(rows) + "\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
