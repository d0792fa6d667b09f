"""Benchmark harness: the one timing tool. Reads the fixture dir from
$SPARK_GRAFT_SF_DIR (sources/tables.py::default_sf_dir, sf0.1 by
default) and runs on local[$SPARK_GRAFT_CPUS].

    python bench.py                          # suite (the driver contract)
    python bench.py NAME [NAME ...] [--n 3] [--plans DIR]   # isolated
    python bench.py --aggregate OUT RUN.json [RUN.json ...]

Suite mode times every declared query and prints TWO JSON lines:
the per-query detail line first, then the compact aggregate
(declared_query_suite_total). Isolated mode times only the named
queries, N warm runs each, and prints the per-query min plus all runs;
--plans DIR also writes each query's explain("formatted") to
DIR/<name>.txt. Both share one warm-up and time each query through the
noop sink (every partition computes; no driver-side result transfer).
Aggregate mode folds suite-mode stdout captures into per-query medians
and mins at OUT (the BENCH_MEDIANS_r*.json shape) and flags >2x median
drift against the reference medians.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import statistics
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))


def _materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _reference_medians(sf: float | None, root: str = _HERE) -> tuple[str, dict] | None:
    """(file name, per-query medians) of the newest committed
    BENCH_MEDIANS_r<N>*.json recorded at scale factor ``sf``, or None.
    ``r17opt`` sorts as round 17. Ratios are only meaningful at the
    reference's own scale factor — at any other SF every query is
    legitimately slower and a comparison would cry wolf on the whole
    suite — so files at another SF are skipped, not compared."""
    found = []
    for path in glob.glob(os.path.join(root, "BENCH_MEDIANS_r*.json")):
        m = re.search(r"_r(\d+)", os.path.basename(path))
        with open(path) as fh:
            doc = json.load(fh)
        if m and doc.get("sf") == sf:
            found.append((int(m.group(1)), path, doc.get("medians", {})))
    if not found:
        return None
    _, path, medians = max(found)
    return os.path.basename(path), medians


def _load_run(path: str) -> dict:
    """Accept both bench.py output formats: the legacy single JSON line
    (full queries dict + value) and the r11 two-line format (detail
    line with the full per-query dict, then a compact aggregate line
    whose queries field is only the slowest-10). Lines are selected by
    MARKER, never position (ADVICE r12: a truncated aggregate line used
    to silently make the detail line the aggregate; a parseable
    non-dict line used to raise on .get)."""
    lines = []
    for ln in open(path):
        if not ln.strip():
            continue
        try:
            doc = json.loads(ln)
        except ValueError:
            continue  # tail-truncated detail line / non-JSON noise
        if isinstance(doc, dict):
            lines.append(doc)
    if not lines:
        raise ValueError(f"{path}: no parseable JSON object line")
    detail = next((d for d in lines if d.get("metric") == "declared_query_detail"), None)
    agg = next(
        (d for d in reversed(lines) if d.get("metric") != "declared_query_detail" and "value" in d),
        None,
    )
    if detail is not None:
        if agg is None:
            print(f"warning: {path}: aggregate line missing/truncated — totals unavailable",
                  file=sys.stderr)
        return {
            "queries": detail["queries"],
            "value": agg.get("value") if agg else None,
            "sf": agg.get("sf") if agg else None,
        }
    if agg is None:
        raise ValueError(f"{path}: neither detail nor aggregate line found")
    return agg


def _aggregate(out_path: str, run_paths: list[str]) -> int:
    """Median across back-to-back runs is the regression reference
    BASELINE.md mandates (single runs swing up to 10x on a shared host)."""
    runs = [_load_run(p) for p in run_paths]
    names = list(runs[0]["queries"])
    medians = {
        k: round(statistics.median([r["queries"][k] for r in runs if k in r["queries"]]), 3)
        for k in names
    }
    # per-query MIN across runs = the capability number on a
    # contention-prone shared host (CLAUDE.md noise protocol: a median
    # drift is only a real regression if the MIN reproduces it)
    mins = {
        k: round(min(r["queries"][k] for r in runs if k in r["queries"]), 3)
        for k in names
    }
    doc = {
        "runs_total_sec": [r["value"] for r in runs],
        "median_total_sec": round(sum(medians.values()), 3),
        "min_total_sec": round(sum(mins.values()), 3),
        "n_queries": len(medians),
        "sf": runs[0].get("sf"),
        "medians": medians,
        "mins": mins,
    }
    json.dump(doc, open(out_path, "w"), indent=1)
    print(f"wrote {out_path}: {len(medians)} queries, median sum {doc['median_total_sec']}s, "
          f"min sum {doc['min_total_sec']}s (run totals {doc['runs_total_sec']})")
    reference = _reference_medians(doc["sf"])
    if reference is None:
        print(f"  no reference medians at sf={doc['sf']}")
        return 0
    ref_name, ref = reference
    # flag on MEDIAN drift, verdict on MIN: contention inflates medians
    # non-uniformly; only a min that stays >2x the reference median is code
    drifted = sorted(
        ((medians[k] / ref[k], k) for k in medians if ref.get(k, 0) > 0 and medians[k] > 2 * ref[k]),
        reverse=True,
    )
    for ratio, k in drifted:
        verdict = "REGRESSION (min reproduces)" if mins[k] > 2 * ref[k] else "host contention (min within 2x)"
        print(f"  >2x median drift: {k} {ref[k]:.2f}s -> median {medians[k]:.2f}s / min {mins[k]:.2f}s — {verdict}")
    if not drifted:
        print(f"  no >2x per-query median drift vs {ref_name}")
    return 0


def _warm_up(spark, queries, sf_dir: str) -> None:
    """Pay one-time costs untimed, on the sf0.001 fixture beside the
    timed one, so the first measured query doesn't absorb them."""
    warm_dir = os.path.join(os.path.dirname(os.path.normpath(sf_dir)), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    # One-time costs that would otherwise land on whichever query meets
    # them first (phantom 2-6x slowdowns that vanish on isolated re-run),
    # in order: JVM/codegen, the Python/Arrow worker pool, the regex
    # tokenizer's JIT, localCheckpoint + range exchange (~0.3 s each),
    # Structured Streaming init (~3 s) and the Python DataSource reader.
    # Last, the catalog head: the suite's first queries run cold whatever
    # they are (sf0.1, 4 cores: up to 1.7-3.0x the r18 reference medians
    # in three suites without this, at most 1.55x in two with it).
    for name in ("flagship_daily_avg", "grouped_median_udaf", "token_budget_packing",
                 "global_row_index", "streaming_tumbling_daily", "api_source_daily_rollup",
                 *list(queries)[:4]):
        _materialize(queries[name].fn(spark, warm_dir))


def _suite(spark, queries, sf_dir: str) -> int:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0
    timings: dict[str, float] = {}
    for name, q in queries.items():
        t0 = time.perf_counter()
        try:
            _materialize(q.fn(spark, sf_dir))
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # noqa: BLE001
            timings[name] = -1.0
            print(f"bench error {name}: {exc}", file=sys.stderr)

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Contention self-description (VERDICT r14 #4): this shared host
    # inflates single runs 5-30x NON-uniformly, so a lone BENCH_rN.json
    # can read as a regression (r14: source_overlap_matrix 48.8 s vs a
    # 3.75 s same-tree median). Carry the evidence in-band: per-query
    # ratio vs the reference medians — any >=3x inflation is flagged so
    # no consumer has to know to cross-check.
    contended = None
    try:
        reference = _reference_medians(sf)
        if reference is not None:
            ref_name, ref_medians = reference
            flagged = sorted(
                (
                    (round(ratio, 1), k)
                    for k, t in timings.items()
                    if t >= 1.0 and ref_medians.get(k, 0) > 0
                    and (ratio := t / ref_medians[k]) >= 3.0
                ),
                reverse=True,
            )
            contended = {
                "ref": ref_name,
                "n": len(flagged),
                "worst": {k: r for r, k in flagged[:5]},
            }
    except Exception as exc:  # noqa: BLE001 — the hint must never kill the bench
        print(f"contention hint unavailable: {exc}", file=sys.stderr)
    # Full per-query detail FIRST (~8 KB for 267 queries — exceeds the
    # driver's ~2000-char stdout-tail capture, which is why BENCH_r01..r10
    # all recorded "parsed": null when this was the only line).
    print(json.dumps({"metric": "declared_query_detail", "queries": timings}))
    sys.stdout.flush()
    # Compact aggregate LAST (< 2000 chars) so the driver's tail capture
    # contains one complete, parseable JSON line: totals + the 10 slowest
    # per-query timings (VERDICT r10 item 4).
    slowest10 = dict(
        sorted(
            ((k, v) for k, v in timings.items() if v >= 0),
            key=lambda kv: -kv[1],
        )[:10]
    )
    n_errors = sum(1 for t in timings.values() if t < 0)
    print(
        json.dumps(
            {
                "metric": "declared_query_suite_total",
                "value": total,
                "unit": "sec",
                "queries": slowest10,
                "sf": sf,
                "n_queries": len(timings),
                "n_errors": n_errors,
                "cpus": cpus,
                "contended": contended,
                "note": "full per-query timings on the preceding stdout line",
            }
        )
    )
    return 0


def _isolated(spark, queries, sf_dir: str, names: list[str], n: int, plans_dir: str | None) -> int:
    from energi_data_etl_spark.plans.inspect import explain_str

    if plans_dir:
        os.makedirs(plans_dir, exist_ok=True)
    out: dict[str, dict] = {}
    for name in names:
        q = queries[name]
        times = []
        for i in range(n):
            spark.sparkContext.setJobDescription(f"bench:{name}:{i}")
            t0 = time.perf_counter()
            _materialize(q.fn(spark, sf_dir))
            times.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        if plans_dir:
            try:
                with open(os.path.join(plans_dir, f"{name}.txt"), "w") as fh:
                    fh.write(explain_str(q.fn(spark, sf_dir)))
            except Exception as exc:  # noqa: BLE001 — streaming plans can't explain pre-start
                print(f"plan dump skipped for {name}: {exc}", file=sys.stderr)
        out[name] = {"min": min(times), "runs": times}
        print(f"{name}: min {min(times):.3f}  runs {times}", flush=True)
    print(json.dumps(out))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Time the declared query catalog (see module docstring).")
    ap.add_argument("names", nargs="*", metavar="NAME",
                    help="queries to time in isolation (with --aggregate: the run files)")
    ap.add_argument("--n", type=int, default=3, help="warm runs per query in isolated mode")
    ap.add_argument("--plans", metavar="DIR", help="isolated mode: write DIR/<name>.txt plan dumps")
    ap.add_argument("--aggregate", metavar="OUT", help="fold the run files into per-query medians at OUT")
    args = ap.parse_intermixed_args(argv)

    if args.aggregate:
        if not args.names:
            ap.error("--aggregate needs at least one run file")
        return _aggregate(args.aggregate, args.names)
    if args.plans and not args.names:
        ap.error("--plans needs query names")
    if args.n < 1:
        ap.error("--n must be >= 1")

    sys.path.insert(0, _HERE)
    from energi_data_etl_spark.queries import QUERIES
    from energi_data_etl_spark.sources.tables import default_sf_dir

    unknown = sorted(set(args.names) - set(QUERIES))
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    # Fixture-gate pin: sf0.1 drains are fastest at 4 state tasks; the
    # library default (no env) is defaultParallelism for real volumes.
    os.environ.setdefault("SPARK_GRAFT_DRAIN_PARTITIONS", "4")
    from energi_data_etl_spark.session import get_spark

    sf_dir = default_sf_dir()
    spark = get_spark("energi-bench")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        _warm_up(spark, QUERIES, sf_dir)
        if args.names:
            return _isolated(spark, QUERIES, sf_dir, args.names, args.n, args.plans)
        return _suite(spark, QUERIES, sf_dir)
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
