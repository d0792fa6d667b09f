"""Smoke tests for the benchmark: every workload at smoke size with a
fixed seed passes its output checks, the metric names match
BENCHMARK.json, and a directory without the package fails cleanly.

    python -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, run  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_spec_matches_runner():
    spec = _spec()
    assert [m["name"] for m in spec["end_to_end"]] == [n for n, _u, _b in run.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_smoke(workload):
    res = _result(_bench("--workload", workload, "--seed", "7", "--seconds", "0", "--trace", "0", "--size", "smoke",
                          "--min-cycles", "1"))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 2
    assert list(res["metrics"]) == [m["name"] for m in _spec()["end_to_end"]]
    assert all(m["value"] > 0 for m in res["metrics"].values()), res["metrics"]


def test_traced_run_reports_every_layer_metric():
    res = _result(_bench("--workload", "etl", "--seed", "7", "--seconds", "0", "--trace", "1", "--size", "smoke",
                          "--min-cycles", "2"))
    assert res["correct"] is True
    assert list(res["metrics"]) == [m["name"] for m in _spec()["per_layer"]]
    layer = {k: v["value"] for k, v in res["metrics"].items()}
    assert layer["streaming.stream_to_parquet.jobs"] > 0
    assert layer["api_datasource.input_rows"] > 0
    assert layer["backfill.http_json.fetch_to_landing.tasks"] > 0
    assert layer["sinks.latest_watermark.jobs"] > 0
    assert layer["trace.spans"] > 0
    with open(os.path.join(ROOT, ".perfbench_out", "trace-etl-7.json")) as f:
        spans = json.load(f)["spans"]
    assert all(0 <= s["self_s"] <= s["end"] - s["start"] + 1e-9 for s in spans)


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _bench("--workload", "etl", "--seed", "1", "--seconds", "1", "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_stream_truth_drops_late_rows_one_batch_behind(tmp_path):
    import datetime as dt

    day_list = gen.days(dt.date(2024, 1, 1), 6)
    docs = gen.write_stream_fixtures(str(tmp_path), 3, ["SE1"], day_list, dup_share=0.0, late_share=1.0)
    everything = {(z, d, ts, p) for (z, d), recs in docs.items() for ts, p in recs}
    kept = gen.expected_stream_rows(docs, day_list[:3], day_list[3:])
    # one late record per document; catch-up (batch 0) and the first poll
    # (batch 1) keep theirs, later polls drop them
    assert len(everything) - len(kept) == 2


def test_corpus_truth_is_consistent():
    c = gen.make_corpus(5, n_base=30, n_clusters=3, cluster_size=3, n_mega=1, mega_size=6,
                        n_exact=4, n_junk=3, n_french=3, doc_len=30, threshold=0.7)
    assert c.exact_survivors <= c.kept_ids
    assert len(c.kept_ids) - len(c.exact_survivors) >= 4
    assert c.specified_pairs
    assert all(gen.jaccard(c.shingles[a], c.shingles[b]) >= 0.7 for a, b in c.specified_pairs)
