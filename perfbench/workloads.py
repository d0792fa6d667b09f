"""The two workloads. Each has a seeded ``generate`` (inputs plus ground
truth), a ``warmup``, a ``start`` and a ``cycle``: one closed-loop
iteration of timed operations whose outputs are checked against the
truth. Operations are timed by ``Run.op``; per-layer figures come from
spans (``trace.Tracer``) and ``Run.sample``."""

from __future__ import annotations

import datetime as dt
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

from . import gen

END_DAY = dt.date(2024, 6, 30)


def _files(path: str, suffix: str = ".parquet") -> list[str]:
    out = []
    for root, _dirs, names in os.walk(path):
        out.extend(os.path.join(root, n) for n in names if n.endswith(suffix))
    return out


def _bytes(path: str, suffix: str = "") -> int:
    return sum(os.path.getsize(p) for p in _files(path, suffix))


def _read_parquet(path: str, partition_col: str | None = None):
    """Read a Spark parquet output directory with pyarrow (no Spark job),
    as a list of row dicts."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    part = ds.partitioning(pa.schema([(partition_col, pa.string())]), flavor="hive") if partition_col else None
    return ds.dataset(path, format="parquet", partitioning=part).to_table().to_pylist()


def _close(a: float, b: float, tol: float = 1e-9) -> bool:
    return abs(a - b) <= tol * max(1.0, abs(b))


class Run:
    """One benchmark run: the session, the tracer, timed operations,
    failures and per-layer samples."""

    def __init__(self, spark, tracer, seed: int, work: str) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.seed = seed
        self.work = work
        #: kind -> [(seconds, traced)]
        self.ops: dict[str, list[tuple[float, bool]]] = defaultdict(list)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.last_span: dict | None = None
        #: the stream listener of a traced run (``trace.stream_probe_class``)
        self.probe = None

    def op(self, kind: str | None, span: str, fn, check=None):
        """Time ``fn()`` as one operation; then run ``check(result)``
        (untimed), which returns None or a failure message. An operation
        that raises or fails its check counts as failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(span) as rec:
                self.last_span = rec
                out = fn()
        except Exception:  # noqa: BLE001 - a failed operation is a result, not a crash
            self._fail(span, traceback.format_exc())
            return None
        seconds = time.perf_counter() - t0
        if check is not None:
            try:
                problem = check(out)
            except Exception:  # noqa: BLE001
                problem = traceback.format_exc()
            if problem:
                self._fail(span, problem)
                return out
        if kind is not None:
            self.ops[kind].append((seconds, self.tracer.enabled))
        return out

    def _fail(self, span: str, message: str) -> None:
        self.failed += 1
        print(f"perfbench: operation failed: {span}: {message}", file=sys.stderr)

    def sample(self, name: str, value: float) -> None:
        """A per-layer figure, kept only from traced cycles."""
        if self.tracer.enabled:
            self.samples[name].append(float(value))

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        return path


class Workload:
    """Set-up is ``generate`` then ``warmup``; measuring is ``start`` once,
    then ``cycle`` in a closed loop."""

    name = ""
    #: untimed full-size cycles before timing: the JIT compiler keeps
    #: working through the first few (with one, the first timed cycles
    #: ran up to a quarter slower than the later ones)
    warmup_cycles = 2

    def __init__(self, size: str) -> None:
        self.size = size

    def generate(self, seed: int, work: str) -> None:
        raise NotImplementedError

    def start(self, run: Run, timed: bool = True) -> None:
        """Operations that run once before the loop."""

    def cycle(self, run: Run, tag: str, timed: bool = True) -> None:
        raise NotImplementedError

    def warmup(self, run: Run) -> None:
        """Untimed cycles on a second input of the same size, so code paths
        are loaded and compiled before timing."""
        warm = type(self)(self.size)
        warm.generate(self.seed, os.path.join(run.work, "warm"))
        for i in range(self.warmup_cycles):
            warm.cycle(run, f"warm{i}", timed=False)


# --------------------------------------------------------------------------
# ETL: the scheduled job, the price stream and the dashboard
# --------------------------------------------------------------------------


class Etl(Workload):
    """The energy data path: both ingestion routes and the read side. Set-up
    writes a fact table with a long history; measuring starts the price
    stream with a catch-up poll. Each cycle is then one simulated day:
    the day lands through the scheduled job (one-day
    ``run_incremental``) and through the stream (one poll that restarts
    from its checkpoint), and the dashboard refreshes. Traced cycles also
    run a cold-start backfill into a fresh table (bulk: many zone-days, a
    seeded share of fetches failing once) and a same-day re-run that exits
    early; untraced cycles skip both, so a short run still holds several
    samples of each operation the end-to-end figures come from."""

    name = "etl"

    def __init__(self, size: str) -> None:
        super().__init__(size)
        self.n_backfill, self.n_history, self.n_catchup, n_zones = {
            "full": (60, 120, 2, 6), "smoke": (3, 4, 2, 2),
        }[size]
        self.zones = gen.zones(n_zones)
        self.fail_share = 0.05
        self.dup_share, self.late_share = 0.1, 0.3
        #: dashboard refreshes per day; several samples keep the median steady
        self.viewers = 2 if size == "full" else 1

    def generate(self, seed: int, work: str) -> None:
        self.seed = seed
        self.backfill_days = gen.days(END_DAY - dt.timedelta(days=self.n_backfill - 1), self.n_backfill)
        probe = gen.FlakyFetcher(seed, self.fail_share)
        self.expected_retries = sum(probe.fails(gen.api_url(z, d)) for z in self.zones for d in self.backfill_days)
        self.table = os.path.join(work, "fact")
        self.table_days = gen.days(END_DAY - dt.timedelta(days=self.n_history - 1), self.n_history)
        gen.write_fact_history(self.table, seed, self.zones, self.table_days)
        self.today = END_DAY
        self.fixture_dir = os.path.join(work, "api")
        self.catchup_days = self.table_days[-self.n_catchup:]
        self.documents = self._documents(self.catchup_days)
        self.polled: list[dt.date] = []
        self.sink, self.ckpt = os.path.join(work, "stream_sink"), os.path.join(work, "stream_ckpt")

    def _documents(self, day_list) -> dict:
        """The API documents of ``day_list``, written to ``fixture_dir``."""
        return gen.write_stream_fixtures(
            self.fixture_dir, self.seed, self.zones, day_list, self.dup_share, self.late_share
        )

    def warmup(self, run: Run) -> None:
        from energi_data_etl_spark.sources.api_datasource import EnergiPricesDataSource

        run.spark.dataSource.register(EnergiPricesDataSource)
        super().warmup(run)

    def _run_incremental(self, run: Run, table: str, fetcher, landing: str, today, cold_start_days: int = 10):
        from energi_data_etl_spark.pipeline.energy import run_incremental
        from energi_data_etl_spark.sources.http_json import ApiConfig

        return run_incremental(
            run.spark, table, fetcher, landing, today, zones=self.zones,
            cold_start_days=cold_start_days, config=ApiConfig(retry_sleep_s=0),
        )

    def _poll(self, run: Run, end: dt.date) -> None:
        """``readStream.format("energi_prices")`` → ``dedup_within_watermark``
        → ``stream_to_parquet`` on the durable checkpoint, up to ``end``."""
        import pyspark.sql.functions as F

        from energi_data_etl_spark.streaming.ops import dedup_within_watermark, stream_to_parquet

        stream = (
            run.spark.readStream.format("energi_prices")
            .option("start", self.catchup_days[0].isoformat())
            .option("end", end.isoformat())
            .option("zones", ",".join(self.zones))
            .option("fixture_dir", self.fixture_dir)
            .load()
            .withColumn("ts", F.to_timestamp("time_start"))
        )
        stream_to_parquet(dedup_within_watermark(stream, ["zone", "date", "time_start"], "1 day"), self.sink, self.ckpt)

    def _dashboard(self, run: Run, table: str, month: int):
        """The Power BI refresh: month-sliced ``zone_summary`` over the
        fact table, collected."""
        from energi_data_etl_spark.pipeline.energy import zone_summary

        with run.tracer.span("energy.zone_summary.build"):
            df = zone_summary(run.spark.read.parquet(table), value_col="avg_price", months=[month])
        with run.tracer.span("energy.zone_summary.execute"):
            return {r["zone"]: r["avg_value"] for r in df.collect()}

    def _check_dashboard(self, got: dict, table_days, month: int):
        want = {}
        for z in self.zones:
            vals = [gen.daily_average(self.seed, z, d) for d in table_days if d.month == month]
            want[z] = sum(vals) / len(vals)
        if set(got) != set(want):
            return f"dashboard zones {sorted(got)} != {sorted(want)}"
        bad = [z for z in want if not _close(got[z], want[z])]
        return f"dashboard averages differ for {bad}" if bad else None

    def _check_rows(self, rows, day_list) -> str | None:
        want = {(d.isoformat(), z): gen.daily_average(self.seed, z, d) for d in day_list for z in self.zones}
        got = {(r["date"], r["zone"]): r["avg_price"] for r in rows}
        if set(got) != set(want) or len(rows) != len(want):
            return f"fact rows: {len(rows)} rows, {len(set(got) ^ set(want))} keys differ from the {len(want)} expected"
        bad = [k for k in want if not _close(got[k], want[k])]
        return f"{len(bad)} daily averages differ, e.g. {bad[:3]}" if bad else None

    def _check_stream(self, want: set) -> str | None:
        landed = _read_parquet(self.sink)
        rows = {(r["zone"], r["date"], r["time_start"], r["SEK_per_kWh"]) for r in landed}
        if len(landed) != len(rows):
            return f"stream sink holds {len(landed) - len(rows)} duplicate rows"
        if rows != want:
            return f"stream sink rows differ from the expected set in {len(rows ^ want)} rows ({len(rows)} vs {len(want)})"
        return None

    def cycle(self, run: Run, tag: str, timed: bool = True) -> None:
        op = run.op if timed else _untimed
        # traced cycles reach every path; the others (warm-up included)
        # only the operations the end-to-end figures are made of
        full = run.tracer.enabled
        if full:
            self._backfill(run, op, tag)
        self._day(run, op, full)

    def start(self, run: Run, timed: bool = True) -> None:
        """Start the price stream: one catch-up poll over the last days of
        the history."""
        op = run.op if timed else _untimed
        want = gen.expected_stream_rows(self.documents, self.catchup_days, [])
        op("bulk", "streaming.catchup", lambda: self._poll(run, self.catchup_days[-1]),
           lambda _: self._check_stream(want))
        self._sample_stream(run, run.last_span, "catchup", self.catchup_days)

    def _backfill(self, run: Run, op, tag: str) -> None:
        table, landing = run.fresh_dir(f"backfill-{tag}"), run.fresh_dir(f"landing-{tag}")
        retries = run.sc.accumulator(0)
        fetcher = gen.FlakyFetcher(self.seed, self.fail_share, retries)

        def check(appended):
            if appended is not True:
                return f"backfill run_incremental returned {appended!r}"
            if retries.value != self.expected_retries:
                return f"{retries.value} injected failures retried, expected {self.expected_retries}"
            return self._check_rows(_read_parquet(table, "date"), self.backfill_days)

        with run.tracer.scoped("backfill."):
            op("bulk", "energy.backfill",
               lambda: self._run_incremental(run, table, fetcher, landing, END_DAY, cold_start_days=self.n_backfill - 1),
               check)
        run.sample("backfill.zone_days", self.n_backfill * len(self.zones))
        run.sample("http_json.retries", retries.value)
        if run.tracer.enabled:
            run.sample("http_json.landing_bytes", _bytes(landing))
            run.sample("backfill.files_written", len(_files(table)))
        shutil.rmtree(table, ignore_errors=True)
        shutil.rmtree(landing, ignore_errors=True)

    def _day(self, run: Run, op, full: bool) -> None:
        self.today += dt.timedelta(days=1)
        today = self.today
        self.documents.update(self._documents([today]))
        polled = self.polled + [today]
        want_stream = gen.expected_stream_rows(self.documents, self.catchup_days, polled)
        fetcher = gen.FlakyFetcher(self.seed, 0.0)
        if run.tracer.enabled:
            files_before, bytes_before = len(_files(self.table)), _bytes(self.table, ".parquet")
        landing = run.fresh_dir(f"landing-{today}")
        spans: dict = {}

        def land():
            """The day lands through both routes: the scheduled job
            appends it to the fact table, the stream picks it up."""
            with run.tracer.span("energy.run_incremental"):
                appended = self._run_incremental(run, self.table, fetcher, landing, today)
            with run.tracer.span("streaming.stream_to_parquet") as rec:
                self._poll(run, today)
            spans["poll"] = rec
            return appended

        def check_day(appended):
            if appended is not True:
                return f"run_incremental returned {appended!r} for a new day"
            part = os.path.join(self.table, f"date={today}")
            return (self._check_rows([dict(r, date=today.isoformat()) for r in _read_parquet(part)], [today])
                    or self._check_stream(want_stream))

        op("ingest", "energy.ingest_day", land, check_day)
        self.polled = polled
        self.table_days.append(today)
        self._sample_stream(run, spans.get("poll"), "poll", [today])
        if run.tracer.enabled:
            files, size = len(_files(self.table)), _bytes(self.table, ".parquet")
            run.sample("sinks.files_written", files - files_before)
            run.sample("sinks.bytes_written", size - bytes_before)
            run.sample("fact.files_total", files)
            run.sample("fact.bytes_per_record", size / (len(self.table_days) * len(self.zones)))
        for _ in range(self.viewers):
            op("serve", "energy.dashboard", lambda: self._dashboard(run, self.table, today.month),
               lambda got: self._check_dashboard(got, self.table_days, today.month))
        if full:
            op(None, "energy.noop_run",
               lambda: self._run_incremental(run, self.table, fetcher, run.fresh_dir(f"landing-noop-{today}"), today),
               lambda appended: None if appended is False else f"same-day re-run returned {appended!r}")
        shutil.rmtree(landing, ignore_errors=True)

    def _sample_stream(self, run: Run, rec: dict | None, kind: str, day_list) -> None:
        if not run.tracer.enabled or run.probe is None:
            return
        run_id, progress = run.probe.last_run()
        if run_id is not None:
            run.tracer.add_jobs(rec, run_id)
        data = [p for p in progress if p["input_rows"] > 0] or progress
        dur = defaultdict(float)
        for p in progress:
            for k, v in p["duration_ms"].items():
                dur[k] += v
        poll_s = (rec["end"] - rec["start"]) if rec else 0.0
        if kind == "catchup":
            run.sample("api_datasource.catchup_partitions", len(day_list) * len(self.zones))
            run.sample("stream.catchup_input_rows", sum(p["input_rows"] for p in progress))
            return
        run.sample("api_datasource.partitions", len(day_list) * len(self.zones))
        run.sample("api_datasource.input_rows", sum(p["input_rows"] for p in progress))
        run.sample("stream.batches", len(progress))
        run.sample("stream.latest_offset_ms", dur["latestOffset"])
        run.sample("stream.query_planning_ms", dur["queryPlanning"])
        run.sample("stream.add_batch_ms", dur["addBatch"])
        run.sample("stream.wal_commit_ms", dur["walCommit"])
        run.sample("stream.start_s", poll_s - dur["triggerExecution"] / 1000.0)
        state = [s for p in data for s in p["state"]]
        if state:
            run.sample("dedup_within_watermark.state_rows", state[-1][0])
            run.sample("dedup_within_watermark.dropped_by_watermark", sum(s[1] for s in state))
            run.sample("dedup_within_watermark.state_memory_bytes", state[-1][2])


def _untimed(kind, span, fn, check=None):
    """``Run.op`` for warm-up: runs the operation, records and checks
    nothing (the warm-up input is not what the run is judged on)."""
    return fn()


# --------------------------------------------------------------------------
# LLM corpus
# --------------------------------------------------------------------------


class LlmCorpus(Workload):
    """Quality/language filter → exact dedup → MinHash near-dup → connected
    components → one survivor per cluster written; then a k-NN query
    batch through ``ann_ivf_knn``."""

    name = "llm_corpus"
    threshold = 0.7
    k = 10
    #: query vector ids start here, apart from the corpus ids 0..n-1
    query_offset = 1_000_000

    def __init__(self, size: str) -> None:
        super().__init__(size)
        if size == "full":
            self.corpus_args = dict(n_base=800, n_clusters=40, cluster_size=4, n_mega=2, mega_size=24,
                                    n_exact=80, n_junk=60, n_french=60, doc_len=40)
            self.vector_args = dict(n=2000, n_queries=50, dim=32, n_clusters=16, spread=1.5)
            self.cap, self.n_centroids, self.nprobe = 16, 16, 3
        else:  # smoke
            self.corpus_args = dict(n_base=20, n_clusters=2, cluster_size=3, n_mega=1, mega_size=8,
                                    n_exact=2, n_junk=2, n_french=2, doc_len=30)
            self.vector_args = dict(n=200, n_queries=5, dim=16, n_clusters=4, spread=0.9)
            self.cap, self.n_centroids, self.nprobe = 6, 4, 2

    def generate(self, seed: int, work: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.seed = seed
        self.corpus = gen.make_corpus(seed, threshold=self.threshold, **self.corpus_args)
        self.vectors = gen.make_vectors(seed, k=self.k, **self.vector_args)
        self.docs_path = os.path.join(work, "docs")
        self.corpus_path = os.path.join(work, "vectors")
        self.queries_path = os.path.join(work, "queries")
        for p in (self.docs_path, self.corpus_path, self.queries_path):
            os.makedirs(p, exist_ok=True)
        ids, texts = zip(*self.corpus.docs)
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())}),
                       os.path.join(self.docs_path, "part-0.parquet"))
        for path, mat, offset in ((self.corpus_path, self.vectors.corpus, 0),
                                  (self.queries_path, self.vectors.queries, self.query_offset)):
            pq.write_table(
                pa.table({"vec_id": pa.array(range(offset, offset + len(mat)), pa.int64()),
                          "embedding": pa.array(list(mat), pa.list_(pa.float32()))}),
                os.path.join(path, "part-0.parquet"),
            )

    def cycle(self, run: Run, tag: str, timed: bool = True) -> None:
        op = run.op if timed else _untimed
        out = run.fresh_dir(f"survivors-{tag}")
        stages: dict = {}
        op("ingest", "llm.dedup_pipeline", lambda: self._pipeline(run, out, stages),
           lambda _: self._check_pipeline(run, out, stages))
        op("serve", "llm.knn_batch", lambda: self._knn(run), lambda rows: self._check_knn(run, rows))
        shutil.rmtree(out, ignore_errors=True)

    def _pipeline(self, run: Run, out: str, stages: dict) -> None:
        import pyspark.sql.functions as F

        from energi_data_etl_spark.operators.dedup import exact_dedup, near_dup_minhash
        from energi_data_etl_spark.operators.graph import connected_components
        from energi_data_etl_spark.operators.text import fingerprint, language_scores, quality_score

        span = run.tracer.span
        docs = run.spark.read.parquet(self.docs_path)
        with span("text.filter"):
            scored = language_scores(docs).withColumn("quality", quality_score())
            kept = (
                scored.filter((F.col("predicted_lang") == "en") & (F.col("quality") >= 0.5))
                .select("doc_id", "text")
                .localCheckpoint()
            )
        with span("dedup.exact_dedup"):
            reps = exact_dedup(kept, fingerprint(), id_col="doc_id")
            uniq = kept.join(reps.select("doc_id"), "doc_id").localCheckpoint()
        with span("dedup.near_dup_minhash.build"):
            pairs_plan = near_dup_minhash(uniq, threshold=self.threshold, max_bucket_size=self.cap)
        with span("dedup.near_dup_minhash.execute"):
            pairs = pairs_plan.localCheckpoint()
        with span("graph.connected_components.build"):
            comps_plan = connected_components(pairs)
        with span("graph.connected_components.execute"):
            comps = comps_plan.localCheckpoint()
        with span("llm.write_survivors"):
            dropped = comps.filter(F.col("id") != F.col("component")).select(F.col("id").alias("doc_id"))
            uniq.join(dropped, "doc_id", "left_anti").write.mode("overwrite").parquet(out)
        stages.update(kept=kept, uniq=uniq, pairs=pairs, comps=comps)

    def _check_pipeline(self, run: Run, out: str, stages: dict) -> str | None:
        c = self.corpus
        kept = {r[0] for r in stages["kept"].select("doc_id").collect()}
        if kept != c.kept_ids:
            return f"filter kept {len(kept)} docs, expected {len(c.kept_ids)}"
        uniq = {r[0] for r in stages["uniq"].select("doc_id").collect()}
        if uniq != c.exact_survivors:
            return f"exact dedup left {len(uniq)} docs, expected {len(c.exact_survivors)}"
        pairs = {(r["a"], r["b"]): r["jaccard"] for r in stages["pairs"].collect()}
        for (a, b), jac in pairs.items():
            true = gen.jaccard(c.shingles[a], c.shingles[b])
            if not (a < b and true >= self.threshold and abs(jac - true) <= 1e-6):
                return f"pair ({a}, {b}) reported with jaccard {jac}, true {true}"
        recall = len(c.specified_pairs & set(pairs)) / max(len(c.specified_pairs), 1)
        if recall < 0.95:
            return f"pair recall {recall:.3f} < 0.95 over {len(c.specified_pairs)} specified pairs"
        # components and survivors must follow from the reported pairs
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        want_comp = {x: find(x) for x in list(parent)}
        got_comp = {r["id"]: r["component"] for r in stages["comps"].collect()}
        if got_comp != want_comp:
            return f"connected components differ on {len(set(got_comp.items()) ^ set(want_comp.items()))} entries"
        survivors = {r["doc_id"] for r in _read_parquet(out)}
        want = uniq - {x for x, root in want_comp.items() if x != root}
        if survivors != want:
            return f"{len(survivors)} survivors written, expected {len(want)}"
        run.sample("text.docs_in", len(c.docs))
        run.sample("text.docs_kept", len(kept))
        run.sample("dedup.exact_removed", len(kept) - len(uniq))
        run.sample("dedup.verified_pairs", len(pairs))
        run.sample("dedup.pair_recall", recall)
        if run.tracer.enabled:
            self._sample_candidates(run, stages["uniq"], len(pairs))
        return None

    def _sample_candidates(self, run: Run, uniq, verified: int) -> None:
        """Trace only: LSH candidate pairs on the same signatures, for the
        verify yield (verified ÷ candidates)."""
        import pyspark.sql.functions as F

        from energi_data_etl_spark.operators.dedup import (
            hashed_shingles, lsh_candidate_pairs, minhash_signature, shingles,
        )

        with run.tracer.paused():
            sigs = uniq.select("doc_id", minhash_signature(hashed_shingles(shingles("text", 3)), 64).alias("sig"))
            n = lsh_candidate_pairs(sigs, bands=16, rows=4, max_bucket_size=self.cap).count()
        run.sample("dedup.candidate_pairs", n)
        run.sample("dedup.verify_yield", verified / max(n, 1))

    def _knn(self, run: Run) -> list:
        from energi_data_etl_spark.operators.similarity import ann_ivf_knn

        queries = run.spark.read.parquet(self.queries_path)
        corpus = run.spark.read.parquet(self.corpus_path)
        with run.tracer.span("similarity.ann_ivf_knn.build"):
            res = ann_ivf_knn(
                queries, corpus, k=self.k, n_centroids=self.n_centroids, nprobe=self.nprobe,
                corpus_count=len(self.vectors.corpus), seed=self.seed,
            )
        with run.tracer.span("similarity.ann_ivf_knn.execute"):
            return res.collect()

    def _check_knn(self, run: Run, rows: list) -> str | None:
        import numpy as np

        v = self.vectors
        got = defaultdict(list)
        for r in rows:
            got[r["query_id"] - self.query_offset].append(r["neighbor_id"])
        if len(rows) != len(v.queries) * self.k or any(len(n) != self.k for n in got.values()):
            return f"{len(rows)} neighbour rows for {len(v.queries)} queries × k={self.k}"
        cn = v.corpus.astype(np.float64)
        qn = v.queries.astype(np.float64)
        for r in rows[:: max(1, len(rows) // 50)]:
            q, n = qn[r["query_id"] - self.query_offset], cn[r["neighbor_id"]]
            cos = float(q @ n / np.linalg.norm(q) / np.linalg.norm(n))
            if abs(cos - r["cos_sim"]) > 1e-3:
                return f"cos_sim {r['cos_sim']} for a true cosine of {cos:.5f}"
        hits = sum(len(set(got[q]) & set(v.exact[q].tolist())) for q in range(len(v.queries)))
        recall = hits / (len(v.queries) * self.k)
        run.sample("similarity.ann_ivf_knn.recall_at_10", recall)
        floor = 0.6 if self.size == "full" else 0.2
        return None if recall >= floor else f"recall@{self.k} {recall:.3f} < {floor}"


WORKLOADS = {w.name: w for w in (Etl, LlmCorpus)}


def tail(values: list[float]) -> tuple[float, int]:
    """Highest percentile with at least ten samples beyond it, as
    (value, percentile); with fewer than 11 samples, the maximum."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0
    if n < 11:
        return xs[-1], 100
    pct = math.floor(100 * (n - 10) / n)
    return xs[min(n - 1, math.ceil(pct / 100 * n) - 1)], pct


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
