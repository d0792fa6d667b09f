"""Seeded input generators and their ground truth, one per workload.

Everything here is plain Python/numpy: the package under test receives
only the files and callables built here, and the checks compare its
outputs with the truth computed here from the same seed.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import zlib
from dataclasses import dataclass

import numpy as np

HOURS = 24


def _rng(*parts) -> np.random.RandomState:
    """A numpy RNG keyed by a stable hash of ``parts`` (never ``hash()``,
    which is salted per process and would differ on Spark's workers)."""
    return np.random.RandomState(zlib.crc32("|".join(map(str, parts)).encode()) & 0x7FFFFFFF)


def _stable_unit(*parts) -> float:
    return (zlib.crc32("|".join(map(str, parts)).encode()) & 0xFFFFFF) / float(0x1000000)


# --------------------------------------------------------------------------
# price API (etl: the scheduled job and the stream)
# --------------------------------------------------------------------------


def hourly_prices(seed: int, zone: str, day: dt.date) -> list[float]:
    """The day's 24 SEK_per_kWh values for one zone: a zone level, a
    daily swing and noise, all derived from (seed, zone, day)."""
    r = _rng("price", seed, zone, day.isoformat())
    level = 0.3 + 1.7 * _stable_unit("level", seed, zone)
    swing = 0.5 + 0.5 * np.sin(np.arange(HOURS) / HOURS * 2 * np.pi)
    return [round(float(v), 5) for v in level * swing + 0.2 * r.rand(HOURS)]


def api_records(seed: int, zone: str, day: dt.date) -> list[dict]:
    """One API document: the hourly records of (zone, day) in the
    reference API's shape (SEK_per_kWh, EUR_per_kWh, EXR, time_start,
    time_end, local time at +01:00)."""
    iso = day.isoformat()
    return [
        {
            "SEK_per_kWh": p,
            "EUR_per_kWh": round(p / 11.5, 5),
            "EXR": 11.5,
            "time_start": f"{iso}T{h:02d}:00:00+01:00",
            "time_end": f"{iso}T{h:02d}:59:59+01:00",
        }
        for h, p in enumerate(hourly_prices(seed, zone, day))
    ]


def daily_average(seed: int, zone: str, day: dt.date) -> float:
    p = hourly_prices(seed, zone, day)
    return sum(p) / len(p)


class FlakyFetcher:
    """Synthetic API fetcher for ``fetch_to_landing``. A seeded share of
    URLs fails on the first call of each task and succeeds on retry, so
    every run exercises the retry path a fixed number of times. Failures
    are counted in a Spark accumulator (``retries``)."""

    def __init__(self, seed: int, fail_share: float, retries=None) -> None:
        self.seed = seed
        self.fail_share = fail_share
        self.retries = retries
        self._failed: set[str] = set()

    def fails(self, url: str) -> bool:
        return _stable_unit("fail", self.seed, url) < self.fail_share

    def __call__(self, url: str) -> list[dict]:
        if url not in self._failed and self.fails(url):
            self._failed.add(url)
            if self.retries is not None:
                self.retries.add(1)
            raise ConnectionError(f"injected transient failure: {url}")
        # .../prices/{year}/{month:02d}-{day:02d}_{zone}.json
        year, leaf = url.rsplit("/", 2)[1:]
        month_day, zone = leaf[: -len(".json")].split("_", 1)
        month, day = month_day.split("-")
        return api_records(self.seed, zone, dt.date(int(year), int(month), int(day)))


def api_url(zone: str, day: dt.date) -> str:
    return f"https://www.elprisetjustnu.se/api/v1/prices/{day.year}/{day.month:02d}-{day.day:02d}_{zone}.json"


def days(start: dt.date, n: int) -> list[dt.date]:
    return [start + dt.timedelta(days=i) for i in range(n)]


def zones(n: int) -> list[str]:
    base = ["SE1", "SE2", "SE3", "SE4", "NO1", "NO2", "NO3", "NO4", "DK1", "DK2", "FI", "EE"]
    return base[:n]


def write_fact_history(path: str, seed: int, zone_list: list[str], day_list: list[dt.date]) -> None:
    """A date-partitioned fact table in the layout ``write_fact_table``
    produces (``date=YYYY-MM-DD/part-*.parquet`` holding zone, avg_price,
    load_timestamp), written with pyarrow so set-up needs no Spark job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    loaded = dt.datetime(2020, 1, 1, tzinfo=dt.timezone.utc)
    for day in day_list:
        part = os.path.join(path, f"date={day.isoformat()}")
        os.makedirs(part, exist_ok=True)
        table = pa.table(
            {
                "zone": pa.array(zone_list, pa.string()),
                "avg_price": pa.array([daily_average(seed, z, day) for z in zone_list], pa.float64()),
                "load_timestamp": pa.array([loaded] * len(zone_list), pa.timestamp("us", tz="UTC")),
            }
        )
        pq.write_table(table, os.path.join(part, "part-00000-history.snappy.parquet"))


# --------------------------------------------------------------------------
# price stream (etl)
# --------------------------------------------------------------------------


def write_stream_fixtures(
    fixture_dir: str,
    seed: int,
    zone_list: list[str],
    day_list: list[dt.date],
    dup_share: float,
    late_share: float,
) -> dict:
    """Per-day API documents under ``fixture_dir`` laid out like the URL
    space; returns the distinct (time_start, price) records of each
    (zone, day) document. Delivery is at least once: a seeded share of records appears
    twice in its document. A seeded share of documents also carries a
    record whose event time is 3-5 days earlier than the document's day
    (a late arrival; the watermark drops it once the stream is past it)."""
    distinct = {}
    for day in day_list:
        os.makedirs(os.path.join(fixture_dir, str(day.year)), exist_ok=True)
        for z in zone_list:
            r = random.Random(zlib.crc32(f"stream|{seed}|{z}|{day}".encode()))
            recs = api_records(seed, z, day)
            late = []
            if r.random() < late_share:
                back = day - dt.timedelta(days=r.randint(3, 5))
                old = api_records(seed, z, back)[r.randrange(HOURS)]
                late.append(dict(old, SEK_per_kWh=round(old["SEK_per_kWh"] + 1.0, 5)))
            doc = []
            for rec in recs + late:
                doc.append(rec)
                if r.random() < dup_share:
                    doc.append(dict(rec))
            r.shuffle(doc)
            with open(os.path.join(fixture_dir, str(day.year), f"{day.month:02d}-{day.day:02d}_{z}.json"), "w") as f:
                json.dump(doc, f)
            distinct[(z, day)] = [(x["time_start"], x["SEK_per_kWh"]) for x in recs + late]
    return distinct


def expected_stream_rows(documents: dict, catchup: list[dt.date], polled: list[dt.date], delay_days: int = 1) -> set:
    """The deduplicated row set the sink must hold after one catch-up
    poll over ``catchup`` (batch 0) and one poll per day of ``polled``
    (batches 1, 2, ...): every distinct (zone, date, time_start), less
    the late ones. Spark drops a row as late in batch b when its event
    time is at or below the watermark batch b-1 ran with, i.e. the
    highest event time of batches up to b-2 minus the delay; so nothing
    is dropped before batch 2."""
    batches = [catchup] + [[d] for d in polled]
    rows = set()
    max_ts: list[dt.datetime] = []  # highest event time up to each batch
    for b, batch_days in enumerate(batches):
        limit = max_ts[b - 2] - dt.timedelta(days=delay_days) if b >= 2 else None
        seen = max_ts[-1] if max_ts else None
        for (z, day), recs in documents.items():
            if day not in batch_days:
                continue
            for ts, p in recs:
                t = dt.datetime.fromisoformat(ts)
                seen = t if seen is None else max(seen, t)
                if limit is None or t > limit:
                    rows.add((z, day, ts, p))
        max_ts.append(seen)
    return rows


# --------------------------------------------------------------------------
# LLM corpus (llm_corpus)
# --------------------------------------------------------------------------

EN_STOP = ["the", "a", "and", "of", "to", "in", "is", "that", "it", "for"]
FR_STOP = ["le", "la", "les", "de", "et", "un", "une", "des", "que", "pour"]


def spark_tokens(text: str) -> list[str]:
    """``operators.text.tokens``: lowercase, split on single spaces, drop empties."""
    return [t for t in text.lower().split(" ") if t]


def shingle_set(text: str, n: int = 3) -> frozenset:
    """``operators.dedup.shingles``: distinct word n-grams (a short
    document yields its whole token list as one shingle)."""
    toks = spark_tokens(text)
    return frozenset(" ".join(toks[i : i + n]) for i in range(max(len(toks) - n, 0) + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / max(len(a | b), 1)


@dataclass
class Corpus:
    docs: list[tuple[int, str]]
    kept_ids: set  # survive the language + quality filter
    exact_survivors: set  # min id per exact-copy group among kept
    specified_pairs: set  # pairs the near-dup stage is specified to find
    shingles: dict  # doc_id -> shingle set (exact survivors only)


def make_corpus(
    seed: int,
    n_base: int,
    n_clusters: int,
    cluster_size: int,
    n_mega: int,
    mega_size: int,
    n_exact: int,
    n_junk: int,
    n_french: int,
    doc_len: int,
    threshold: float,
) -> Corpus:
    """A document corpus with planted structure:

    * ``n_junk`` short stopword-free documents (fail the quality filter)
      and ``n_french`` French documents (fail the language filter);
    * ``n_exact`` exact copies of English documents, differing only in
      case and surrounding whitespace (caught by ``exact_dedup``);
    * ``n_clusters`` near-duplicate clusters of ``cluster_size`` docs:
      a base document plus variants with a few words substituted;
    * ``n_mega`` clusters of ``mega_size`` templated documents differing
      only in their first word, larger than the LSH bucket cap, so the
      guardrail path runs.
    """
    r = random.Random(seed)
    vocab = [f"{w}{i}" for i, w in enumerate(["lorem", "ipsum", "dolor", "amet", "consect", "adipis", "elitum", "sedeio"] * 250)]

    def english(length: int) -> list[str]:
        out = []
        for _ in range(length):
            out.append(r.choice(EN_STOP) if r.random() < 0.3 else r.choice(vocab))
        return out

    def mutate(words: list[str], n_sub: int) -> list[str]:
        w = list(words)
        for pos in r.sample(range(len(w)), n_sub):
            w[pos] = r.choice(vocab)
        return w

    docs: list[tuple[int, str]] = []
    english_ids: list[int] = []
    clusters: list[list[int]] = []

    def add(words_or_text, english_doc: bool = True) -> int:
        doc_id = len(docs)
        text = words_or_text if isinstance(words_or_text, str) else " ".join(words_or_text)
        docs.append((doc_id, text))
        if english_doc:
            english_ids.append(doc_id)
        return doc_id

    for _ in range(n_base):
        add(english(doc_len))
    for _ in range(n_clusters):
        base = english(doc_len)
        ids = [add(base)]
        for _ in range(cluster_size - 1):
            ids.append(add(mutate(base, r.randint(1, 2))))
        clusters.append(ids)
    for _ in range(n_mega):
        base = english(doc_len)
        # templated pages: only the leading token (an id) differs, so every
        # band buckets the whole cluster together and the cap drops it
        for j in range(mega_size):
            add([f"page{j}"] + base[1:])
    junk = [add(" ".join(r.choice("xyzqk") * r.randint(1, 3) for _ in range(4)), False) for _ in range(n_junk)]
    french = []
    for _ in range(n_french):
        french.append(add(" ".join(r.choice(FR_STOP) if r.random() < 0.4 else r.choice(vocab) for _ in range(doc_len)), False))
    # exact copies: of plain base docs only, so each copy group stays out of
    # the near-dup clusters
    copy_of = {}
    for src in r.sample(range(n_base), n_exact):
        text = docs[src][1]
        copy_of[add(("  " + text.upper() + " ") if r.random() < 0.5 else text.title(), True)] = src
    # shuffle ids so planted structure is not contiguous in the id space
    perm = list(range(len(docs)))
    r.shuffle(perm)
    docs = [(perm[i], t) for i, t in docs]
    remap = perm.__getitem__
    kept = {remap(i) for i in english_ids}
    text_of = dict(docs)
    # exact groups from the fingerprint itself (``operators.text.fingerprint``:
    # lower + trim), not from construction, so chance collisions count too
    groups: dict[str, list[int]] = {}
    for i in kept:
        groups.setdefault(text_of[i].strip(" ").lower(), []).append(i)
    survivors = {min(g) for g in groups.values()}
    assert len(kept) - len(survivors) >= len(copy_of)
    sh = {i: shingle_set(text_of[i]) for i in survivors}
    specified = set()
    for ids in clusters:
        ids = sorted(remap(i) for i in ids if remap(i) in survivors)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                if jaccard(sh[ids[x]], sh[ids[y]]) >= threshold:
                    specified.add((ids[x], ids[y]))
    assert not (set(map(remap, junk)) | set(map(remap, french))) & kept
    return Corpus(
        docs=sorted(docs),
        kept_ids=kept,
        exact_survivors=survivors,
        specified_pairs=specified,
        shingles=sh,
    )


@dataclass
class Vectors:
    corpus: np.ndarray  # (n, d) float32
    queries: np.ndarray  # (q, d) float32
    exact: np.ndarray  # (q, k) int64, corpus row ids of the exact top-k by cosine


def make_vectors(seed: int, n: int, n_queries: int, dim: int, n_clusters: int, spread: float, k: int) -> Vectors:
    """Clustered embeddings (Gaussian clusters around random unit
    centres; ``spread`` sets how far neighbours spill into other IVF
    cells, so recall stays below 1) and the exact cosine top-k of each
    query, computed in numpy."""
    r = _rng("vectors", seed)
    centres = r.randn(n_clusters, dim)
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    # equal cluster sizes, so the IVF cells (and the work per query) vary
    # little from seed to seed
    corpus = (centres[np.arange(n) % n_clusters] + spread * r.randn(n, dim) / np.sqrt(dim)).astype(np.float32)
    queries = (centres[r.randint(0, n_clusters, n_queries)] + spread * r.randn(n_queries, dim) / np.sqrt(dim)).astype(np.float32)
    cn = corpus.astype(np.float64)
    cn /= np.linalg.norm(cn, axis=1, keepdims=True)
    qn = queries.astype(np.float64)
    qn /= np.linalg.norm(qn, axis=1, keepdims=True)
    sims = qn @ cn.T
    exact = np.argsort(-sims, axis=1, kind="stable")[:, :k]
    return Vectors(corpus, queries, exact)
