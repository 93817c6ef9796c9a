"""The three workloads: inputs, the timed operation, the correctness
gates and the traced (layer-by-layer) pass.

Every workload drives the engine only through its public functions.
Inputs are pure functions of ``(size, seed)`` (``synth_pages`` /
``synth_labels``) and are written to parquet once per run, before any
timing starts.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import pandas as pd
from pyspark.sql import functions as F

from dedupe_algo_spark import synth
from dedupe_algo_spark.operators.candidates import (
    DEFAULT_MAX_BUCKET,
    bucket_table_from_bands,
    candidate_pairs,
    dropped_buckets,
)
from dedupe_algo_spark.operators.cluster import connected_components
from dedupe_algo_spark.operators.dedup import (
    assign_exact,
    page_meta,
    page_meta_incremental,
)
from dedupe_algo_spark.operators.scoring import (
    DEFAULT_THRESHOLD,
    band_gate,
    confirm_pairs,
)
from dedupe_algo_spark.pipeline import dedup_pipeline, pairwise_f1
from dedupe_algo_spark.schemas import MEMO_SCHEMA
from dedupe_algo_spark.sources.audit import audit_stage_hook
from dedupe_algo_spark.sources.bucketed import (
    incremental_near_candidates,
    read_near_index,
)
from dedupe_algo_spark.sources.memo import HashMemo
from dedupe_algo_spark.tracking import PersistTracker
from jobs.incremental_job import build_index, probe_batch

MIN_LEN = 10  # dedup_pipeline's and the probe CLI's default --min-len
F1_GATE = 0.99  # BASELINE.json pairwise-F1 gate

FULL_PAGES = 4_000
MEMO_PAGES = 4_000
MEMO_CHANGED_MOD = 10  # one row in ten changes between the two days
# Base rows at these block offsets belong to no planted cluster and no
# labeled pair (0-9 donors, 10-19 distractor targets, 69 edge row,
# 70-99 copies), so rewriting their text keeps the labels valid.
MEMO_REWRITE_OFFSETS = range(20, synth.EDGE_OFF)

PROBE_CORPUS_BLOCKS = 40  # index = offsets 0-79 of these blocks
PROBE_BATCHES = 2
PROBE_COPY_BLOCKS = 25  # offsets 80-99 of 25 indexed blocks per batch ...
PROBE_FRESH_BLOCKS = 5  # ... plus 5 whole never-indexed blocks
INDEX_NAME = "pbseen"
INDEX_TABLES = tuple(f"{INDEX_NAME}_{t}" for t in ("hashes", "bands", "text"))


def _files(path: str) -> list[str]:
    return [os.path.join(d, f) for d, _, files in os.walk(path) for f in files]


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in _files(path))


def _idx():
    """Row index of a synthetic page, parsed back out of its url."""
    return F.regexp_extract(F.col("url"), r"/p/(\d+)$", 1).cast("long")


def _sha256(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


class Context:
    """Per-run state the workloads share: the session, the run's scratch
    directory, the seed and the size scale."""

    def __init__(self, spark, work: str, seed: int, scale: float, iteration=0):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.iteration = iteration

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def group(self, name: "str | None") -> None:
        """Tag the Spark jobs submitted from here on (event-log
        attribution: see measure.read_event_log)."""
        label = f"pb:{self.iteration}:{name}" if name else "pb:none"
        self.spark.sparkContext.setJobGroup(label, label)

    def count(self, df) -> int:
        """A count the benchmark needs for a metric, kept out of every
        layer's job group."""
        self.group("count")
        return df.count()


def _idle(tr, *layers: str) -> None:
    for name in layers:
        with tr.span(name):
            pass


def _audit_hook(ctx: Context, tr, tracker: PersistTracker):
    """The pipeline's default stage hook, with its deferred flush timed."""
    hook = audit_stage_hook(ctx.spark, tracker=tracker)
    flush = hook.flush

    def timed_flush() -> None:
        with tr.span("audit.flush"):
            flush()

    hook.flush = timed_flush
    return hook


def _audit_rows(ctx: Context, hook) -> int:
    return ctx.count(hook.audit.read().where(F.col("run_id") == hook.run_id))


def _pipeline_layers(ctx: Context, tr, pages_path: str, memo=None) -> dict:
    """The dedup pipeline's layers called one by one, in pipeline order,
    each output persisted and counted inside its span (so the span is
    that layer's self time). Mirrors ``dedup_pipeline``'s default path:
    bands-only signatures, band-collision gate, exact token confirm."""
    spark = ctx.spark
    track = PersistTracker()
    c: dict = {}
    try:
        with tr.span("scan"):
            pages = track.persist(spark.read.parquet(pages_path))
            pages.count()
        c["scan.bytes"] = dir_bytes(pages_path)
        if memo is None:
            _idle(tr, "memo.read")
            with tr.span("page_meta"):
                meta = track.persist(page_meta(pages, min_len=MIN_LEN))
                c["page_meta.rows"] = meta.count()
            c["memo.hit_ratio"] = 0.0
        else:
            with tr.span("memo.read"):
                memo_df = track.persist(memo.read())
                memo_df.count()
            with tr.span("page_meta"):
                meta = track.persist(
                    page_meta_incremental(pages, memo_df, min_len=MIN_LEN)
                )
                c["page_meta.rows"] = meta.count()
            hits = ctx.count(meta.where(F.col("cache_hit")))
            c["memo.hit_ratio"] = hits / max(1, c["page_meta.rows"])
        with tr.span("assign_exact"):
            assigned = track.persist(assign_exact(meta))
            assigned.count()
        c["assign_exact.dup_rows"] = ctx.count(
            assigned.where(F.col("cluster_size") >= 2)
        )
        rep_keys = assigned.where(F.col("url") == F.col("rep_url")).select(
            "url", "bands"
        )
        with tr.span("candidates"):
            buckets = track.persist(bucket_table_from_bands(rep_keys))
            c["candidates.bucket_rows"] = buckets.count()
            pairs = track.persist(
                candidate_pairs(
                    buckets,
                    max_bucket=DEFAULT_MAX_BUCKET,
                    with_counts=True,
                    tracker=track,
                )
            )
            c["candidates.pairs"] = pairs.count()
        c["candidates.dropped_buckets"] = ctx.count(dropped_buckets(buckets))
        with tr.span("band_gate"):
            cands = track.persist(band_gate(pairs).select("url_a", "url_b"))
            c["confirm.pairs_in"] = cands.count()
        c["band_gate.pass_ratio"] = c["confirm.pairs_in"] / max(
            1, c["candidates.pairs"]
        )
        with tr.span("confirm"):
            edges = track.persist(
                confirm_pairs(cands, pages, threshold=DEFAULT_THRESHOLD, tracker=track)
            )
            c["confirm.edges_out"] = edges.count()
        c["confirm.yield"] = c["confirm.edges_out"] / max(1, c["confirm.pairs_in"])
        c["cc.edges_in"] = c["confirm.edges_out"]
        with tr.span("cc"):
            comp = connected_components(
                edges.select(F.col("url_a").alias("src"), F.col("url_b").alias("dst")),
                tracker=track,
            )
            comp.count()
        c["cc.components"] = ctx.count(comp.select("component").distinct())
        if memo is None:
            _idle(tr, "memo.upsert")
            c["memo.bytes_written"] = 0
        else:
            before = set(_files(memo.path))
            with tr.span("memo.upsert"):
                memo.upsert(meta.select(*MEMO_SCHEMA.fieldNames()))
            # the upsert writes new versions of the touched shards
            c["memo.bytes_written"] = sum(
                os.path.getsize(f) for f in _files(memo.path) if f not in before
            )
        _idle(tr, "probe.exact", "probe.near", "probe.unseen")
        c.update({"probe.near_candidates": 0, "probe.near_hits": 0})
    finally:
        track.release()
    return c


class Workload:
    """One workload: ``prepare`` (inputs, untimed), ``setup`` (program
    set-up, timed into ``setup_s`` together with ``warm_up``), ``op``
    (one timed operation), ``gates`` (correctness, untimed) and
    ``traced_iteration`` (the per-layer pass)."""

    name = ""

    def __init__(self, ctx: Context):
        self.ctx = ctx

    def setup(self, tr) -> None:
        _idle(tr, "index.build")

    def index_bytes(self) -> int:
        return 0


class FullDedup(Workload):
    """A cold ``dedup_pipeline`` over a materialized ``synth_pages`` table
    (planted exact and near blocks, skew blocks on the Zipf head
    domain), committed as a parquet cluster table."""

    name = "full_dedup"

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        self.n = max(1_000, int(FULL_PAGES * ctx.scale))
        self.pages = ctx.path("input", "pages")
        self.clusters = ctx.path("out", "clusters")

    def size(self) -> dict:
        return {"pages": self.n}

    def prepare(self) -> None:
        s = self.ctx.spark
        synth.synth_pages(s, self.n, seed=self.ctx.seed).write.parquet(self.pages)

    def warm_up(self) -> None:
        self.op(-1)

    def op(self, i: int) -> tuple[float, int]:
        t0 = time.perf_counter()
        res = dedup_pipeline(self.ctx.spark.read.parquet(self.pages))
        res.clusters.write.mode("overwrite").parquet(self.clusters)
        res.unpersist()
        return time.perf_counter() - t0, self.n

    def gates(self) -> dict:
        s = self.ctx.spark
        clusters = s.read.parquet(self.clusters)
        f1 = pairwise_f1(clusters, synth.synth_labels(s, self.n, seed=self.ctx.seed))
        diff = exact_tier_diff(
            s.read.parquet(self.pages).select("url", "text").toPandas(),
            clusters.toPandas(),
        )
        return {
            "pair_f1": {"value": f1["f1"], "ok": f1["f1"] >= F1_GATE, "detail": f1},
            "result_diff": {"value": diff, "ok": diff == 0},
        }

    def traced_iteration(self, tr) -> dict:
        ctx = self.ctx
        op_track = PersistTracker()
        hook = _audit_hook(ctx, tr, op_track)
        with tr.span("op"):
            res = dedup_pipeline(ctx.spark.read.parquet(self.pages), stage=hook)
            res.clusters.write.mode("overwrite").parquet(self.clusters)
            res.unpersist()
            op_track.release()
        with tr.span("layers"):
            c = _pipeline_layers(ctx, tr, self.pages)
        c["audit.rows_written"] = _audit_rows(ctx, hook)
        return c


def exact_tier_diff(pages: pd.DataFrame, clusters: pd.DataFrame) -> int:
    """Rows where the committed exact tier differs from a driver-side
    recomputation (hashlib SHA-256 over every text of at least
    ``MIN_LEN`` characters, grouped by (length, digest)): urls labeled
    "exact" that should not be, or missing, plus every exact group
    whose members do not share one cluster_id."""
    p = pages[pages["text"].str.len() >= MIN_LEN].copy()
    p["key"] = p["text"].str.len().astype(str) + ":" + p["text"].map(_sha256)
    sizes = p.groupby("key")["url"].transform("size")
    grouped = p[sizes >= 2]
    expected = set(grouped["url"])
    got = set(clusters.loc[clusters["match_kind"] == "exact", "url"])
    cid = dict(zip(clusters["url"], clusters["cluster_id"]))
    split = sum(
        1
        for _, urls in grouped.groupby("key")["url"]
        if len({cid.get(u) for u in urls}) != 1
    )
    return len(expected ^ got) + split


def cluster_diff(a: pd.DataFrame, b: pd.DataFrame) -> int:
    """Rows (urls) whose (cluster_id, match_kind) differ between two
    committed cluster tables, a url missing from one side included."""
    m = a.merge(b, on="url", how="outer", suffixes=("_a", "_b"))
    same = (m["cluster_id_a"] == m["cluster_id_b"]) & (
        m["match_kind_a"] == m["match_kind_b"]
    )
    return int((~same).sum())


class MemoRescan(Workload):
    """``dedup_pipeline(memo=HashMemo)`` plus ``commit_memo()`` over a
    second-day table in which one row in ten changed (new warc_ts; on
    unlabeled singleton rows also new text), against a memo seeded from
    the first day. The memo is restored to its seeded state before
    every operation."""

    name = "memo_rescan"

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        self.n = max(1_000, int(MEMO_PAGES * ctx.scale))
        self.day1 = ctx.path("input", "day1")
        self.day2 = ctx.path("input", "day2")
        self.seeded = ctx.path("input", "memo_seeded")
        self.memo_path = ctx.path("memo")
        self.clusters = ctx.path("out", "clusters")
        self.cold = ctx.path("out", "cold")
        self.hits: list[int] = []

    def size(self) -> dict:
        return {"pages": self.n, "changed_rows": self.n_changed}

    def prepare(self) -> None:
        s, seed = self.ctx.spark, self.ctx.seed
        synth.synth_pages(s, self.n, seed=seed).write.parquet(self.day1)
        day1 = s.read.parquet(self.day1)
        idx = _idx()
        off, blk = idx % synth.BLOCK, (idx / synth.BLOCK).cast("long")
        changed = (
            F.pmod(F.xxhash64("url", F.lit(seed)), F.lit(MEMO_CHANGED_MOD)) == 0
        )
        skew_copy = (blk % synth.SKEW_EVERY == 0) & (
            off >= synth.SKEW_COPY_RANGE.start
        )
        rewrite = (
            changed
            & (off >= MEMO_REWRITE_OFFSETS.start)
            & (off < MEMO_REWRITE_OFFSETS.stop)
            & ~skew_copy
        )
        day2 = day1.select(
            "url",
            F.when(changed, F.col("warc_ts") + F.expr("INTERVAL 1 DAY"))
            .otherwise(F.col("warc_ts"))
            .alias("warc_ts"),
            "html",
            F.when(rewrite, F.concat("text", F.lit(" revised")))
            .otherwise(F.col("text"))
            .alias("text"),
            "lang",
        )
        day2.write.parquet(self.day2)
        d1 = s.read.parquet(self.day1).select(
            "url", F.col("warc_ts").alias("ts1"), F.col("text").alias("text1")
        )
        same = (F.col("warc_ts") == F.col("ts1")) & (F.col("text") == F.col("text1"))
        stats = (
            s.read.parquet(self.day2)
            .join(d1, "url")
            .agg(
                F.sum((~same).cast("long")).alias("changed"),
                # hits the memo must serve: unchanged rows the pipeline keeps
                F.sum((same & (F.length("text") >= MIN_LEN)).cast("long")).alias(
                    "hits"
                ),
            )
            .first()
        )
        self.n_changed, self.expected_hits = stats["changed"], stats["hits"]
        # The memo as day one's commit_memo() leaves it: one row of
        # (url, text_len, warc_ts, hashes) per page of day one.
        HashMemo(s, self.seeded).upsert(
            page_meta(
                s.read.parquet(self.day1),
                min_len=MIN_LEN,
                with_signature=False,
                with_ts=True,
            ).select(*MEMO_SCHEMA.fieldNames())
        )

    def warm_up(self) -> None:
        """A cold pass (no memo) over day two: it warms the session and
        its clusters are the reference the ``result_diff`` gate holds
        every warm pass to."""
        res = dedup_pipeline(self.ctx.spark.read.parquet(self.day2))
        res.clusters.write.mode("overwrite").parquet(self.cold)
        res.unpersist()

    def _reset_memo(self) -> None:
        shutil.rmtree(self.memo_path, ignore_errors=True)
        shutil.copytree(self.seeded, self.memo_path)

    def op(self, i: int) -> tuple[float, int]:
        self._reset_memo()
        s = self.ctx.spark
        t0 = time.perf_counter()
        res = dedup_pipeline(
            s.read.parquet(self.day2), memo=HashMemo(s, self.memo_path)
        )
        res.clusters.write.mode("overwrite").parquet(self.clusters)
        res.commit_memo()
        dt = time.perf_counter() - t0
        self.hits.append(res.meta.where(F.col("cache_hit")).count())
        res.unpersist()
        return dt, self.n

    def gates(self) -> dict:
        s = self.ctx.spark
        warm = s.read.parquet(self.clusters)
        f1 = pairwise_f1(warm, synth.synth_labels(s, self.n, seed=self.ctx.seed))
        diff = cluster_diff(warm.toPandas(), s.read.parquet(self.cold).toPandas())
        bad_hits = [h for h in self.hits if h != self.expected_hits]
        return {
            "pair_f1": {"value": f1["f1"], "ok": f1["f1"] >= F1_GATE, "detail": f1},
            "result_diff": {"value": diff, "ok": diff == 0},
            "memo_hits": {
                "value": self.hits,
                "expected": self.expected_hits,
                "ok": not bad_hits,
            },
        }

    def traced_iteration(self, tr) -> dict:
        ctx = self.ctx
        s = ctx.spark
        self._reset_memo()
        op_track = PersistTracker()
        hook = _audit_hook(ctx, tr, op_track)
        with tr.span("op"):
            res = dedup_pipeline(
                s.read.parquet(self.day2),
                memo=HashMemo(s, self.memo_path),
                stage=hook,
            )
            res.clusters.write.mode("overwrite").parquet(self.clusters)
            res.commit_memo()
        self.hits.append(ctx.count(res.meta.where(F.col("cache_hit"))))
        res.unpersist()
        op_track.release()
        self._reset_memo()
        with tr.span("layers"):
            c = _pipeline_layers(
                ctx, tr, self.day2, memo=HashMemo(s, self.memo_path)
            )
        c["audit.rows_written"] = _audit_rows(ctx, hook)
        return c


class ProbeIngest(Workload):
    """Daily ingest against a seen-corpus: a bucketed index built in
    set-up with ``build_index``, then a closed loop of ``probe_batch``
    calls over pre-materialized ~1k-page batches, each writing the
    ``unseen`` / ``exact`` / ``near`` outputs as the ``probe``
    subcommand does. A batch holds the exact and near copies (block
    offsets 80-99) of indexed blocks plus whole never-indexed blocks."""

    name = "probe_ingest"

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        self.corpus_blocks = max(
            PROBE_COPY_BLOCKS, int(PROBE_CORPUS_BLOCKS * ctx.scale)
        )
        self.n_total = (
            self.corpus_blocks + PROBE_FRESH_BLOCKS * PROBE_BATCHES
        ) * synth.BLOCK
        self.all = ctx.path("input", "all")
        self.corpus = ctx.path("input", "corpus")
        self.batches = [ctx.path("input", f"batch{j}") for j in range(PROBE_BATCHES)]
        self.index = ctx.path("index", INDEX_NAME)
        self.probed: set[int] = set()

    def size(self) -> dict:
        return {
            "index_pages": self.n_corpus,
            "batch_pages": self.batch_rows,
            "batches": PROBE_BATCHES,
        }

    def _out(self, j: int, part: str) -> str:
        return self.ctx.path("out", f"probe{j}", part)

    def prepare(self) -> None:
        s, seed = self.ctx.spark, self.ctx.seed
        synth.synth_pages(s, self.n_total, seed=seed).write.parquet(self.all)
        pages = s.read.parquet(self.all)
        idx = _idx()
        off, blk = idx % synth.BLOCK, (idx / synth.BLOCK).cast("long")
        cb = self.corpus_blocks
        pages.where((blk < cb) & (off < synth.EXACT_COPY_OFF)).write.parquet(
            self.corpus
        )
        per = min(PROBE_COPY_BLOCKS, cb)
        for j, path in enumerate(self.batches):
            copies = (
                (blk < cb)
                & (off >= synth.EXACT_COPY_OFF)
                & (F.pmod(blk - F.lit(per * j), F.lit(cb)) < per)
            )
            fresh = (blk >= cb) & (
                ((blk - F.lit(cb)) / PROBE_FRESH_BLOCKS).cast("long") == j
            )
            pages.where(copies | fresh).write.parquet(path)
        self.n_corpus = s.read.parquet(self.corpus).count()
        self.batch_rows = [s.read.parquet(p).count() for p in self.batches]

    def setup(self, tr) -> None:
        with tr.span("index.build"):
            s = self.ctx.spark
            build_index(s, s.read.parquet(self.corpus), INDEX_NAME, self.index)

    def index_bytes(self) -> int:
        return sum(dir_bytes(f"{self.index}_{t}") for t in ("hashes", "bands", "text"))

    def _batch(self, j: int):
        return self.ctx.spark.read.parquet(self.batches[j]).where(
            F.length("text") >= MIN_LEN
        )

    def warm_up(self) -> None:
        self.op(0)

    def op(self, i: int) -> tuple[float, int]:
        j = i % PROBE_BATCHES
        s = self.ctx.spark
        t0 = time.perf_counter()
        unseen, exact, near = probe_batch(s, self._batch(j), INDEX_NAME)
        unseen.write.mode("overwrite").parquet(self._out(j, "unseen"))
        exact.write.mode("overwrite").parquet(self._out(j, "exact"))
        near.write.mode("overwrite").parquet(self._out(j, "near"))
        # probe_batch leaves its batch-side frames cached; the probe CLI
        # runs each batch in a fresh process, so drop them here rather
        # than let the next probe of an identical plan reuse them
        s.catalog.clearCache()
        dt = time.perf_counter() - t0
        self.probed.add(j)
        return dt, self.batch_rows[j]

    def gates(self) -> dict:
        s = self.ctx.spark
        corpus = s.read.parquet(self.corpus).select("url", "text").toPandas()
        by_sha: dict[str, list[str]] = {}
        for u, t in zip(corpus["url"], corpus["text"]):
            by_sha.setdefault(_sha256(t), []).append(u)
        corpus_urls = set(corpus["url"])
        labels = synth.synth_labels_pdf(self.n_total, seed=self.ctx.seed)
        labels = labels[labels["is_dup"]]
        diff = tp = fp = fn = 0
        for j in sorted(self.probed):
            batch = self._batch(j).select("url", "text").toPandas()
            expected = {
                (u, cu)
                for u, t in zip(batch["url"], batch["text"])
                for cu in by_sha.get(_sha256(t), ())
            }
            exact = s.read.parquet(self._out(j, "exact")).toPandas()
            got = set(zip(exact["url"], exact["corpus_url"]))
            diff += len(expected ^ got)
            near = s.read.parquet(self._out(j, "near")).toPandas()
            predicted = got | set(zip(near["url"], near["corpus_url"]))
            burls = set(batch["url"])
            truth = set()
            for a, b in zip(labels["url_a"], labels["url_b"]):
                if a in burls and b in corpus_urls:
                    truth.add((a, b))
                elif b in burls and a in corpus_urls:
                    truth.add((b, a))
            tp += len(predicted & truth)
            fp += len(predicted - truth)
            fn += len(truth - predicted)
        precision = tp / (tp + fp) if tp + fp else 1.0
        recall = tp / (tp + fn) if tp + fn else 1.0
        f1 = (
            2 * precision * recall / (precision + recall)
            if precision + recall
            else 0.0
        )
        detail = {"tp": tp, "fp": fp, "fn": fn, "precision": precision, "recall": recall}
        return {
            "pair_f1": {"value": f1, "ok": f1 >= F1_GATE, "detail": detail},
            "result_diff": {"value": diff, "ok": diff == 0},
        }

    def traced_iteration(self, tr) -> dict:
        j = self.ctx.iteration % PROBE_BATCHES
        with tr.span("op"):
            self.op(j)
        with tr.span("layers"):
            c = self._probe_layers(tr, j)
        _idle(tr, "audit.flush")
        return c

    def _probe_layers(self, tr, j: int) -> dict:
        """``probe_batch``'s three outputs materialized one at a time,
        each in its own span; the dedup-pipeline layers are idle."""
        ctx = self.ctx
        s = ctx.spark
        track = PersistTracker()
        c: dict = {}
        try:
            with tr.span("scan"):
                batch = track.persist(self._batch(j))
                n = batch.count()
            c["scan.bytes"] = dir_bytes(self.batches[j])
            _idle(tr, "memo.read", "page_meta", "assign_exact", "candidates")
            _idle(tr, "band_gate", "confirm", "cc", "memo.upsert")
            unseen, exact, near = probe_batch(s, batch, INDEX_NAME)
            with tr.span("probe.exact"):
                exact = track.persist(exact)
                exact.count()
            with tr.span("probe.near"):
                c["probe.near_hits"] = track.persist(near).count()
            with tr.span("probe.unseen"):
                track.persist(unseen).count()
            bands, _ = read_near_index(s, INDEX_NAME)
            c["probe.near_candidates"] = ctx.count(
                incremental_near_candidates(batch, bands)
            )
            c["probe.batch_rows"] = n
        finally:
            track.release()
            s.catalog.clearCache()
        c.update(
            {
                "page_meta.rows": 0,
                "memo.hit_ratio": 0.0,
                "memo.bytes_written": 0,
                "assign_exact.dup_rows": 0,
                "candidates.bucket_rows": 0,
                "candidates.pairs": 0,
                "candidates.dropped_buckets": 0,
                "band_gate.pass_ratio": 0.0,
                "confirm.pairs_in": 0,
                "confirm.edges_out": 0,
                "confirm.yield": 0.0,
                "cc.edges_in": 0,
                "cc.components": 0,
                "audit.rows_written": 0,
            }
        )
        return c


WORKLOADS = {w.name: w for w in (FullDedup, MemoRescan, ProbeIngest)}
