"""The traced run's layer suite: each engine layer timed on its own input.

Layer inputs are materialized to parquet first, so each layer time is that
layer's own work (plus reading its input), not a cumulative prefix of the
pipeline. Materializing runs the same calls on the same input, so the
timed calls that follow find their code compiled. The checkpoint layers
are read from the rounds' spans when the workload's rounds make those
calls; otherwise they run here on a small text corpus from the same seed,
so every traced run reports every layer. The near-dup operators (dedup,
components, similarity) run here on a seeded corpus with planted
duplicates, and their outputs are checked like a workload's; they first
run on a tiny warm-up input under a span named "warm", whose figures are
dropped.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
from pyspark.sql import Window, functions as F

import checks
import inputs
import procstat
from ops import NEAR_DUP, checkpoint_round, near_dup_round, noop, write_docs, write_near_dup
from spans import EventLog, Tracer
from tesseract_recognize_spark.functions.emission import emit_page_rows
from tesseract_recognize_spark.operators.dedup import minhash_lsh_pairs
from tesseract_recognize_spark.operators.explode import explode_spans
from tesseract_recognize_spark.operators.normalize import normalize_text_spans, trim_text
from tesseract_recognize_spark.operators.ocr import ocr_expand
from tesseract_recognize_spark.operators.ocr_core import decode_raster
from tesseract_recognize_spark.operators.postpass import (
    build_coords_array,
    p1_apply_orientation,
    p2_dominant_baselines,
    p3_fill_word_coords,
    t1_block_filter,
    t3_coords,
)
from tesseract_recognize_spark.plans.pipeline import extract
from tesseract_recognize_spark.schemas import FINAL_COLUMNS
from tesseract_recognize_spark.sources.media import resolve_media

KERNEL_PAGES = 40
NEAR_DUP_DOCS = 300


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _salted(media_in, cfg):
    return media_in.repartition(cfg.media_partitions, "doc_id", "offset")


def _union(spans, ocr_out):
    """The text branch and the filtered media rows, aligned to one schema
    as ``plans.pipeline.extract`` aligns them before its doc_id exchange."""
    media = t3_coords(t1_block_filter(ocr_out))
    media = media.drop("x0", "y0", "x1", "y1", "full_page", "error")
    media = media.withColumn("kind", F.lit("media")).withColumn("text", trim_text(F.col("text")))
    text = normalize_text_spans(spans).withColumn("kind", F.lit("text"))
    for c in media.columns:
        if c not in text.columns:
            text = text.withColumn(c, F.lit(None).cast(media.schema[c].dataType))
    return text.select(media.columns).unionByName(media)


def _windows(all_rows):
    """``extract``'s tail: the doc_id exchange, P1/P3/P2, coords and the
    order window."""
    rows = p1_apply_orientation(all_rows.repartition("doc_id"))
    rows = build_coords_array(p2_dominant_baselines(p3_fill_word_coords(rows)))
    w = Window.partitionBy("doc_id").orderBy("offset", "line_sub", "sub_order")
    return rows.withColumn("order", (F.row_number().over(w) - 1).cast("int")).select(*FINAL_COLUMNS)


class Suite:
    def __init__(self, spark, tracer: Tracer, wl, seed: int) -> None:
        self.spark = spark
        self.tracer = tracer
        self.wl = wl
        self.seed = seed
        self.counts: dict[str, float] = {}
        self.work = wl.path("layers")
        os.makedirs(self.work)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def run(self) -> list[str]:
        """Runs every layer; returns the near-dup outputs that failed
        their checks."""
        wl = self.wl
        self.extraction(wl.corpus, wl.df)
        self.kernels(wl.corpus)
        if not wl.rounds_checkpoint:
            # no warm-up: the group times' median passes over the first,
            # colder group
            write_docs(inputs.text_heavy_docs(40, self.seed), self.path("text"))
            with self.tracer.span("layers"):
                checkpoint_round(self.spark.read.parquet(self.path("text")),
                                 self.path("ckpt"), 4, wl.cfg, self.tracer)
        return self.near_dup()

    def near_dup(self) -> list[str]:
        """The dedup, components and similarity calls on a corpus with
        planted duplicates, with the same checks as any workload output."""
        read = self.spark.read.parquet
        bad: set[str] = set()
        for top, n_docs, seed in (
            ("warm", 30, self.seed + inputs.WARM_SALT),
            ("layers", NEAR_DUP_DOCS, self.seed),
        ):
            corpus, vecs, planted_text, planted_emb = inputs.near_dup_corpus(
                n_docs, seed, NEAR_DUP["dim"])
            write_near_dup(corpus, vecs, self.path(f"{top}-nd.parquet"), self.path(f"{top}-emb.parquet"))
            nd = read(self.path(f"{top}-nd.parquet"))
            with self.tracer.span(top):
                out = near_dup_round(nd, read(self.path(f"{top}-emb.parquet")), self.tracer)
                if top == "layers":
                    with self.tracer.span("dedup.candidates"):
                        self.counts["dedup.candidates"] = minhash_lsh_pairs(
                            nd, n_hashes=16, band_size=4, bucket_cap=100
                        ).count()
            bad.update(checks.near_dup(corpus, vecs, planted_text, planted_emb, out))
        return sorted(bad)

    def extraction(self, docs, df) -> None:
        cfg = self.wl.cfg
        read = self.spark.read.parquet
        with self.tracer.span("materialize"):
            explode_spans(df).write.parquet(self.path("spans"))
            spans = read(self.path("spans"))
            spans.filter(F.col("kind") == "media").select(
                "doc_id", "offset", "media_ref", "media_idx", "n_media"
            ).write.parquet(self.path("media_in"))
            media_in = read(self.path("media_in"))
            ocr_expand(_salted(media_in, cfg), cfg).write.parquet(self.path("ocr_out"))
            ocr_out = read(self.path("ocr_out"))
            _union(spans, ocr_out).write.parquet(self.path("all_rows"))
            all_rows = read(self.path("all_rows"))
            self.counts["explode.rows"] = spans.count()
            self.counts["ocr.pages"] = media_in.count()
            self.counts["ocr.rows_out"] = ocr_out.count()
            self.counts["ocr.quarantined"] = ocr_out.where(F.col("error").isNotNull()).count()
        span = self.tracer.span
        jvm = os.getppid()

        def layers() -> None:
            with span("pipeline.build"):
                out = extract(df, cfg)
            with span("pipeline.plan"):
                out._jdf.queryExecution().executedPlan()
            with span("pipeline.extract"):
                noop(out)
            with span("explode"):
                noop(explode_spans(df))
            with span("normalize"):
                noop(normalize_text_spans(spans))
            cpu0 = procstat.tree_cpu_s(jvm)
            with span("ocr"):
                noop(ocr_expand(_salted(media_in, cfg), cfg))
            self.counts["ocr.cpu_s"] = procstat.tree_cpu_s(jvm) - cpu0
            with span("postpass.filter"):
                noop(t3_coords(t1_block_filter(ocr_out)))
            with span("postpass.windows"):
                noop(_windows(all_rows))

        with span("layers"):
            layers()

    def kernels(self, docs) -> None:
        """Per-page CPU of the OCR stage's three kernels, in this process,
        on a seeded sample of the corpus's pages."""
        refs = sorted(s["media_ref"] for d in docs for s in d["spans"] if s["kind"] == "media")
        rng = np.random.default_rng([self.seed, 11])
        refs = [refs[i] for i in rng.choice(len(refs), min(KERNEL_PAGES, len(refs)), replace=False)]
        cost = {"resolve": 0.0, "decode": 0.0, "emit": 0.0}
        with self.tracer.span("layers"), self.tracer.span("kernels"):
            for ref in refs:
                t0 = time.thread_time()
                raster = resolve_media(ref)
                t1 = time.thread_time()
                page = decode_raster(raster)
                t2 = time.thread_time()
                emit_page_rows(page, self.wl.cfg, 1, 1)
                t3 = time.thread_time()
                cost["resolve"] += t1 - t0
                cost["decode"] += t2 - t1
                cost["emit"] += t3 - t2
        for k, v in cost.items():
            self.counts[f"kernel.{k}_ms"] = 1000.0 * v / max(len(refs), 1)

    def metrics(self, log: EventLog, rounds: int, session_s: float) -> dict:
        tr, c = self.tracer, self.counts

        def secs(name: str) -> float:
            return _median(s["end"] - s["start"] for s in tr.finished(name))

        def jobs_per_call(name: str) -> float:
            calls = tr.finished(name)
            return sum(
                len(log.jobs_in(s["label"], s["start"], s["end"])) for s in calls
            ) / max(len(calls), 1)

        def commit_overhead() -> float:
            """Commit time after the query that writes the group's rows
            has finished: the read-back counts and the manifest append."""
            out = []
            for s in tr.finished("tableio.commit"):
                jobs = [log.jobs[j] for j in log.jobs_in(s["label"], s["start"], s["end"])]
                write_end = max(
                    (j["end_ms"] for j in jobs if j["sql_id"] == jobs[0]["sql_id"]),
                    default=None,
                )
                if write_end is not None:
                    out.append(s["end"] - write_end / 1000.0)
            return _median(out)

        rt = log.totals("round")
        per_round = max(rounds, 1)
        kernel_ms = sum(c[f"kernel.{k}_ms"] for k in ("resolve", "decode", "emit"))
        samples = tr.samples
        pairs = _median(samples.get("dedup.pairs", ()))
        values = {
            "session.start_s": (session_s, "s"),
            "pipeline.build_ms": (1000.0 * secs("pipeline.build"), "ms"),
            "pipeline.plan_ms": (1000.0 * secs("pipeline.plan"), "ms"),
            "pipeline.extract_s": (secs("pipeline.extract"), "s"),
            "pipeline.jobs": (rt["jobs"] / per_round, "count"),
            "pipeline.stages": (rt["stages"] / per_round, "count"),
            "pipeline.tasks": (rt["tasks"] / per_round, "count"),
            "pipeline.shuffle_write_mb": (rt["shuffle_write_bytes"] / 2**20 / per_round, "MB"),
            "pipeline.spill_mb": (rt["spill_bytes"] / 2**20 / per_round, "MB"),
            "pipeline.gc_s": (rt["gc_ms"] / 1000.0 / per_round, "s"),
            "explode.s": (secs("explode"), "s"),
            "explode.rows": (c["explode.rows"], "count"),
            "normalize.s": (secs("normalize"), "s"),
            "ocr.s": (secs("ocr"), "s"),
            "ocr.pages": (c["ocr.pages"], "count"),
            "ocr.rows_out": (c["ocr.rows_out"], "count"),
            "ocr.quarantined": (c["ocr.quarantined"], "count"),
            "ocr.task_skew": (log.task_skew("layers/ocr"), "ratio"),
            "ocr.boundary_ms_per_page": (
                1000.0 * c["ocr.cpu_s"] / max(c["ocr.pages"], 1) - kernel_ms, "ms"),
            "media.resolve_ms_per_page": (c["kernel.resolve_ms"], "ms"),
            "ocr_core.decode_ms_per_page": (c["kernel.decode_ms"], "ms"),
            "emission.emit_ms_per_page": (c["kernel.emit_ms"], "ms"),
            "postpass.filter_s": (secs("postpass.filter"), "s"),
            "postpass.windows_s": (secs("postpass.windows"), "s"),
            "checkpoint.group_s": (_median(samples.get("checkpoint.group_s", ())), "s"),
            "checkpoint.resume_scan_ms": (1000.0 * _median(
                s["end"] - s["start"] for s in tr.finished("checkpoint.scan")
                if s["label"].endswith("checkpoint.resume/checkpoint.scan")), "ms"),
            "tableio.commit_s": (commit_overhead(), "s"),
            "tableio.jobs_per_group": (jobs_per_call("tableio.commit"), "count"),
            "tableio.bytes_per_doc": (
                sum(samples.get("tableio.bytes", ())) / max(sum(samples.get("tableio.docs", ())), 1), "B"),
            "dedup.jaccard_s": (secs("dedup.jaccard"), "s"),
            "dedup.pairs": (pairs, "count"),
            "dedup.verified_per_candidate": (pairs / max(c["dedup.candidates"], 1), "ratio"),
            "components.s": (secs("components"), "s"),
            "components.jobs": (jobs_per_call("components"), "count"),
            "similarity.pairs_s": (secs("similarity.pairs"), "s"),
            "similarity.topk_s": (secs("similarity.topk"), "s"),
            "similarity.pairs": (_median(samples.get("similarity.pairs", ())), "count"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
