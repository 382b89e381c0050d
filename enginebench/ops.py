"""The engine calls each workload makes, shared by the timed rounds and the
traced layer suite."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from spans import Tracer
from tesseract_recognize_spark.fixtures.generator import write_documents_parquet
from tesseract_recognize_spark.operators.components import connected_components
from tesseract_recognize_spark.operators.dedup import ngram_jaccard_pairs
from tesseract_recognize_spark.operators.similarity import (
    embedding_cosine_pairs,
    lsh_topk,
)
from tesseract_recognize_spark.plans.checkpoint import run_checkpointed
from tesseract_recognize_spark.sources.tableio import ParquetTableIO

CANON = ["doc_id", "order", "kind", "text", "media_ref", "offset"]
NEAR_DUP = {"jaccard": 0.8, "cosine": 0.95, "k": 5, "queries": 64, "dim": 32, "bits": 8}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def arrow_rows(df) -> list[tuple]:
    return list(zip(*(c.to_pylist() for c in df.toArrow().columns)))


def write_docs(docs: list[dict], path: str) -> None:
    # several files, so the scan is not one split
    write_documents_parquet(docs, path, n_files=4)


def write_near_dup(docs: list[dict], vecs, nd_path: str, emb_path: str) -> None:
    pq.write_table(pa.table({
        "doc_id": [d["doc_id"] for d in docs],
        "text": [d["text"] for d in docs],
    }), nd_path)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(len(vecs)), pa.int64()),
        "embedding": pa.array(vecs.tolist(), pa.list_(pa.float64())),
    }), emb_path)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n))
        for d, _, names in os.walk(path) for n in names
    )


class TimedTableIO(ParquetTableIO):
    """ParquetTableIO with spans around its public calls."""

    def __init__(self, root: str, tracer: Tracer) -> None:
        super().__init__(root)
        self.tracer = tracer

    def committed_groups(self):
        with self.tracer.span("checkpoint.scan"):
            return super().committed_groups()

    def commit_group(self, df, group, run_id, t0):
        with self.tracer.span("tableio.commit"):
            entry = super().commit_group(df, group, run_id, t0)
        self.tracer.sample("checkpoint.group_s", entry.wall_ms / 1000.0)
        self.tracer.sample("tableio.docs", entry.doc_count)
        self.tracer.sample("tableio.bytes", _dir_bytes(self.group_path(group)))
        return entry


def checkpoint_round(df, root: str, n_groups: int, cfg, tracer: Tracer) -> None:
    """A run that crashes after half the groups, then a resume."""
    io = TimedTableIO(root, tracer)
    with tracer.span("checkpoint.crashed_run"):
        try:
            run_checkpointed(df, io, n_groups, cfg, fail_after_group=n_groups // 2 - 1)
        except RuntimeError as exc:
            if not str(exc).startswith("simulated crash"):
                raise
        else:
            raise RuntimeError("the run did not crash after the injected group")
    with tracer.span("checkpoint.resume"):
        run_checkpointed(df, io, n_groups, cfg)


def near_dup_round(nd_df, emb_df, tracer: Tracer) -> dict:
    """Near-dup text pairs, their components, embedding duplicate pairs and
    a top-k query batch, each collected to the driver."""
    dim = NEAR_DUP["dim"]
    with tracer.span("dedup.jaccard"):
        pairs_df = ngram_jaccard_pairs(nd_df, threshold=NEAR_DUP["jaccard"])
    pairs = arrow_rows(pairs_df.select("doc_a", "doc_b"))
    with tracer.span("components"):
        labels = arrow_rows(connected_components(pairs_df))
    with tracer.span("similarity.pairs"):
        emb = arrow_rows(embedding_cosine_pairs(
            emb_df, dim, threshold=NEAR_DUP["cosine"], bits=NEAR_DUP["bits"]
        ))
    with tracer.span("similarity.topk"):
        top = arrow_rows(lsh_topk(
            emb_df, dim, k=NEAR_DUP["k"], bits=NEAR_DUP["bits"],
            n_queries=NEAR_DUP["queries"],
        ))
    tracer.sample("dedup.pairs", len(pairs))
    tracer.sample("similarity.pairs", len(emb))
    return {"pairs": pairs, "labels": dict(labels), "emb": emb, "topk": top}
