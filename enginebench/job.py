"""One benchmark run inside ``spark-submit``: set up, warm up, time whole
rounds of one workload for the requested seconds, check the outputs, and
write the result as JSON.

Started by run.py, which builds the engine zip this job imports the
engine from.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

import checks
import inputs
import layers
import procstat
from ops import CANON, arrow_rows, checkpoint_round, noop, write_docs
from spans import EventLog, Tracer, find_event_log
from tesseract_recognize_spark.config import ExtractConfig
from tesseract_recognize_spark.plans.pipeline import extract
from tesseract_recognize_spark.session import build_session
from tesseract_recognize_spark.sources.tableio import ParquetTableIO


class Workload:
    """Inputs, one round of operations, and the output checks of one
    workload. ``docs`` is the number of input docs one round completes;
    warm-up runs the same calls on a separate input of the same shape."""

    docs = 0
    # whether the rounds call the checkpoint layers themselves (layers.py)
    rounds_checkpoint = False

    def __init__(self, spark, seed: int, work: str, tracer: Tracer, cores: int) -> None:
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.cfg = ExtractConfig(media_partitions=4 * cores)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


class ExtractMediaSkew(Workload):
    docs = 1200

    def setup(self) -> None:
        self.corpus = inputs.media_skew_docs(self.docs, self.seed)
        write_docs(self.corpus, self.path("docs"))
        warm = inputs.media_skew_docs(40, self.seed + inputs.WARM_SALT)
        write_docs(warm, self.path("warm"))
        self.df = self.spark.read.parquet(self.path("docs"))
        noop(extract(self.spark.read.parquet(self.path("warm")), self.cfg))

    def round(self, k: int) -> None:
        noop(extract(self.df, self.cfg))

    def verify(self) -> list[str]:
        rows = arrow_rows(extract(self.df, self.cfg).select(*CANON))
        sample = checks.oracle_sample_ids(self.corpus, self.seed)
        return sorted(
            set(checks.span_properties(self.corpus, rows))
            | set(checks.oracle_sample(self.corpus, rows, sample, self.cfg))
        )


class CheckpointResumeText(Workload):
    docs = 180
    groups = 4
    rounds_checkpoint = True

    def setup(self) -> None:
        self.corpus = inputs.text_heavy_docs(self.docs, self.seed)
        write_docs(self.corpus, self.path("docs"))
        write_docs(inputs.text_heavy_docs(12, self.seed + inputs.WARM_SALT), self.path("warm"))
        self.df = self.spark.read.parquet(self.path("docs"))
        # the same groups as the timed rounds: each group's plan carries
        # its group number as a literal, so each compiles its own code
        for k in range(2):
            checkpoint_round(
                self.spark.read.parquet(self.path("warm")), self.path(f"ckpt-warm-{k}"),
                self.groups, self.cfg, Tracer(),
            )
        self.last = None

    def round(self, k: int) -> None:
        self.last = self.path(f"ckpt-{k}")
        checkpoint_round(self.df, self.last, self.groups, self.cfg, self.tracer)

    def verify(self) -> list[str]:
        """The last round's manifest shows the crash and the resume, the
        table holds every input doc in exactly one group, and its lineage
        counts sum to the input."""
        io = ParquetTableIO(self.last)
        lineage = io.committed_groups()
        ids = [d["doc_id"] for d in self.corpus]
        if not checks.crash_and_resume(io.manifest_path, self.groups) or sum(
            e.doc_count for e in lineage.values()
        ) != len(ids):
            return ids
        rows, seen, bad = [], set(), set()
        for g in lineage:
            grp = arrow_rows(self.spark.read.parquet(io.group_path(g)).select(*CANON))
            docs = {r[0] for r in grp}
            bad |= seen & docs
            seen |= docs
            rows += grp
        bad |= set(ids) ^ seen
        sample = checks.oracle_sample_ids(self.corpus, self.seed)
        bad |= set(checks.span_properties(self.corpus, rows))
        bad |= set(checks.oracle_sample(self.corpus, rows, sample, self.cfg))
        return sorted(bad)


WORKLOADS = {
    "extract_media_skew": ExtractMediaSkew,
    "checkpoint_resume_text": CheckpointResumeText,
}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, required=True)
    p.add_argument("--t-start", type=float, required=True,
                   help="wall-clock time the benchmark process started")
    p.add_argument("--work", required=True, help="scratch directory of this run")
    p.add_argument("--result", required=True, help="where to write the result JSON")
    p.add_argument("--trace-out", help="where a traced run writes its spans")
    a = p.parse_args(argv)

    event_dir = os.path.join(a.work, "eventlog")
    conf = {"spark.sql.warehouse.dir": os.path.join(a.work, "warehouse")}
    if a.trace:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t = time.time()
    spark = build_session(
        app_name=f"enginebench-{a.workload}",
        master=f"local[{a.cores}]",
        shuffle_partitions=max(2 * a.cores, 8),
        extra_conf=conf,
    )
    session_s = time.time() - t
    spark.sparkContext.setLogLevel("WARN")
    tracer = Tracer(spark.sparkContext if a.trace else None)
    wl = WORKLOADS[a.workload](spark, a.seed, a.work, tracer, a.cores)
    t = time.time()
    wl.setup()
    warm_s = time.time() - t

    # the timed phase: whole rounds until the requested seconds have passed
    jvm = os.getppid()
    attempted = failed = rounds = 0
    setup_s = time.time() - a.t_start
    cpu0 = procstat.tree_cpu_s(jvm)
    rss = procstat.PeakRss(jvm)
    t0 = time.perf_counter()
    round_s = []
    while True:
        attempted += wl.docs
        t = time.perf_counter()
        try:
            with tracer.span("round"):
                wl.round(rounds)
        except Exception:
            traceback.print_exc()
            failed += wl.docs
        round_s.append(time.perf_counter() - t)
        rounds += 1
        # a traced run times one round: its figures come from the spans
        if a.trace or time.perf_counter() - t0 >= a.seconds:
            break
    wall = time.perf_counter() - t0
    cpu = procstat.tree_cpu_s(jvm) - cpu0
    peak = rss.stop()
    done = attempted - failed

    t = time.time()
    bad = wl.verify() if done else []
    verify_s = time.time() - t
    if bad:
        print(f"{a.workload} seed {a.seed}: {len(bad)} outputs failed checks, "
              f"e.g. {bad[:5]}", file=sys.stderr)
    e2e = {
        "docs_per_s": {"value": done / wall, "unit": "docs/s"},
        "cpu_s_per_kdoc": {"value": 1000.0 * cpu / max(done, 1), "unit": "s"},
        "setup_s": {"value": setup_s, "unit": "s"},
        "peak_rss_mb": {"value": peak / 2**20, "unit": "MB"},
    }
    print(f"{a.workload} seed {a.seed} trace {a.trace}: rounds "
          + " ".join(f"{x:.2f}" for x in round_s) + "s; " + ", ".join(f"{k}={v['value']:.4g}" for k, v in e2e.items())
          + f"; session {session_s:.1f}s, inputs and warm-up {warm_s:.1f}s, "
          f"checks {verify_s:.1f}s", file=sys.stderr)

    metrics = e2e
    if a.trace:
        suite = layers.Suite(spark, tracer, wl, a.seed)
        bad += suite.run()
        spark.stop()
        metrics = suite.metrics(EventLog(find_event_log(event_dir)), rounds, session_s)
        if a.trace_out:
            tracer.counts.update({k: v["value"] for k, v in metrics.items()})
            tracer.dump(a.trace_out)
    else:
        spark.stop()

    with open(a.result, "w") as f:
        json.dump({
            "correct": not bad and done > 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
