"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 enginebench/run.py --workload extract_media_skew --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout. It zips the engine package, runs
enginebench/job.py under ``spark-submit --py-files`` at ``local[<cores>]``
in a scratch directory under .bench_build/enginebench/, prints the result
as the last line of standard output and removes the scratch directory.
With ``--trace 1`` the result holds the per-layer metrics instead of the
end-to-end ones, and the spans are kept in
.bench_build/enginebench/traces/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ENGINE = "tesseract_recognize_spark"
BUILD = os.path.join(".bench_build", "enginebench")
WORKLOADS = ("extract_media_skew", "checkpoint_resume_text")
DEADLINE_S = 175
# the driver JVM's heap, sized for a 15 GB host shared with other work;
# a fixed size keeps the heap's growth out of the peak RSS figure
DRIVER_MEM = "3g"


def build_engine_zip(src: str, dest: str) -> None:
    """Zip the engine's sources, as a deployment would ship them."""
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as z:
        for d, dirs, names in os.walk(os.path.join(src, ENGINE)):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            for n in sorted(names):
                if n.endswith(".py"):
                    full = os.path.join(d, n)
                    z.write(full, os.path.relpath(full, src))


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                if os.getpgid(int(name)) == pgid:
                    return True
            except OSError:
                continue
    return False


def stop_group(pgid: int) -> None:
    """End every process of the run's process group and wait until none
    is left."""
    for sig, wait_s in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.time() + wait_s
        while time.time() < end:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def main(argv=None) -> int:
    t_start = time.time()
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="length of the timed phase")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                   help="local[N] slots (default: the cores this process may use)")
    a = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, ENGINE, "__init__.py")):
        print(f"no {ENGINE}/ package under {root}: run from a source checkout",
              file=sys.stderr)
        return 2
    if shutil.which("spark-submit") is None:
        print("spark-submit is not on PATH", file=sys.stderr)
        return 2

    build = os.path.join(root, BUILD)
    os.makedirs(build, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=build)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    try:
        engine_zip = os.path.join(work, "engine.zip")
        build_engine_zip(root, engine_zip)
        result_path = os.path.join(work, "result.json")
        cmd = [
            "spark-submit",
            "--master", f"local[{a.cores}]",
            "--driver-memory", DRIVER_MEM,
            "--driver-java-options",
            f"-Xms{DRIVER_MEM} -XX:+UseParallelGC -Djava.io.tmpdir={tmp}",
            "--py-files", engine_zip,
            os.path.join(HERE, "job.py"),
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(a.cores), "--t-start", repr(t_start),
            "--work", work, "--result", result_path,
        ]
        if a.trace:
            cmd += ["--trace-out", os.path.join(build, "traces", f"{a.workload}-seed{a.seed}.jsonl")]
        env = dict(
            os.environ,
            TMPDIR=tmp,
            SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "local"),
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
            PYTHONDONTWRITEBYTECODE="1",
            # no hsperfdata files under /tmp from the launcher or driver JVM
            JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
        )
        log_path = os.path.join(work, "spark.log")
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                    stderr=subprocess.STDOUT, start_new_session=True)
            try:
                code = proc.wait(timeout=max(1.0, DEADLINE_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                code = None
            finally:
                stop_group(proc.pid)
                proc.wait()
        if code != 0 or not os.path.exists(result_path):
            with open(log_path) as f:
                tail = f.readlines()[-40:]
            print("".join(tail), file=sys.stderr)
            print(f"{a.workload}: job {'timed out' if code is None else f'exited {code}'}",
                  file=sys.stderr)
            return 1
        with open(log_path) as f:
            for line in f:
                if line.startswith(f"{a.workload} seed"):
                    print(line.rstrip(), file=sys.stderr)
        with open(result_path) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
