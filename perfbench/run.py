"""Benchmark entry point.

    python3 perfbench/run.py --workload publish_bulk --seed 1 --seconds 15 --trace 0

Runs one workload of ``workloads.py`` from the root of a checkout and prints,
as the last line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The line before it is a summary with
the run's settings, input sizes and per-workload metric names. Everything
the run writes goes under ``.bench_work/`` in the checkout and is removed at
the end, except the span dump of a traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)  # the engine and its oracle are imported from the checkout

from procs import cpu_s, descendants, rss  # noqa: E402

# steadiness controls, recorded in the summary line
DRIVER_MEM = "2g"
HEAP_BYTES = int(DRIVER_MEM.rstrip("g")) * 2**30  # the heap is fixed at this size
CPUS = min(4, os.cpu_count() or 1)
JIT_OPTS = "-XX:-UseDynamicNumberOfCompilerThreads"  # see procs.jit_cpu_s


class PeakMem(threading.Thread):
    """Samples the memory the program's processes hold outside the driver
    JVM's fixed Java heap, and keeps the peak: the JVM's RSS minus the
    resident pages of its heap mapping (metaspace, code cache, thread
    stacks, direct and native buffers), plus the RSS of each Python worker.
    The full RSS peak is kept too, for the summary."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.jvm = descendants()[0]
        self.heap = self._heap_range()
        self.peak = self.peak_rss = 0
        self.at_peak: dict = {}
        self._stop_event = threading.Event()

    def _heap_range(self) -> tuple[int, int]:
        """The Java heap is the JVM's largest anonymous read-write mapping,
        reserved as one range of ``-Xmx`` bytes."""
        size, lo = 0, 0
        with open(f"/proc/{self.jvm}/maps") as fh:
            for line in fh:
                f = line.split()
                if len(f) == 5 and f[1].startswith("rw"):
                    a, b = (int(x, 16) for x in f[0].split("-"))
                    size, lo = max((size, lo), (b - a, a))
        return lo, lo + HEAP_BYTES

    def _heap_rss(self) -> int:
        lo, hi = self.heap
        total, inside = 0, False
        with open(f"/proc/{self.jvm}/smaps") as fh:
            for line in fh:
                head = line.split(None, 1)[0]
                if "-" in head and not head.endswith(":"):
                    a, b = (int(x, 16) for x in head.split("-"))
                    inside = a < hi and b > lo
                elif inside and head == "Rss:":
                    total += int(line.split()[1]) * 1024
        return total

    def sample(self) -> dict:
        jvm = rss(self.jvm)
        m = {"jvm_rss": jvm, "jvm_heap_rss": self._heap_rss(), "workers": 0}
        for pid in descendants()[1:]:
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    if not fh.read().startswith("python"):
                        continue  # a child the JVM has just forked shows the JVM's pages
                m["workers"] += rss(pid)
            except OSError:  # the process ended while we looked
                pass
        return m

    def run(self) -> None:
        while not self._stop_event.wait(self.interval):
            try:
                m = self.sample()
            except OSError:  # the JVM is gone
                return
            off_heap = m["jvm_rss"] - m["jvm_heap_rss"] + m["workers"]
            self.peak_rss = max(self.peak_rss, m["jvm_rss"] + m["workers"])
            if off_heap > self.peak:
                self.peak, self.at_peak = off_heap, m

    def stop(self) -> None:
        self._stop_event.set()
        self.join()


def _stop_spark(spark) -> None:
    """Stop the session and the gateway JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _wait_descendants(timeout: float = 30.0) -> None:
    deadline = time.time() + timeout
    while descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        os.kill(pid, 9)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not all(os.path.isdir(os.path.join(ROOT, d)) for d in ("mimirsbrunn_spark", "oracle")):
        print(f"perfbench: no engine sources (mimirsbrunn_spark/, oracle/) under {ROOT}",
              file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    result, summary = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps({"summary": summary}, default=str))
    print(json.dumps(result))
    return 0


def run_workload(name: str, seed: int, seconds: float, trace: bool, sizes=None, **hooks):
    """Run one workload in this process; returns (result line, summary)."""
    import workloads
    from tracer import Tracer

    t_begin, cpu_begin = time.perf_counter(), cpu_s()
    work = os.path.join(ROOT, ".bench_work", f"{name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    os.environ.update(
        TZ="UTC", TMPDIR=f"{work}/tmp", SPARK_LOCAL_DIRS=f"{work}/local",
        SPARK_DRIVER_MEM=DRIVER_MEM, SPARK_GRAFT_CPUS=str(CPUS), PYSPARK_PYTHON=sys.executable,
        # every JVM, the spark-submit launcher included, keeps its files in the work dir
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
    )
    time.tzset()
    tempfile.tempdir = f"{work}/tmp"  # gettempdir() caches its first answer
    from mimirsbrunn_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{name}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # a fixed heap: G1's heap resizing made query latency and RSS
            # follow timing; what the heap holds is not in peak_mem_mb
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} {JIT_OPTS}",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
        },
    )
    session_s = time.perf_counter() - t
    mem = PeakMem()
    mem.start()
    tracer = Tracer(spark.sparkContext) if trace else None
    run = workloads.Run(spark, work, seed, seconds, sizes or workloads.Sizes(), tracer)
    try:
        if tracer:
            workloads.install_spans(tracer)
        workloads.WORKLOADS[name](run, **hooks)
    finally:
        if tracer:
            tracer.unwrap_all()
        mem.stop()
        _stop_spark(spark)
        _wait_descendants()
        shutil.rmtree(work, ignore_errors=True)
    setup_wall_s = run.setup_done[0] - t_begin
    setup_s = run.setup_done[1] - cpu_begin
    run.e2e["setup_s"] = (setup_s, "s")
    run.e2e["peak_mem_mb"] = (mem.peak / 2**20, "MB")
    if tracer:
        run.layers["session.start_s"] = (session_s, "s")
        trace_dir = os.path.join(ROOT, ".bench_work", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, f"{name}-{seed}.json"))

    metrics = run.layers if trace else run.e2e
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in sorted(metrics.items())},
    }
    summary = {
        "workload": name, "trace": trace, **run.info,
        "error_rate": run.failed / max(run.attempted, 1),
        "failures": run.failures[:20],
        "setup_s": setup_s, "setup_wall_s": setup_wall_s, "session_start_s": session_s,
        "peak_mem_mb": mem.peak / 2**20,
        "mem_at_peak_mb": {k: round(v / 2**20) for k, v in mem.at_peak.items()},
        "peak_rss_mb": mem.peak_rss / 2**20,
        "controls": {
            "SPARK_DRIVER_MEM": DRIVER_MEM, "jvm_opts": f"-Xms{DRIVER_MEM} {JIT_OPTS}",
            "master": f"local[{CPUS}]", "nproc": os.cpu_count(),
            "load_processes": 1, "client_threads": 1,
            "warmup": "serve_mix: three query cycles before timing, counted in setup_s; "
                      "publish_bulk: none, the batch job pays JVM warm-up on every run",
            "timings": "CPU seconds of the JVM, its workers and the client thread, "
                       "less the JIT compiler threads (procs.cpu_s)",
        },
    }
    return result, summary


if __name__ == "__main__":
    sys.exit(main())
