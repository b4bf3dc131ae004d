"""The benchmark's workloads, output checks and traced layer probes.

``publish_bulk`` times the engine's bulk write path: one cold
``run_rollup_job`` publish in a fresh driver JVM, as ``spark-submit`` runs the
batch job. ``serve_mix`` times the read path: a closed loop with one client
thread over a layout published during set-up. See README.md for why these two
and how each metric is defined.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback
import types
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import checks
import gen
import procs

READ_FNS = (
    "read_rollup", "read_range_total", "read_plot", "read_chunks", "read_gapfill",
    "read_quantile",
)
# layers timed by the stage replay, in pipeline order
REPLAY_LAYERS = ("ingest.scan", "series.series_1m", "tiers.cascade", "gapfill.gapfill",
                 "codecs.encode")
DAYS = 2  # days of input in both workloads
SMALL_SHARE = 8  # traced runs: the small replay input is 1/8 of each day


@dataclass(frozen=True)
class Sizes:
    bulk_docs_per_day: int = 100_000
    bulk_hosts: int = 200
    serve_docs_per_day: int = 50_000
    serve_hosts: int = 100
    files_per_day: int = 4
    refresh_docs: int = 20_000  # traced runs: docs in the appended day


TINY = Sizes(
    bulk_docs_per_day=3_000, bulk_hosts=12, serve_docs_per_day=2_000, serve_hosts=12,
    files_per_day=2, refresh_docs=500,
)


@dataclass
class Run:
    """State of one benchmark run: the session, the work dir, the counters
    behind ``attempted``/``failed`` and the metrics collected so far."""

    spark: object
    work: str
    seed: int
    seconds: float
    sizes: Sizes
    tracer: object = None  # tracer.Tracer in traced runs
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    setup_done: tuple | None = None  # (perf_counter, procs.cpu_s()) at the start of timing

    def span(self, name: str, op: bool = False):
        return self.tracer.span(name, op=op) if self.tracer else nullcontext()

    @contextmanager
    def untraced(self):
        was = self.tracer.enabled if self.tracer else False
        if self.tracer:
            self.tracer.enabled = False
        try:
            yield
        finally:
            if self.tracer:
                self.tracer.enabled = was

    @contextmanager
    def took(self, part: str):
        """Record the wall time of one part of a traced run's probes in the
        summary (``probe_s``)."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.info.setdefault("probe_s", {})[part] = round(time.perf_counter() - t, 2)

    def end_setup(self) -> None:
        self.setup_done = (time.perf_counter(), procs.cpu_s())

    def outcome(self, bad: list[str], n: int) -> None:
        """Count ``n`` attempts of which ``bad`` (labels) failed."""
        self.attempted += n
        self.failed += len(bad)
        self.failures.extend(bad)


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _, fs in os.walk(path) for f in fs
    )


def _generate(run: Run, docs_per_day: int, hosts: int, path: str) -> list:
    frames = [gen.generate_day(run.seed, d, docs_per_day, hosts) for d in range(DAYS)]
    for f in frames:
        gen.write_pages(f, path, run.sizes.files_per_day)
    run.info.update(seed=run.seed, docs=sum(map(len, frames)), days=DAYS, hosts=hosts)
    return frames


def _publish(run: Run, pages: str, out: str, job_id: str) -> tuple[float, float]:
    """One ``run_rollup_job`` publish: (wall seconds, CPU seconds)."""
    from mimirsbrunn_spark.jobs import rollup_job

    t, c = time.perf_counter(), procs.cpu_s()
    with run.span("publish", op=True):
        rollup_job.run_rollup_job(run.spark, pages, out, job_id=job_id)
    return time.perf_counter() - t, procs.cpu_s() - c


# ---------------------------------------------------------------------------
# serving queries
# ---------------------------------------------------------------------------


# The shape of each read function's window: (tier grid, width in grid
# steps, hosts asked for, None for all). Shapes differ between the functions
# and stay fixed across cycles, so every whole cycle asks for the same work
# whatever the seed; the seed moves windows and picks hosts.
SHAPES = {
    "read_rollup": ("1h", 12, 3),
    "read_range_total": ("1m", 1000, None),
    "read_plot": ("1h", 36, 5),
    "read_chunks": ("1h", 24, 2),
    "read_gapfill": ("1d", 1, 4),
    "read_quantile": ("1h", 6, None),
}
STEP = {"1m": 60, "1h": 3600, "1d": 86400}


def make_queries(seed: int, days: int, n_hosts: int, cycles: int) -> list:
    """Seeded query list. Every cycle issues each read function once, in a
    seeded order, with the window shape of ``SHAPES``; the seed picks the
    window's start on the tier grid (minutes for ``read_range_total``, whose
    stitched read reaches down to 1m edges), the hosts and the quantile."""
    rng = np.random.default_rng([seed, 99])
    hosts = np.array([f"host-{i:03d}.example.com" for i in range(n_hosts)])
    e0 = gen.day_epoch(0)
    out = []
    for _ in range(cycles):
        for fn in rng.permutation(READ_FNS):
            tier, width, n = SHAPES[fn]
            step = STEP[tier]
            t0 = e0 + int(rng.integers(0, days * 86400 // step - width + 1)) * step
            kw = {"t0": t0, "t1": t0 + width * step,
                  "hosts": n and sorted(rng.choice(hosts, size=n, replace=False).tolist())}
            if fn == "read_quantile":
                kw.update(q=float(rng.choice([0.5, 0.9, 0.95, 0.99])), tier=tier, sketch="hdr")
            elif fn in ("read_rollup", "read_chunks", "read_gapfill"):
                kw["tier"] = tier
            out.append((str(fn), kw))
    return out


def _reader(fn: str):
    from mimirsbrunn_spark import query_api
    from mimirsbrunn_spark.jobs import histogram_job

    return getattr(histogram_job if fn == "read_quantile" else query_api, fn)


def run_query(run: Run, out: str, q) -> tuple[float, float, float, pd.DataFrame]:
    """One query: (plan seconds inside the read call, seconds to force the
    returned DataFrame, CPU seconds of the whole query, the answer)."""
    fn, kw = q
    c = procs.cpu_s()
    with run.span(f"query.{fn}", op=True):
        t0 = time.perf_counter()
        df = _reader(fn)(run.spark, out, **kw)
        t1 = time.perf_counter()
        with run.span("force"):
            pdf = df.toPandas()
        t2 = time.perf_counter()
    return t1 - t0, t2 - t1, procs.cpu_s() - c, pdf


def expected_answer(oracle: checks.Oracle, fn: str, kw: dict):
    from mimirsbrunn_spark.query_api import pick_tier

    t0, t1, hosts = kw["t0"], kw["t1"], kw["hosts"]
    if fn == "read_plot":  # query_api.read_plot defaults: n_px=800, points_per_px=40
        tier = pick_tier(t0, t1, max_points=800 * 40)
        px = max((t1 - t0) // 800, checks.ref.TIER_SECONDS[tier])
        return oracle.read_plot(tier, t0, t1, hosts, px)
    if fn == "read_range_total":
        return oracle.read_range_total(t0, t1, hosts)
    if fn == "read_quantile":
        return oracle.read_quantile(kw["q"], kw["tier"], t0, t1, hosts)
    return getattr(oracle, fn)(kw["tier"], t0, t1, hosts)


def check_answers(run: Run, oracle: checks.Oracle, answered: list) -> None:
    bad = []
    for i, (q, pdf) in enumerate(answered):
        want, cols = expected_answer(oracle, *q)
        if not checks.same(pdf, want, cols):
            bad.append(f"{q[0]}#{i}")
    run.outcome(bad, len(answered))


def _queries(run: Run, out: str, qs: list, lat: dict | None = None) -> list:
    """Run ``qs``; a query that raises counts as a failed operation. With
    ``lat``, record (plan, exec) seconds per read function."""
    answered = []
    for q in qs:
        try:
            plan, exe, cpu, pdf = run_query(run, out, q)
        except Exception:  # one failed query must not end the run
            run.outcome([f"{q[0]} raised: {traceback.format_exc(limit=1)}"], 1)
            continue
        answered.append((q, pdf))
        if lat is not None:
            lat.setdefault(q[0], []).append((plan, exe, cpu))
    return answered


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def publish_bulk(run: Run, after_publish=None) -> None:
    """Cold bulk publish: a few days with many docs per day, timed as one
    ``run_rollup_job`` call in a fresh driver JVM. The batch job pays its
    class-loading and code-generation warm-up on every run, so the timing
    includes it; the JIT compiler's CPU time is left out (``procs.cpu_s``).
    ``after_publish(out)`` lets a test tamper with the published layout
    before the checks."""
    s = run.sizes
    pages_dir, out = f"{run.work}/pages", f"{run.work}/pub"
    frames = _generate(run, s.bulk_docs_per_day, s.bulk_hosts, pages_dir)
    docs = run.info["docs"]

    run.end_setup()
    jit = procs.jit_cpu_s()
    wall, cpu = _publish(run, pages_dir, out, "publish_bulk")
    run.outcome([], 1)
    run.info.update(docs_per_s=docs / wall, publish_s=wall, publish_cpu_s=cpu,
                    publish_jit_s=procs.jit_cpu_s() - jit)
    run.e2e.update(
        op_cpu_ms=(cpu * 1000, "ms"),
        stored_bytes_per_doc=(_du(out) / docs, "B/doc"),
    )

    if after_publish is not None:
        after_publish(out)
    if run.tracer:
        # the refresh probe checks every published table at its end, the
        # days it leaves untouched included; one check fits the traced
        # run's time limit, two do not
        layer_probes(run, frames, pages_dir, out, wall, s.bulk_hosts, timed_op="publish")
        return
    t = time.perf_counter()
    oracle = checks.Oracle(pd.concat(frames, ignore_index=True))
    run.outcome(*checks.check_published(run.spark, out, oracle))
    run.info["check_s"] = time.perf_counter() - t


def serve_mix(run: Run) -> None:
    """Read-only closed loop, one client thread, over a layout published in
    set-up. Warm-up queries run before timing and count in ``setup_s``."""
    from mimirsbrunn_spark.jobs import histogram_job

    s = run.sizes
    pages_dir, out = f"{run.work}/pages", f"{run.work}/pub"
    frames = _generate(run, s.serve_docs_per_day, s.serve_hosts, pages_dir)
    docs = run.info["docs"]
    publish_s, _ = _publish(run, pages_dir, out, "serve_mix")
    t = time.perf_counter()
    histogram_job.run_histogram_job(run.spark, pages_dir, out, sketch="hdr")
    t1 = time.perf_counter()
    qs = make_queries(run.seed, DAYS, s.serve_hosts, cycles=1000)
    # three warm-up cycles: after one, latencies still fell over the next
    # cycles, and after two the JIT compiler still took ~40 % of the CPU
    n_warm = 3 * len(READ_FNS)
    _queries(run, out, qs[:n_warm])
    run.info.update(warmup_queries=n_warm, publish_s=publish_s, hist_s=t1 - t,
                    warmup_s=time.perf_counter() - t1)

    run.end_setup()
    # whole cycles only, so every run times the same mix of read functions
    lat: dict = {}
    answered, times = [], []
    k = len(READ_FNS)
    t_start, c_start, jit = time.perf_counter(), procs.cpu_s(), procs.jit_cpu_s()
    for i in range(n_warm, len(qs), k):
        if time.perf_counter() - t_start >= run.seconds:
            break
        for q in qs[i : i + k]:
            t = time.perf_counter()
            answered.extend(_queries(run, out, [q], lat))
            times.append(time.perf_counter() - t)
    elapsed = time.perf_counter() - t_start
    run.info.update(window_cpu_s=procs.cpu_s() - c_start, window_jit_s=procs.jit_cpu_s() - jit)

    n = len(times)
    per_fn = [statistics.median(p + e for p, e, _ in v) for v in lat.values()]
    per_fn_cpu = [statistics.median(c for _, _, c in v) for v in lat.values()]
    run.e2e.update(
        # geometric mean over the read functions of each one's median CPU time
        op_cpu_ms=(1000 * statistics.geometric_mean(per_fn_cpu), "ms"),
        stored_bytes_per_doc=(_du(out) / docs, "B/doc"),
    )
    # the highest percentile with at least ten queries beyond it
    times_ms = [1000 * t for t in times]
    tail = [p for p in (99, 95, 90, 75, 50) if n * (100 - p) / 100 >= 10]
    run.info.update(queries=n, cycles=n // k, queries_per_s=n / elapsed,
                    query_p50_ms=statistics.median(times_ms),
                    fn_p50_ms=1000 * statistics.geometric_mean(per_fn),
                    query_ms={fn: [round(1000 * (p + e), 1) for p, e, _ in v] for fn, v in lat.items()},
                    query_cpu_ms={fn: [round(1000 * c) for _, _, c in v] for fn, v in lat.items()})
    if tail:
        run.info[f"query_p{tail[0]}_ms"] = float(np.percentile(times_ms, tail[0]))

    t = time.perf_counter()
    oracle = checks.Oracle(pd.concat(frames, ignore_index=True))
    check_answers(run, oracle, answered)
    run.info["check_s"] = time.perf_counter() - t
    if run.tracer:
        layer_probes(run, frames, pages_dir, out, publish_s, s.serve_hosts, "query.", lat)


WORKLOADS = {"publish_bulk": publish_bulk, "serve_mix": serve_mix}


# ---------------------------------------------------------------------------
# traced runs: layer probes
# ---------------------------------------------------------------------------


def replay(run: Run, pages_dir: str, tag: str) -> dict:
    """Replay the publish pipeline one stage at a time, materialising each
    layer's output, as the root ``bench.py`` group 2 does. Returns busy
    seconds per layer."""
    from mimirsbrunn_spark import codecs, gapfill, ingest, series, tiers

    spark, w = run.spark, f"{run.work}/replay_{tag}"
    busy = {}
    pages = ingest.read_pages(spark, pages_dir)

    t = time.perf_counter()
    _force(ingest.with_host(pages).select("url", "warc_ts", "page_size", "host", "lang"))
    busy["ingest.scan"] = time.perf_counter() - t
    t = time.perf_counter()
    series.series_1m(pages).write.parquet(f"{w}/1m")
    # the series stage re-scans its input: its own busy time excludes the scan
    busy["series.series_1m"] = time.perf_counter() - t - busy["ingest.scan"]

    t = time.perf_counter()
    cascade = tiers.cascade(spark.read.parquet(f"{w}/1m"))
    for tier in checks.TIERS[1:]:
        cascade[tier].write.parquet(f"{w}/{tier}")
    busy["tiers.cascade"] = time.perf_counter() - t

    hs = {tier: tiers.host_series(spark.read.parquet(f"{w}/{tier}")) for tier in checks.TIERS[1:]}
    t = time.perf_counter()
    for tier, h in hs.items():
        _force(gapfill.gapfill(h, tier))
    busy["gapfill.gapfill"] = time.perf_counter() - t
    t = time.perf_counter()
    for tier, h in hs.items():
        codecs.encode_chunks(h, tier, split_by_month=True).write.parquet(f"{w}/chunks_{tier}")
    busy["codecs.encode"] = time.perf_counter() - t
    shutil.rmtree(w, ignore_errors=True)
    return busy


def layout_counts(run: Run, out: str, docs: int) -> dict:
    """Rows each layer wrote to the published layout ``out``, the share of
    gap-fill rows the spine added, and encoded bits per chunk point."""
    from pyspark.sql import functions as F

    from mimirsbrunn_spark.tables import SnapshotTable

    def read(name):
        return SnapshotTable(f"{out}/{name}").read(run.spark)

    derived = checks.TIERS[1:]
    counts = {"ingest.rows": (docs, "count"), "series.rows_out": (read("series_1m").count(), "count")}
    for tier in derived:
        counts[f"tiers.rows_{tier}"] = (read(f"rollup_{tier}").count(), "count")
    filled = rows = bits = points = 0
    for tier in derived:
        f, r = read(f"gapfill_{tier}").agg(F.sum(F.col("is_filled").cast("long")), F.count("*")).first()
        b, p = read(f"chunks_{tier}").agg(
            F.sum(8 * (F.length("ts_dod") + F.length("val_gorilla") + F.length("bytes_gorilla"))),
            F.sum("n_points"),
        ).first()
        filled, rows, bits, points = filled + (f or 0), rows + r, bits + (b or 0), points + (p or 0)
    counts["gapfill.filled_ratio"] = (filled / max(rows, 1), "ratio")
    counts["codecs.bits_per_point"] = (bits / max(points, 1), "bit")
    return counts


def span_cost(sc, n: int = 200) -> float:
    """Seconds one span adds to a call: ``n`` calls of a wrapped no-op,
    traced minus untraced, each span with its job group and job count."""
    from tracer import Tracer

    tr, box = Tracer(sc), types.SimpleNamespace(noop=lambda: None)
    tr.wrap(box, "noop", "noop")
    walls = {}
    for enabled in (False, True):
        tr.enabled = enabled
        t = time.perf_counter()
        for _ in range(n):
            box.noop()
        walls[enabled] = time.perf_counter() - t
    return (walls[True] - walls[False]) / n


def _refresh_probe(run: Run, frames: list, pages_dir: str, out: str, hosts: int) -> None:
    """The daily path on the published layout: one new day appended plus
    late data for the last published day, through one ``run_rollup_job`` call
    (``retention_now_epoch`` set, so expiry runs; ``refresh_days`` for the
    late day) and one incremental ``run_histogram_job``. The refreshed tiers
    must then equal the oracle of the whole input, as a cold publish does."""
    from mimirsbrunn_spark.jobs import histogram_job, rollup_job

    s = run.sizes
    new_day, late_day = len(frames), len(frames) - 1
    new = gen.generate_day(run.seed, new_day, s.refresh_docs, hosts)
    late = gen.generate_day(run.seed, late_day, s.refresh_docs // 4, hosts, batch=1)
    gen.write_pages(new, pages_dir, 1)
    gen.write_pages(late, pages_dir, 1)
    days = [gen.day_iso(new_day), gen.day_iso(late_day)]
    t = time.perf_counter()
    with run.span("refresh", op=True):
        rollup_job.run_rollup_job(
            run.spark, pages_dir, out, job_id="refresh",
            retention_now_epoch=gen.day_epoch(new_day + 1), refresh_days=days[1:],
        )
        day_s = time.perf_counter() - t
        histogram_job.run_histogram_job(run.spark, pages_dir, out, days=days, sketch="hdr")
    run.outcome([], 1)
    run.layers["refresh.day_s"] = (day_s, "s")
    run.layers["refresh.day_with_hist_s"] = (time.perf_counter() - t, "s")
    oracle = checks.Oracle(pd.concat([*frames, new, late], ignore_index=True))
    with run.untraced():
        bad, n = checks.check_published(run.spark, out, oracle)
    run.outcome([f"refresh:{b}" for b in bad], n)


def layer_probes(run: Run, frames, pages_dir, out, publish_s, hosts, timed_op, lat=None) -> None:
    """Per-layer metrics for a traced run: read latencies, layout counts, a
    decode replay, the stage replay at two input sizes and the daily refresh
    path. Runs after the workload's timed part; ``lat`` holds the timed
    queries' (plan, exec) seconds, if the workload ran any."""
    from mimirsbrunn_spark import codecs
    from mimirsbrunn_spark.jobs import histogram_job
    from mimirsbrunn_spark.tables import SnapshotTable

    s = run.sizes
    if not SnapshotTable(f"{out}/hdr_1h").exists():
        with run.took("histograms"):
            histogram_job.run_histogram_job(run.spark, pages_dir, out, sketch="hdr")
    if lat is None:  # no timed queries: one traced cycle of the read functions
        lat = {}
        with run.took("query_probe"):
            _queries(run, out, make_queries(run.seed + 1, DAYS, hosts, cycles=1), lat)
    for fn in READ_FNS:
        pl = lat.get(fn) or [(0.0, 0.0, 0.0)]  # every call of fn raised: counted as failed
        run.layers[f"query_api.{fn}.plan_ms"] = (1000 * statistics.median(p[0] for p in pl), "ms")
        run.layers[f"query_api.{fn}.exec_ms"] = (1000 * statistics.median(p[1] for p in pl), "ms")

    n_full = sum(map(len, frames))
    with run.untraced():
        run.layers.update(layout_counts(run, out, n_full))
        t = time.perf_counter()
        _force(codecs.decode_chunks(SnapshotTable(f"{out}/chunks_1h").read(run.spark)))
        run.layers["codecs.decode_s"] = (time.perf_counter() - t, "s")

        # replay at a small and the full input size: busy time per layer and
        # the fixed-vs-per-row fit cost = a + b * docs. An untimed replay runs
        # first, so that neither timed one pays the first compile of the
        # replay's own plans.
        small_dir = f"{run.work}/pages_small"
        for f in frames:
            gen.write_pages(f.iloc[: len(f) // SMALL_SHARE], small_dir, s.files_per_day)
        n_small = sum(len(f) // SMALL_SHARE for f in frames)
        with run.took("replay_warmup"):
            replay(run, small_dir, "warmup")
        with run.took("replay_small"):
            busy_small = replay(run, small_dir, "small")
        with run.took("replay_full"):
            busy = replay(run, pages_dir, "full")
    for layer in REPLAY_LAYERS:
        run.layers[f"{layer}_s"] = (busy[layer], "s")
        b = (busy[layer] - busy_small[layer]) / (n_full - n_small)
        run.layers[f"fit.{layer}.a_s"] = (busy[layer] - b * n_full, "s")
        run.layers[f"fit.{layer}.b_us_per_doc"] = (b * 1e6, "us/doc")
    # the cold publish minus the warm replay: no layer explains this part,
    # and it holds the cold job's JVM and code-generation warm-up
    run.layers["publish.residual_s"] = (publish_s - sum(busy.values()), "s")

    with run.took("refresh"):
        _refresh_probe(run, frames, pages_dir, out, hosts)  # grows the input: last
    run.layers.update(span_metrics(run.tracer, timed_op, span_cost(run.spark.sparkContext)))


def span_metrics(tracer, timed_op: str, span_s: float) -> dict:
    """Per-layer metrics from the recorded spans (self time unless noted).
    Job, stage and span counts are medians over the ops whose span name
    starts with ``timed_op`` (the workload's timed operation); the tracing
    overhead of an op is its span count times ``span_s``, the cost of one
    span."""
    selfs = tracer.self_times()

    def total(name, self_time=True):
        return sum(selfs[s.id] if self_time else s.duration for s in tracer.by_name(name))

    m = {
        "tables.commit_s": (total("tables.commit"), "s"),
        "tables.replace_partitions_s": (total("tables.replace_partitions"), "s"),
        "tables.lineage_record_s": (total("tables.lineage_record", False), "s"),
        "tables.metrics_record_s": (total("tables.metrics_record", False), "s"),
        "tiers.incremental_refresh_s": (total("tiers.incremental_refresh", False), "s"),
        "aux_refresh.refresh_s": (total("aux_refresh.refresh_aux_tiers", False), "s"),
        "retention.expire_s": (total("retention.expire_tier", False), "s"),
    }
    writes = tracer.by_name("tables.commit") + tracer.by_name("tables.replace_partitions")
    m["tables.files_written"] = (sum(s.attrs.get("files", 0) for s in writes), "count")
    m["tables.bytes_written"] = (sum(s.attrs.get("bytes", 0) for s in writes), "B")
    reads = tracer.by_name("tables.read")
    m["tables.read_plan_ms"] = (
        1000 * statistics.median(s.duration for s in reads) if reads else 0.0, "ms")
    read_files = sum(s.attrs.get("files_read", 0) for s in reads)
    m["tables.files_read_ratio"] = (
        read_files / max(sum(s.attrs.get("files_total", 0) for s in reads), 1), "ratio")

    # day loop = job start .. last per-day metrics record; derived = .. the
    # derived-stage metrics record (rollup_job records both stages itself)
    day_loop = derived = 0.0
    for job in tracer.by_name("rollup_job.run_rollup_job"):
        recs = [s for s in tracer.spans if s.name == "tables.metrics_record"
                and job.start <= s.start <= job.end]
        day_end = max((s.end for s in recs if str(s.attrs.get("stage", "")).startswith(
            "series_1m/")), default=job.start)
        der_end = max((s.end for s in recs if s.attrs.get("stage") in (
            "derived", "derived_incremental")), default=day_end)
        day_loop += day_end - job.start
        derived += der_end - day_end
    m["rollup_job.day_loop_s"] = (day_loop, "s")
    m["rollup_job.derived_s"] = (derived, "s")

    ops = [s for s in tracer.spans if s.id == s.op]
    per_op: dict[int, list[int]] = {s.id: [0, 0, 0] for s in ops}
    for s in tracer.spans:
        if s.op in per_op:
            per_op[s.op][0] += s.jobs
            per_op[s.op][1] += s.stages
            per_op[s.op][2] += 1
    timed = [per_op[s.id] for s in ops if s.name.startswith(timed_op)]
    m["spark.jobs_per_op"] = (statistics.median(c[0] for c in timed), "count")
    m["spark.stages_per_op"] = (statistics.median(c[1] for c in timed), "count")
    m["trace.overhead_ms"] = (1000 * span_s * statistics.median(c[2] for c in timed), "ms")
    return m


def install_spans(tracer) -> None:
    """Wrap the engine's public entry points, plus rollup_job's incremental
    derived stage, so every call opens a span."""
    from mimirsbrunn_spark import codecs, gapfill, query_api, retention, series, tiers
    from mimirsbrunn_spark.jobs import aux_refresh, histogram_job, rollup_job
    from mimirsbrunn_spark.tables import Lineage, Metrics, SnapshotTable

    def files_written(span, args, kwargs, sid):
        tbl = args[0]
        snap = tbl.snapshot(sid)
        before = set(tbl.snapshot(snap.parent_id).files) if snap.parent_id else set()
        new = [f for f in snap.files if f not in before]
        span.attrs.update(files=len(new), bytes=sum(os.path.getsize(f) for f in new))

    def files_read(span, args, kwargs, df):
        tbl = args[0]
        span.attrs.update(
            files_read=len(df.inputFiles()),
            files_total=len(tbl.snapshot(tbl.current_snapshot_id()).files),
        )

    def stage(span, args, kwargs, _):
        span.attrs["stage"] = kwargs.get("stage", args[3] if len(args) > 3 else None)

    w = tracer.wrap
    w(rollup_job, "run_rollup_job", "rollup_job.run_rollup_job")
    w(rollup_job, "read_pages", "ingest.read_pages")
    # rollup_job's daily path refreshes the tiers through this stage, not
    # through tiers.incremental_refresh, which no job calls
    w(rollup_job, "_refresh_derived_incremental", "tiers.incremental_refresh")
    w(histogram_job, "run_histogram_job", "histogram_job.run_histogram_job")
    w(histogram_job, "read_quantile", "histogram_job.read_quantile")
    w(aux_refresh, "refresh_aux_tiers", "aux_refresh.refresh_aux_tiers")
    w(series, "series_1m", "series.series_1m")
    w(tiers, "rollup", "tiers.rollup")
    w(tiers, "cascade", "tiers.cascade")
    w(tiers, "host_series", "tiers.host_series")
    w(gapfill, "gapfill", "gapfill.gapfill")
    w(codecs, "encode_chunks", "codecs.encode_chunks")
    w(codecs, "decode_chunks", "codecs.decode_chunks")
    w(retention, "expire_tier", "retention.expire_tier")
    for fn in READ_FNS[:-1]:
        w(query_api, fn, f"query_api.{fn}")
    w(SnapshotTable, "commit", "tables.commit", files_written)
    w(SnapshotTable, "replace_partitions", "tables.replace_partitions", files_written)
    w(SnapshotTable, "read", "tables.read", files_read)
    w(SnapshotTable, "drop_partition_values", "tables.drop_partition_values")
    w(SnapshotTable, "drop_partitions", "tables.drop_partitions")
    w(Lineage, "record", "tables.lineage_record")
    w(Lineage, "invalidate", "tables.lineage_invalidate")
    w(Lineage, "committed_partitions", "tables.lineage_read")
    w(Metrics, "record", "tables.metrics_record", stage)
