"""File-level zone maps: commit-time (host, bucket_ts) min/max stats in the
manifest + stats-based file skipping on read (the Iceberg
lower_bounds/upper_bounds + sort-order analog). Serving queries scoped to a
few hosts must touch only the files whose host range can hold them — the
partition key (time) alone can't prune those."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from mimirsbrunn_spark.jobs.rollup_job import run_rollup_job
from mimirsbrunn_spark.query_api import read_chunks, read_gapfill, read_rollup
from mimirsbrunn_spark.tables import SnapshotTable


def _mkdf(spark, n_hosts=8, n_rows=400):
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rows = [
        (
            f"host-{i % n_hosts:02d}.example",
            base + dt.timedelta(minutes=7 * i),
            i,
        )
        for i in range(n_rows)
    ]
    return spark.createDataFrame(rows, "host string, bucket_ts timestamp, doc_count long")


def test_commit_records_zone_maps(spark, tmp_path):
    tbl = SnapshotTable(str(tmp_path / "t"))
    df = _mkdf(spark).withColumn("day", F.to_date("bucket_ts"))
    tbl.commit(
        df,
        partition_by="day",
        stats_cols=("host", "bucket_ts"),
        cluster_by=("host",),
        cluster_files=4,
    )
    snap = tbl.snapshot(tbl.current_snapshot_id())
    assert snap.files and snap.file_stats
    # every file's recorded bounds match its actual data exactly
    for f in snap.files:
        st = snap.file_stats[f]
        pdf = spark.read.parquet(f).toPandas()
        assert st["host"] == [pdf["host"].min(), pdf["host"].max()]
        ts = pdf["bucket_ts"].map(
            lambda t: int(t.replace(tzinfo=dt.timezone.utc).timestamp())
        )
        assert st["bucket_ts"] == [int(ts.min()), int(ts.max())]


def test_stats_filter_prunes_and_results_exact(spark, tmp_path):
    tbl = SnapshotTable(str(tmp_path / "t"))
    df = _mkdf(spark, n_hosts=8)
    tbl.commit(df, stats_cols=("host",), cluster_by=("host",), cluster_files=4)
    snap = tbl.snapshot(tbl.current_snapshot_id())
    assert len(snap.files) > 2, "clustered commit should produce several files"
    want = ["host-00.example"]
    pruned = tbl.read(spark, stats_filters={"host": set(want)})
    assert 0 < len(pruned.inputFiles()) < len(snap.files)
    got = sorted(
        (r.host, r.doc_count) for r in pruned.filter(F.col("host").isin(want)).collect()
    )
    exp = sorted(
        (r.host, r.doc_count)
        for r in tbl.read(spark).filter(F.col("host").isin(want)).collect()
    )
    assert got == exp


def test_stats_range_filter_on_timestamps(spark, tmp_path):
    tbl = SnapshotTable(str(tmp_path / "t"))
    # cluster by time so bucket_ts zone maps are tight per file
    tbl.commit(
        _mkdf(spark), stats_cols=("bucket_ts",), cluster_by=("bucket_ts",), cluster_files=4
    )
    snap = tbl.snapshot(tbl.current_snapshot_id())
    t0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    t1 = t0 + 3600
    pruned = tbl.read(spark, stats_filters={"bucket_ts": (t0, t1 - 1)})
    assert len(pruned.inputFiles()) < len(snap.files)
    sec = F.col("bucket_ts").cast("long")
    assert (
        pruned.filter((sec >= t0) & (sec < t1)).count()
        == tbl.read(spark).filter((sec >= t0) & (sec < t1)).count()
    )


def test_missing_stats_never_prunes(spark, tmp_path):
    """A commit without stats_cols (legacy manifest) must be unaffected by
    stats_filters — pruning can't hide rows the manifest can't bound."""
    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.commit(_mkdf(spark))
    n = tbl.read(spark).count()
    assert tbl.read(spark, stats_filters={"host": {"host-00.example"}}).count() == n
    # type-mismatched predicate (ints vs string stats) also never prunes
    tbl2 = SnapshotTable(str(tmp_path / "t2"))
    tbl2.commit(_mkdf(spark), stats_cols=("host",))
    assert tbl2.read(spark, stats_filters={"host": (0, 5)}).count() == n


def test_stats_survive_partition_drop(spark, tmp_path):
    tbl = SnapshotTable(str(tmp_path / "t"))
    df = _mkdf(spark).withColumn("day", F.to_date("bucket_ts"))
    tbl.commit(
        df, partition_by="day", stats_cols=("host",), cluster_by=("host",), cluster_files=4
    )
    days = sorted({v for v in tbl.snapshot(tbl.current_snapshot_id()).partitions.values()})
    tbl.drop_partition_values({days[0]})
    snap = tbl.snapshot(tbl.current_snapshot_id())
    assert snap.files
    assert all(f in snap.file_stats for f in snap.files)


def test_compaction_preserves_layout(spark, tmp_path):
    """compact() on a partitioned + clustered table must reproduce the
    declared layout — partition values, zone maps, and clustering survive
    the rewrite (a compaction that flattens the layout silently disables
    manifest pruning for every later read)."""
    from mimirsbrunn_spark.retention import compact

    tbl = SnapshotTable(str(tmp_path / "t"))
    df = _mkdf(spark).withColumn("day", F.to_date("bucket_ts"))
    # several appends → many small files
    for d in sorted({r.day for r in df.select("day").distinct().collect()}):
        tbl.commit(
            df.filter(F.col("day") == F.lit(d)),
            partition_by="day",
            stats_cols=("host",),
            cluster_by=("host",),
            cluster_files=3,
        )
    before = tbl.snapshot(tbl.current_snapshot_id())
    rows_before = before.row_count
    compact(spark, tbl)
    after = tbl.snapshot(tbl.current_snapshot_id())
    assert after.row_count == rows_before
    assert after.layout == before.layout
    assert all(after.partitions.get(f) for f in after.files), "partitioning lost"
    assert all(f in after.file_stats for f in after.files), "zone maps lost"
    # host-scoped stats pruning still skips files after compaction
    pruned = tbl.read(spark, stats_filters={"host": {"host-00.example"}})
    assert len(pruned.inputFiles()) < len(after.files)


@pytest.fixture(scope="module")
def served(spark, small_pages_path, tmp_path_factory):
    from mimirsbrunn_spark.config import EngineConfig

    out = str(tmp_path_factory.mktemp("zm_out"))
    run_rollup_job(
        spark, small_pages_path, out, job_id="zm", config=EngineConfig(cluster_files=4)
    )
    return out


def test_read_rollup_host_scoped_skips_files(spark, served, scanned):
    """End-to-end: rollup_job publishes host-clustered files with zone maps;
    a host-scoped read touches strictly fewer files and returns exactly the
    full read filtered to that host. ``read_rollup`` reads on the driver, so
    the touched files are those its pruning step handed to the scan."""
    full = read_rollup(spark, served, "1h")
    host = full.select("host").first().host
    scoped = read_rollup(spark, served, "1h", hosts=[host])
    full_files, scoped_files = scanned
    assert 0 < len(scoped_files) < len(full_files)
    got = sorted(map(tuple, scoped.collect()))
    exp = sorted(map(tuple, full.filter(F.col("host") == host).collect()))
    assert got == exp


def test_read_gapfill_host_scoped_skips_files(spark, served, scanned):
    full = read_gapfill(spark, served, "1h")
    host = full.select("host").first().host
    scoped = read_gapfill(spark, served, "1h", hosts=[host])
    full_files, scoped_files = scanned
    assert 0 < len(scoped_files) < len(full_files)
    assert scoped.count() == full.filter(F.col("host") == host).count()


def test_read_chunks_host_scoped_results_exact(spark, served):
    full = read_chunks(spark, served, "1h")
    host = full.select("host").first().host
    scoped = read_chunks(spark, served, "1h", hosts=[host])
    got = sorted(map(tuple, scoped.collect()))
    exp = sorted(map(tuple, full.filter(F.col("host") == host).collect()))
    assert got == exp


def test_read_rollup_pinned_scan_keeps_pushdown_and_pruning(spark, served):
    """The Spark tier scan (``query_api._tier_scan``, under the reads that
    reduce a tier) reads with the manifest's schema and still gets the
    optimizer's work: the host and both bucket_ts bounds are pushed to
    parquet, and the dropped partition-key column is pruned from the read
    schema."""
    from mimirsbrunn_spark import plans
    from mimirsbrunn_spark.query_api import _tier_scan

    host = read_rollup(spark, served, "1h").select("host").first().host
    t0 = int(dt.datetime(2024, 1, 2, tzinfo=dt.timezone.utc).timestamp())
    df = _tier_scan(spark, served, "1h", t0=t0, t1=t0 + 6 * 3600, hosts=[host])
    (pushed,) = plans.pushed_filters(df)
    assert f"In(host, [{host}])" in pushed or f"EqualTo(host,{host})" in pushed
    assert "IsNotNull(bucket_ts)" in pushed
    assert "GreaterThanOrEqual(bucket_ts,2024-01-02 00:00:00.0)" in pushed
    assert "LessThan(bucket_ts,2024-01-02 06:00:00.0)" in pushed
    (schema,) = plans.scan_read_schemas(df)
    assert "bucket_ts:timestamp" in schema and "host:string" in schema
    assert "pkey" not in schema


@pytest.mark.parametrize("fn", [read_rollup, read_gapfill, read_chunks])
def test_stored_row_reads_run_no_job_until_forced(spark, served, fn, jobs_of):
    """A read whose answer is its stored rows runs on the driver: the call
    runs no Spark job, its plan is a bare LocalTableScan, and forcing it
    into pandas runs exactly one job."""
    from mimirsbrunn_spark import plans

    t0 = int(dt.datetime(2024, 1, 2, tzinfo=dt.timezone.utc).timestamp())
    host = read_rollup(spark, served, "1h").select("host").first().host
    df, jobs = jobs_of(
        spark, lambda: fn(spark, served, "1h", t0=t0, t1=t0 + 12 * 3600, hosts=[host]),
        f"call-{fn.__name__}",
    )
    assert jobs == []
    plan = plans.plan_str(df, "simple")
    assert "LocalTableScan" in plan
    assert not any(n in plan for n in ("FileScan", "Exchange", "Filter", "Sort", "Project"))
    pdf, jobs = jobs_of(spark, df.toPandas, f"force-{fn.__name__}")
    assert len(jobs) == 1 and len(pdf) > 0


def test_read_rollup_equals_spark_tier_scan_in_order(spark, served, tmp_path):
    """``read_rollup`` (driver read, Arrow sort and slice) equals the Spark
    tier scan sorted by ``orderBy(host, bucket_ts, lang)``, row for row and
    in order, over several windows: a NULL host and a NULL lang sort first,
    ``offset``/``limit`` page the same rows, ``langs`` filters, and a window
    pruned to nothing returns the typed empty schema."""
    from mimirsbrunn_spark import tiers
    from mimirsbrunn_spark.jobs.rollup_job import SERVING_CLUSTER, SERVING_STATS
    from mimirsbrunn_spark.query_api import _tier_scan

    src = SnapshotTable(f"{served}/rollup_1h").read(spark)
    t_day = int(dt.datetime(2024, 1, 2, tzinfo=dt.timezone.utc).timestamp())
    row = tiers.time_window(src, t_day, t_day + 86400).orderBy("host", "bucket_ts").first()
    extra = spark.createDataFrame(
        [
            row.asDict() | {"host": None},
            row.asDict() | {"lang": None},
        ],
        src.schema,
    )
    out = str(tmp_path / "nulls")
    SnapshotTable(f"{out}/rollup_1h").commit(
        src.unionByName(extra), mode="replace", partition_by="pkey",
        stats_cols=SERVING_STATS, cluster_by=SERVING_CLUSTER, cluster_files=4,
    )
    hosts = sorted(r.host for r in src.select("host").distinct().collect())[:3]
    lang = src.filter(F.col("host").isin(hosts)).select("lang").first().lang

    def spark_path(t0=None, t1=None, hosts=None, langs=None, offset=0, limit=None):
        df = _tier_scan(spark, out, "1h", t0=t0, t1=t1, hosts=hosts)
        if langs:
            df = df.filter(F.col("lang").isin(langs))
        df = df.withColumn("avg_page_size", F.col("bytes_sum") / F.col("doc_count"))
        df = df.orderBy("host", "bucket_ts", "lang")
        if offset:
            df = df.offset(offset)
        return df if limit is None else df.limit(limit)

    cases = [
        {},
        {"t0": t_day, "t1": t_day + 86400},
        {"t0": t_day + 3 * 3600, "t1": t_day + 9 * 3600, "hosts": hosts},
        {"t0": t_day, "t1": t_day + 86400, "langs": [lang]},
        {"offset": 3, "limit": 7},
        {"t0": t_day, "t1": t_day + 86400, "offset": 2},
        {"t0": t_day, "t1": t_day + 86400, "limit": 4},
        {"t0": 0, "t1": 3600},
    ]
    for kw in cases:
        got = read_rollup(spark, out, "1h", **kw)
        want = spark_path(**kw)
        assert got.schema == want.schema, kw
        rows = got.collect()
        assert rows == want.collect(), kw
        if kw.get("t0") == 0:
            assert rows == []
        else:
            assert rows, kw
    day = {"t0": t_day, "t1": t_day + 86400}
    assert read_rollup(spark, out, "1h", limit=1, **day).first().host is None
    own = read_rollup(spark, out, "1h", hosts=[row.host], **day).collect()
    assert own[0].lang is None and own[0].bucket_ts == row.bucket_ts
