"""Snapshot table semantics + mid-job kill/resume (the reference's index
lifecycle tests re-expressed: /root/reference/tests/rubber_test.rs via
tests/tests.rs:149-152 — zero-downtime swap, ghost cleanup, resumability)."""

import pandas as pd
import pytest

from oracle import reference as oracle
from mimirsbrunn_spark.jobs.rollup_job import SimulatedFailure, run_rollup_job
from mimirsbrunn_spark.tables import Lineage, Metrics, SnapshotTable


def test_snapshot_append_replace_timetravel(spark, tmp_path):
    tbl = SnapshotTable(str(tmp_path / "t"))
    df1 = spark.range(5).toDF("id")
    df2 = spark.range(5, 8).toDF("id")
    s1 = tbl.commit(df1, mode="replace")
    s2 = tbl.commit(df2, mode="append")
    assert tbl.read(spark).count() == 8
    assert tbl.read_at(spark, s1).count() == 5
    s3 = tbl.commit(df2, mode="replace")
    assert tbl.read(spark).count() == 3
    assert tbl.read_at(spark, s2).count() == 8
    snaps = tbl.snapshots()
    assert [s.snapshot_id for s in snaps] == [s1, s2, s3]
    assert snaps[1].parent_id == s1


def test_read_missing_table_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        SnapshotTable(str(tmp_path / "missing")).read(spark)


def test_lineage_and_metrics_rows_are_local_relations(spark, tmp_path, monkeypatch):
    """Lineage and metrics rows reach Spark through Arrow as a LocalRelation.
    The list path of createDataFrame (a LogicalRDD over a pickled Python RDD)
    starts a Python worker pool for a one-row write, and Arrow conversion
    falls back to it without a word — so the plan node is pinned here."""
    import datetime as dt
    import time

    committed = []
    real_commit = SnapshotTable.commit

    def spy(self, df, *args, **kwargs):
        committed.append(df)
        return real_commit(self, df, *args, **kwargs)

    monkeypatch.setattr(SnapshotTable, "commit", spy)
    t0 = time.time()
    lin = Lineage(str(tmp_path / "lineage"))
    lin.record(spark, "2024-01-01", 3, 4, 10, "abc")
    met = Metrics(str(tmp_path / "metrics"))
    met.record(spark, "job-1", "day", {"rows": 10, "seconds": 1.5})
    t1 = time.time()
    nodes = [df._jdf.queryExecution().analyzed().getClass().getSimpleName() for df in committed]
    assert nodes == ["LocalRelation"] * 2

    def utc_epoch(ts):
        return ts.replace(tzinfo=dt.timezone.utc).timestamp()

    (r,) = lin.table.read(spark).collect()
    assert (r.partition_id, r.input_snapshot, r.output_snapshot, r.row_count, r.checksum) == (
        "2024-01-01", 3, 4, 10, "abc",
    )
    assert t0 - 1 <= utc_epoch(r.committed_at) <= t1 + 1
    rows = sorted(met.table.read(spark).collect(), key=lambda r: r.key)
    assert [(r.job_id, r.stage, r.key, r.value) for r in rows] == [
        ("job-1", "day", "rows", 10.0), ("job-1", "day", "seconds", 1.5),
    ]
    assert all(t0 - 1 <= utc_epoch(r.ts) <= t1 + 1 for r in rows)


def test_job_kill_and_resume_exact(spark, small_pages_path, small_pages_pdf, tmp_path):
    pages_path, pages_pdf = small_pages_path, small_pages_pdf
    out = str(tmp_path / "out")

    # first run dies after 2 partitions
    with pytest.raises(SimulatedFailure):
        run_rollup_job(spark, pages_path, out, fail_after=2)
    lin = Lineage(f"{out}/lineage")
    assert len(lin.committed_partitions(spark)) == 2

    # resume: processes only the remaining days
    summary = run_rollup_job(spark, pages_path, out)
    assert summary["days_skipped"] == 2
    assert summary["days_processed"] == summary["days_total"] - 2

    # a second resume is a no-op over partitions
    summary2 = run_rollup_job(spark, pages_path, out)
    assert summary2["days_processed"] == 0

    # final series table == oracle, exactly
    got = (
        SnapshotTable(f"{out}/series_1m")
        .read(spark)
        .toPandas()
        .sort_values(["host", "bucket_ts", "lang"], kind="mergesort")
        .reset_index(drop=True)
    )
    got["bucket_ts"] = got["bucket_ts"].astype("datetime64[us]")
    want = oracle.series_1m(pages_pdf)
    pd.testing.assert_frame_equal(
        got[["host", "bucket_ts", "lang", "doc_count", "bytes_sum"]],
        want,
        check_dtype=False,
    )

    # derived tiers published and exact
    got_1d = (
        SnapshotTable(f"{out}/rollup_1d")
        .read(spark)
        .toPandas()
        .sort_values(["host", "bucket_ts", "lang"], kind="mergesort")
        .reset_index(drop=True)
    )
    got_1d["bucket_ts"] = got_1d["bucket_ts"].astype("datetime64[us]")
    want_1d = oracle.all_tiers(pages_pdf)["1d"]
    pd.testing.assert_frame_equal(
        got_1d[["host", "bucket_ts", "lang", "doc_count", "bytes_sum"]],
        want_1d,
        check_dtype=False,
    )

    # metrics recorded per stage
    m = SnapshotTable(f"{out}/metrics").read(spark)
    assert m.filter("stage like 'series_1m/day=%'").count() > 0


def test_partitioned_commit_prune_and_drop(spark, tmp_path):
    from pyspark.sql import functions as F

    tbl = SnapshotTable(str(tmp_path / "pt"))
    df = spark.range(100).select(
        "id", F.concat(F.lit("2024-01-0"), (F.col("id") % 5 + 1).cast("string")).alias("day")
    )
    tbl.commit(df, mode="replace", partition_by="day")

    # manifest-level pruning: only matching files reach the scan
    pruned = tbl.read(spark, partition_min="2024-01-02", partition_max="2024-01-03")
    assert pruned.count() == 40
    assert set(r.day for r in pruned.select("day").distinct().collect()) == {
        "2024-01-02",
        "2024-01-03",
    }

    # metadata-only delete: no data rewritten, old snapshot still complete
    before_files = set()
    for root, _, fs in __import__("os").walk(tbl.path):
        before_files.update(fs)
    sid1 = tbl.current_snapshot_id()
    tbl.drop_partitions(spark, below="2024-01-03")
    after_files = set()
    for root, _, fs in __import__("os").walk(tbl.path):
        after_files.update(fs)
    assert before_files - after_files == set()  # nothing deleted physically
    assert tbl.read(spark).count() == 60
    assert tbl.read_at(spark, sid1).count() == 100  # time travel intact


def test_job_series_partitioned(spark, small_pages_path, tmp_path):
    from pyspark.sql import functions as F

    out = str(tmp_path / "outp")
    run_rollup_job(spark, small_pages_path, out)
    tbl = SnapshotTable(f"{out}/series_1m")
    snap = tbl.snapshot(tbl.current_snapshot_id())
    days = {v for v in snap.partitions.values() if v}
    assert len(days) >= 2  # one partition value per day
    one_day = sorted(days)[0]
    pruned = tbl.read(spark, partition_min=one_day, partition_max=one_day)
    assert pruned.count() > 0
    assert pruned.select(F.max(F.to_date("bucket_ts").cast("string"))).collect()[0][0] == one_day


def test_concurrent_appends_serialize(spark, tmp_path):
    """Two threads appending concurrently must both survive in the final
    manifest (commit lock + rebase — no lost file sets)."""
    import threading

    tbl = SnapshotTable(str(tmp_path / "conc"))
    tbl.commit(spark.range(0, 10).toDF("id"), mode="replace")
    errs = []

    def worker(lo):
        try:
            tbl.commit(spark.range(lo, lo + 10).toDF("id"), mode="append")
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [threading.Thread(target=worker, args=(100 * (i + 1),)) for i in range(4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    got = sorted(r.id for r in tbl.read(spark).collect())
    want = sorted(list(range(10)) + [100 * (i + 1) + j for i in range(4) for j in range(10)])
    assert got == want
    assert tbl.current_snapshot_id() == 5


def test_job_multi_chunk_config(spark, small_pages_path, tmp_path):
    """chunk_max_points splits long host series into multiple chunks per
    (host, tier); decode of the published chunk table equals host_series."""
    from mimirsbrunn_spark import codecs, tiers
    from mimirsbrunn_spark.config import EngineConfig
    from mimirsbrunn_spark.jobs.rollup_job import run_rollup_job

    out = str(tmp_path / "out_mc")
    run_rollup_job(spark, small_pages_path, out, config=EngineConfig.load(chunk_max_points=16))
    chunks = SnapshotTable(f"{out}/chunks_1h").read(spark)
    per_host = chunks.groupBy("host").count().collect()
    assert max(r["count"] for r in per_host) > 1  # split actually happened
    assert chunks.filter("n_points > 16").count() == 0
    dec = codecs.decode_chunks(chunks).drop("tier")
    hs = tiers.host_series(SnapshotTable(f"{out}/rollup_1h").read(spark))
    assert dec.count() == hs.count()
    assert dec.exceptAll(hs).count() == 0 and hs.exceptAll(dec).count() == 0


def test_sql_surface_register_views(spark, small_pages_path, tmp_path):
    """Published tables are queryable through plain spark.sql."""
    from mimirsbrunn_spark.jobs.rollup_job import run_rollup_job
    from mimirsbrunn_spark.query_api import register_views

    out = str(tmp_path / "out_sql")
    run_rollup_job(spark, small_pages_path, out)
    views = register_views(spark, out, prefix="t_")
    assert {"t_series_1m", "t_rollup_1h", "t_chunks_1h", "t_lineage"} <= set(views)
    r = spark.sql(
        "SELECT host, SUM(doc_count) AS docs FROM t_rollup_1d GROUP BY host ORDER BY docs DESC LIMIT 3"
    ).collect()
    assert len(r) == 3 and r[0].docs >= r[2].docs
    joined = spark.sql(
        "SELECT COUNT(*) AS n FROM t_rollup_1h h JOIN t_rollup_1d d ON h.host = d.host "
        "AND date_trunc('DAY', h.bucket_ts) = d.bucket_ts AND h.lang = d.lang"
    ).collect()[0].n
    assert joined > 0

    # a stray plain file and a foreign directory in out_dir must neither
    # crash the admin surface nor get _snapshots/ skeletons created inside
    # them (the read path must not mutate what it reports on)
    import os

    from mimirsbrunn_spark.query_api import table_report

    with open(os.path.join(out, "README.txt"), "w") as fh:
        fh.write("stray")
    os.makedirs(os.path.join(out, "foreign_parquet_dir"), exist_ok=True)
    views2 = register_views(spark, out, prefix="u_")
    assert "u_rollup_1h" in views2 and "u_README.txt" not in views2
    rep = table_report(spark, out)
    assert "rollup_1h" in rep["tables"] and "foreign_parquet_dir" not in rep["tables"]
    assert not os.path.exists(os.path.join(out, "foreign_parquet_dir", "_snapshots"))
    assert os.path.isfile(os.path.join(out, "README.txt"))


def test_job_partitioned_input_manifest_pruning(spark, small_pages_path, small_pages_pdf, tmp_path):
    """rollup_job over a day-partitioned SnapshotTable input: each day
    iteration's scan touches only that day's files (manifest pruning), and
    the result equals the plain-parquet run exactly."""
    from pyspark.sql import functions as F

    from mimirsbrunn_spark.jobs.rollup_job import run_rollup_job

    # publish the pages as a day-partitioned snapshot table
    src = SnapshotTable(str(tmp_path / "pages_tbl"))
    pages = spark.read.parquet(small_pages_path)
    src.commit(
        pages.withColumn("day", F.to_date("warc_ts")), mode="replace", partition_by="day"
    )
    # sanity: manifest pruning hands the scan only one day's files
    snap = src.snapshot(src.current_snapshot_id())
    one_day = sorted({v for v in snap.partitions.values() if v})[0]
    pruned = src.read(spark, partition_min=one_day, partition_max=one_day)
    files = [f[7:] if f.startswith("file://") else f for f in pruned.inputFiles()]
    assert files and all(snap.partitions.get(f) == one_day for f in files)

    out_t = str(tmp_path / "out_tblin")
    out_p = str(tmp_path / "out_pqin")
    s1 = run_rollup_job(spark, str(tmp_path / "pages_tbl"), out_t)
    s2 = run_rollup_job(spark, small_pages_path, out_p)
    assert s1["series_rows"] == s2["series_rows"]
    a = SnapshotTable(f"{out_t}/series_1m").read(spark).drop("day")
    b = SnapshotTable(f"{out_p}/series_1m").read(spark).drop("day")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_table_report(spark, small_pages_path, tmp_path):
    from mimirsbrunn_spark.jobs.rollup_job import run_rollup_job
    from mimirsbrunn_spark.query_api import table_report

    out = str(tmp_path / "out_rep")
    run_rollup_job(spark, small_pages_path, out)
    rep = table_report(spark, out)
    assert rep["tables"]["series_1m"]["rows"] > 0
    assert rep["tables"]["series_1m"]["partitions"] >= 2
    assert rep["tables"]["rollup_1h"]["snapshot_id"] >= 1
    assert rep["lineage"]["partitions_done"] == rep["tables"]["series_1m"]["partitions"]
    assert rep["lineage"]["latest"].startswith("day=")


def test_read_chunks_equals_rollup(spark, small_pages_path, tmp_path):
    """Serving from compressed chunks == the uncompressed host series, incl.
    with a time-range + host filter (chunk pruning correct at boundaries)."""
    from pyspark.sql import functions as F

    from mimirsbrunn_spark import tiers
    from mimirsbrunn_spark.jobs.rollup_job import run_rollup_job
    from mimirsbrunn_spark.query_api import read_chunks

    out = str(tmp_path / "out_rc")
    run_rollup_job(spark, small_pages_path, out)
    hs = tiers.host_series(SnapshotTable(f"{out}/rollup_1h").read(spark))

    full = read_chunks(spark, out, "1h").drop("tier")
    assert full.exceptAll(hs).count() == 0 and hs.exceptAll(full).count() == 0

    bounds = hs.agg(F.min(F.col("bucket_ts").cast("long")).alias("lo"),
                    F.max(F.col("bucket_ts").cast("long")).alias("hi")).collect()[0]
    t0, t1 = bounds.lo + 3600 * 5, bounds.hi - 3600 * 5
    host = hs.select("host").distinct().orderBy("host").first().host
    got = read_chunks(spark, out, "1h", t0=t0, t1=t1, hosts=[host]).drop("tier")
    want = hs.filter((F.col("host") == host)
                     & (F.col("bucket_ts").cast("long") >= t0)
                     & (F.col("bucket_ts").cast("long") < t1))
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0


def test_serving_tables_partitioned_and_pruned(spark, small_pages_path, tmp_path, scanned):
    """Published rollup/gapfill/chunks tables are partitioned, and the
    serving read path prunes at the MANIFEST level: a narrow t0/t1 (or host)
    query's scan touches ONLY files whose partition key can match (VERDICT r2
    item 1 — the read path must never scan every file). ``read_rollup`` and
    ``read_chunks`` read on the driver, so the files they touched are those
    their pruning step handed to the scan, and ``read_chunks``' plan holds
    no Python node."""
    from pyspark.sql import functions as F

    from mimirsbrunn_spark import tiers
    from mimirsbrunn_spark.jobs.rollup_job import run_rollup_job
    from mimirsbrunn_spark.query_api import read_chunks, read_rollup

    out = str(tmp_path / "out_prune")
    run_rollup_job(spark, small_pages_path, out)

    # -- rollup_1h: partitioned by ISO day of bucket_ts --------------------
    tbl = SnapshotTable(f"{out}/rollup_1h")
    snap = tbl.snapshot(tbl.current_snapshot_id())
    days = sorted({v for v in snap.partitions.values()})
    assert len(days) >= 3 and "" not in days  # actually partitioned
    one_day = days[1]
    import datetime as dt

    d = dt.datetime.fromisoformat(one_day).replace(tzinfo=dt.timezone.utc)
    t0, t1 = int(d.timestamp()), int(d.timestamp()) + 86400
    scanned.clear()
    got = read_rollup(spark, out, "1h", t0=t0, t1=t1)
    (touched,) = scanned
    assert touched and all(snap.partitions[f] == one_day for f in touched)
    assert len(touched) < len(snap.files)
    # pruned read == unpruned read with the same row filters
    full = tbl.read(spark).drop("pkey").filter(
        (F.col("bucket_ts").cast("long") >= t0) & (F.col("bucket_ts").cast("long") < t1)
    ).withColumn("avg_page_size", F.col("bytes_sum") / F.col("doc_count"))
    assert got.count() == full.count() > 0
    assert got.exceptAll(full).count() == 0

    # -- gapfill_1h: same partition scheme ----------------------------------
    gsnap = SnapshotTable(f"{out}/gapfill_1h").snapshot(
        SnapshotTable(f"{out}/gapfill_1h").current_snapshot_id()
    )
    assert "" not in set(gsnap.partitions.values())

    # -- chunks_1h: composite host-bucket|month key --------------------------
    csnap = SnapshotTable(f"{out}/chunks_1h").snapshot(
        SnapshotTable(f"{out}/chunks_1h").current_snapshot_id()
    )
    cvals = set(csnap.partitions.values())
    assert "" not in cvals and all("|" in v for v in cvals)
    assert csnap.meta.get("host_buckets") and csnap.meta.get("month_split")
    hs = tiers.host_series(tbl.read(spark))
    host = hs.select("host").distinct().orderBy("host").first().host
    scanned.clear()
    got_c = read_chunks(spark, out, "1h", hosts=[host])
    from mimirsbrunn_spark.codecs import chunk_host_bucket
    from mimirsbrunn_spark.plans import plan_str

    hb = chunk_host_bucket(host, int(csnap.meta["host_buckets"]))
    (touched_c,) = scanned
    assert touched_c and all(
        csnap.partitions[f].split("|")[0] == hb for f in touched_c
    )
    assert len(touched_c) < len(csnap.files)
    want_c = hs.filter(F.col("host") == host)
    assert got_c.drop("tier").exceptAll(want_c).count() == 0
    assert got_c.count() == want_c.count() > 0
    plan = plan_str(got_c)
    assert not any(n in plan for n in ("MapInArrow", "MapInPandas", "ArrowEvalPython"))
    # a window pruned to nothing: the typed empty answer
    empty = read_chunks(spark, out, "1h", t0=0, t1=3600, hosts=[host])
    assert empty.schema == got_c.schema and empty.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in empty.schema] == [
        ("host", "string"), ("tier", "string"), ("bucket_ts", "timestamp"),
        ("doc_count", "bigint"), ("bytes_sum", "bigint"),
    ]


def test_read_chunks_gappy_series_not_pruned(spark, tmp_path):
    """ADVICE r2 (high): a chunk whose series has gaps spans far more than
    n_points*step — pruning must use the RECORDED last_ts, not an estimate.
    Points at hours 0,1,200,201; t0=100h must return the 200/201 points."""
    from mimirsbrunn_spark import codecs
    from mimirsbrunn_spark.query_api import read_chunks

    from pyspark.sql import functions as F

    rows = [("gap.com", h * 3600, 1 + h, 10 * (1 + h)) for h in (0, 1, 200, 201)]
    hs = spark.createDataFrame(
        rows, "host string, sec long, doc_count long, bytes_sum long"
    ).select("host", F.timestamp_seconds("sec").alias("bucket_ts"), "doc_count", "bytes_sum")
    out = str(tmp_path / "out_gappy")
    SnapshotTable(f"{out}/chunks_1h").commit(
        codecs.encode_chunks(hs, "1h"), mode="replace"
    )
    got = read_chunks(spark, out, "1h", t0=100 * 3600).drop("tier")
    assert got.count() == 2
    secs = sorted(r.bucket_ts.timestamp() for r in got.collect())
    assert secs == [200 * 3600.0, 201 * 3600.0]


def test_enumerate_days_is_manifest_only(spark, small_pages_path, tmp_path):
    """Day enumeration over a day-partitioned SnapshotTable input is pure
    manifest arithmetic — it must not need a SparkSession at all (VERDICT r2
    item 5: no distinct() scan over the raw pages on the control path)."""
    from pyspark.sql import functions as F

    from mimirsbrunn_spark.jobs.rollup_job import enumerate_days

    src = SnapshotTable(str(tmp_path / "pages_tbl_ed"))
    pages = spark.read.parquet(small_pages_path)
    src.commit(
        pages.withColumn("day", F.to_date("warc_ts")), mode="replace", partition_by="day"
    )
    # spark=None: any Spark touch would raise — enumeration is driver-only
    days = enumerate_days(None, src, None)
    want = sorted(
        r.d.isoformat()
        for r in pages.select(F.to_date("warc_ts").alias("d")).distinct().collect()
    )
    assert days == want


def test_legacy_manifest_footer_fallback(spark, tmp_path):
    """ADVICE r2 (low): manifests that predate file_rows must fall back to
    parquet footers — never silently report 0 rows."""
    import json
    import os

    from pyspark.sql import functions as F

    tbl = SnapshotTable(str(tmp_path / "legacy"))
    df = spark.range(100).select(
        "id", F.concat(F.lit("d"), (F.col("id") % 4).cast("string")).alias("p")
    )
    tbl.commit(df, mode="replace", partition_by="p")
    # simulate a legacy manifest: strip the per-file stats
    mp = tbl._manifest_path(tbl.current_snapshot_id())
    with open(mp) as f:
        m = json.load(f)
    m["file_rows"] = {}
    with open(mp, "w") as f:
        json.dump(m, f)
    assert tbl.partition_row_count("d1") == 25
    tbl.drop_partition_values({"d0"})
    assert tbl.row_count() == 75


def test_incremental_derived_refresh_equals_full_rebuild(spark, small_pages_path, tmp_path):
    """Continuous-aggregate invalidation inside rollup_job: a second run over
    newly-appended days refreshes ONLY dirty partitions (manifest meta shows
    the append path), and every derived table ends bit-identical to a
    from-scratch full rebuild over the complete input."""
    from pyspark.sql import functions as F

    from mimirsbrunn_spark.jobs.rollup_job import run_rollup_job

    pages = spark.read.parquet(small_pages_path)
    days = sorted(
        r.d.isoformat()
        for r in pages.select(F.to_date("warc_ts").alias("d")).distinct().collect()
    )
    assert len(days) >= 4
    first, rest = days[:2], days[2:]

    # day-partitioned snapshot input, committed in two steps
    src_path = str(tmp_path / "pages_incr")
    src = SnapshotTable(src_path)
    wd = pages.withColumn("day", F.to_date("warc_ts"))
    src.commit(
        wd.filter(F.col("day").cast("string").isin(first)), mode="replace", partition_by="day"
    )

    out_i = str(tmp_path / "out_incr")
    run_rollup_job(spark, src_path, out_i)  # first run: full rebuild path

    src.commit(
        wd.filter(F.col("day").cast("string").isin(rest)), mode="append", partition_by="day"
    )
    s2 = run_rollup_job(spark, src_path, out_i)  # second run: incremental path
    assert s2["days_processed"] == len(rest)
    # the incremental path swapped partitions (no replace) on the rollup tables
    r1h = SnapshotTable(f"{out_i}/rollup_1h")
    metas = [s.meta for s in r1h.snapshots()]
    assert any("refresh_days" in m for m in metas), metas

    # ground truth: full rebuild over the complete input
    out_f = str(tmp_path / "out_full")
    run_rollup_job(spark, src_path, out_f)

    for name in (
        "series_1m",
        "rollup_1h", "gapfill_1h", "chunks_1h",
        "rollup_1d", "gapfill_1d", "chunks_1d",
        "rollup_30d", "gapfill_30d", "chunks_30d",
    ):
        a = SnapshotTable(f"{out_i}/{name}").read(spark)
        b = SnapshotTable(f"{out_f}/{name}").read(spark)
        cols = sorted(set(a.columns) & set(b.columns))
        a, b = a.select(*cols), b.select(*cols)
        assert a.count() == b.count() > 0, name
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, name
        if name.startswith(("rollup_", "chunks_")):
            # the partition swaps keep the full build's declared layout
            ta, tb = SnapshotTable(f"{out_i}/{name}"), SnapshotTable(f"{out_f}/{name}")
            lay_a = ta.snapshot(ta.current_snapshot_id()).layout
            assert lay_a == tb.snapshot(tb.current_snapshot_id()).layout, name


def test_read_gapfill_pruned_equals_on_demand(spark, small_pages_path, tmp_path, scanned):
    """The stored gap-fill serving path: manifest-pruned, and equal to the
    on-demand fill over the same range/host. Caveat pinned here: a narrow
    t0/t1 read of the STORED fill returns exactly the stored rows in range
    (fills computed over the full series), identical to slicing the
    on-demand fill of the full tier."""
    import datetime as dt

    from pyspark.sql import functions as F

    from mimirsbrunn_spark import gapfill, tiers
    from mimirsbrunn_spark.jobs.rollup_job import run_rollup_job
    from mimirsbrunn_spark.query_api import read_gapfill

    out = str(tmp_path / "out_gf")
    run_rollup_job(spark, small_pages_path, out)

    tbl = SnapshotTable(f"{out}/rollup_1h")
    snap = tbl.snapshot(tbl.current_snapshot_id())
    days = sorted(set(snap.partitions.values()))
    day = days[1]
    d = dt.datetime.fromisoformat(day).replace(tzinfo=dt.timezone.utc)
    t0, t1 = int(d.timestamp()), int(d.timestamp()) + 86400

    scanned.clear()
    got = read_gapfill(spark, out, "1h", t0=t0, t1=t1, metric="doc_count", fill="locf")
    # manifest pruning: only the day's files are touched (``read_gapfill``
    # reads on the driver: the files its pruning step handed to the scan)
    (touched,) = scanned
    gf_tbl = SnapshotTable(f"{out}/gapfill_1h")
    gf_snap = gf_tbl.snapshot(gf_tbl.current_snapshot_id())
    assert touched and all(gf_snap.partitions[f] == day for f in touched)
    assert len(touched) < len(gf_snap.files)

    # equality vs the on-demand fill over the full tier, sliced to the range
    hs = tiers.host_series(tbl.read(spark).drop("pkey"))
    want = (
        gapfill.gapfill(hs, "1h")
        .filter(
            (F.col("metric") == "doc_count")
            & (F.col("bucket_ts").cast("long") >= t0)
            & (F.col("bucket_ts").cast("long") < t1)
        )
        .select("host", "bucket_ts", "metric", F.col("value_locf").alias("value"), "is_filled")
    )
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0


def test_first_publish_runs_no_coverage_agg(spark, small_pages_path, tmp_path, monkeypatch):
    """A first publish into an empty output dir runs no ``min(bucket_ts)``
    coverage aggregation between cascade tiers: the next tier reads that
    bound only when its table already exists, and on a first publish it
    never does."""
    from mimirsbrunn_spark.jobs.rollup_job import run_rollup_job

    DataFrame = type(spark.range(1))  # the session's concrete DataFrame class
    calls = []
    first = DataFrame.first

    def spy(self):
        calls.append(self)
        return first(self)

    monkeypatch.setattr(DataFrame, "first", spy)
    run_rollup_job(spark, small_pages_path, str(tmp_path / "cold"))
    monkeypatch.undo()
    assert calls == []
    assert SnapshotTable(str(tmp_path / "cold" / "rollup_30d")).row_count() > 0


def test_cold_publish_pinned(spark, small_pages_path, tmp_path, jobs_of, monkeypatch):
    """A cold ``run_rollup_job`` (the path ``perfbench`` ``publish_bulk``
    times) runs a pinned number of Spark jobs, builds the rollup tiers
    through ``ContinuousAggregate.publish`` and publishes every serving
    table with a pinned layout and meta keys."""
    from mimirsbrunn_spark.jobs.aux_refresh import ContinuousAggregate

    published = []
    publish = ContinuousAggregate.publish

    def spy(self, *args, **kwargs):
        published.append(self.name)
        return publish(self, *args, **kwargs)

    monkeypatch.setattr(ContinuousAggregate, "publish", spy)
    out = str(tmp_path / "cold")
    _, jobs = jobs_of(spark, lambda: run_rollup_job(spark, small_pages_path, out), "cold_pin")
    assert len(jobs) == 87
    assert published == ["rollup"]
    served = {"cluster_by": ["host"], "partition_by": "pkey", "stats_cols": ["host", "bucket_ts"]}
    want = {
        "rollup": (served, ["partition_fmt", "series_snapshot", "tier"]),
        "gapfill": (served, ["partition_fmt", "series_snapshot", "tier"]),
        "chunks": (
            {"partition_by": "pkey", "stats_cols": ["host", "chunk_start", "last_ts"]},
            ["host_buckets", "month_split", "series_snapshot", "tier"],
        ),
    }
    for kind, (layout, meta_keys) in want.items():
        for tier in ("1h", "1d", "30d"):
            tbl = SnapshotTable(f"{out}/{kind}_{tier}")
            snap = tbl.snapshot(tbl.current_snapshot_id())
            assert snap.layout == layout, (kind, tier)
            assert sorted(snap.meta) == meta_keys, (kind, tier)
