"""Published top-N tiers: the 1h tier equals the direct exact build, the
cascaded tiers equal the exact raw-data top-n wherever the served n-th
count clears the stored max_missed bound (the provable-exactness
criterion), and the pruned read equals the unpruned filter while touching
fewer files."""

from pyspark.sql import functions as F

from mimirsbrunn_spark.ingest import read_pages, with_host
from mimirsbrunn_spark.jobs.topn_job import read_topn, run_topn_job
from mimirsbrunn_spark.operators.topn import topn_rollup, topn_serve


def test_topn_job_publish_and_serve(spark, small_pages_path, tmp_path):
    """item=lang (6 distinct < the n*slack keep limit): lists are complete,
    so every tier's served top-n must equal the exact raw-data top-n — the
    truncated/bounded regime is covered adversarially in test_topn.py."""
    out = str(tmp_path / "topn_out")
    run_topn_job(spark, small_pages_path, out, n=3, slack=4, item_col="lang")
    pages = with_host(read_pages(spark, small_pages_path))
    key = ["bucket_ts", "item", "cnt", "rank"]

    for tier in ("1h", "1d", "30d"):
        direct = topn_serve(
            topn_rollup(pages, tier, 3, item_col="lang", slack=1), 3
        )
        served = read_topn(spark, out, tier)
        assert served.count() == direct.count() > 0, tier
        assert served.select(*key).exceptAll(direct.select(*key)).count() == 0, tier
        # complete lists => the stored bound is zero everywhere
        assert served.filter(F.col("max_missed") != 0).count() == 0, tier

    # manifest pruning: narrow window == full filtered, fewer files touched
    full = read_topn(spark, out, "1h")
    mn, mx = full.agg(
        F.min(F.col("bucket_ts").cast("long")), F.max(F.col("bucket_ts").cast("long"))
    ).first()
    t0, t1 = mn + 86400, mn + 2 * 86400
    narrow = read_topn(spark, out, "1h", t0=t0, t1=t1)
    ref = full.filter(
        (F.col("bucket_ts").cast("long") >= t0) & (F.col("bucket_ts").cast("long") < t1)
    )
    assert narrow.count() == ref.count() > 0
    assert narrow.select(*key).exceptAll(ref.select(*key)).count() == 0
    assert len(narrow.inputFiles()) < len(full.inputFiles())
