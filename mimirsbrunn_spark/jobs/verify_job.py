"""Publication consistency checker — the engine's fsck.

A serving layout published by ``rollup_job`` carries redundant structure
(manifest stats vs parquet footers, lineage vs partition row counts, each
tier vs an aggregate of its parent, gap-fill observed rows vs the tier,
compressed chunks vs the uncompressed rollup). This job cross-checks all
of it and reports exactly what disagrees — the operational answer to "did
a crash / bad deploy / stray write corrupt the published tables?".

Reference lifecycle analog: the reference validates a finished import by
querying the freshly-published index end-to-end before swapping the alias
(/root/reference/tests/rubber_test.rs via tests/tests.rs:149-152); this
job is that validation for the rollup store, run on demand or after a
suspect incident.

Scale shape: NOTHING here reads raw pages. Manifest and lineage checks
are driver-side arithmetic plus parquet FOOTER reads (``--deep``); the
cross-tier check aggregates the parent TIER (bounded by bucket grid ×
keys, ~1000× smaller than raw at any scale); the chunk check decodes only
the chunks of sampled hosts through the manifest-pruned ``read_chunks``
path. History a tier legitimately preserves past its parent's retention
(the preserve∪rebuild contract) is excluded from the strict comparison
and reported separately as ``preserved_rows``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tiers
from ..tables import Lineage, SnapshotTable, _footer_stats

TIERS = ("1h", "1d", "30d")


def _tier_df(spark: SparkSession, out_dir: str, tier: str) -> DataFrame:
    return SnapshotTable(f"{out_dir}/rollup_{tier}").read(spark).drop("pkey")


def check_manifest(tbl: SnapshotTable, deep: bool = False) -> dict:
    """Manifest ↔ filesystem: every referenced data file exists; with
    ``deep``, each file's parquet footer must reproduce the manifest's
    recorded row count and zone-map bounds (``_footer_stats`` is the same
    function that wrote them, so equality is exact)."""
    import os

    sid = tbl.current_snapshot_id()
    if sid is None:
        return {"ok": False, "error": "no snapshot"}
    snap = tbl.snapshot(sid)
    missing = [f for f in snap.files if not os.path.exists(f)]
    row_mismatch: list[str] = []
    stats_mismatch: list[str] = []
    if deep:
        import pyarrow.parquet as pq

        stats_cols = tuple((snap.layout or {}).get("stats_cols", ()) or ())
        for f in snap.files:
            if f in missing:
                continue
            pf = pq.ParquetFile(f)
            rec = snap.file_rows.get(f)
            if rec is not None and pf.metadata.num_rows != rec:
                row_mismatch.append(f)
            rec_stats = snap.file_stats.get(f)
            if rec_stats and stats_cols:
                if _footer_stats(pf, stats_cols) != rec_stats:
                    stats_mismatch.append(f)
    return {
        "ok": not (missing or row_mismatch or stats_mismatch),
        "files": len(snap.files),
        "missing": missing,
        "row_mismatch": row_mismatch,
        "stats_mismatch": stats_mismatch,
    }


def check_lineage(spark: SparkSession, out_dir: str) -> dict:
    """Lineage ledger ↔ series manifest: every committed day's recorded
    row count must equal the partition's manifest row count (both sides
    are metadata arithmetic — no scan)."""
    series_tbl = SnapshotTable(f"{out_dir}/series_1m")
    lin = Lineage(f"{out_dir}/lineage")
    if not lin.table.exists() or not series_tbl.exists():
        return {"ok": False, "error": "missing lineage or series table"}
    rows = (
        lin.table.read(spark)
        .groupBy("partition_id")
        .agg(F.max(F.struct("output_snapshot", "row_count")).alias("s"))
        .select("partition_id", F.col("s.row_count").alias("rows"))
        .collect()
    )
    mismatch = {}
    for r in rows:
        day = r.partition_id.removeprefix("day=")
        actual = series_tbl.partition_row_count(day)
        if actual != r.rows:
            mismatch[day] = {"lineage": r.rows, "manifest": actual}
    return {"ok": not mismatch, "days": len(rows), "mismatch": mismatch}


def check_gapfill_observed(spark: SparkSession, out_dir: str, tier: str) -> dict:
    """Published gap-fill table ↔ the tier it was filled from: every
    observed (is_filled = false) row must carry exactly the tier's value
    in BOTH fill columns; every (host, bucket) of the tier must appear
    observed. Exact float64-of-integer comparisons."""
    gf_tbl = SnapshotTable(f"{out_dir}/gapfill_{tier}")
    if not gf_tbl.exists() or not SnapshotTable(f"{out_dir}/rollup_{tier}").exists():
        return {"ok": False, "error": f"missing gapfill_{tier} or tier table"}
    gf = gf_tbl.read(spark)
    if "pkey" in gf.columns:
        gf = gf.drop("pkey")
    hs = tiers.host_series(_tier_df(spark, out_dir, tier))
    long = hs.selectExpr(
        "host",
        "bucket_ts",
        "stack(2, 'doc_count', cast(doc_count as double), "
        "'bytes_sum', cast(bytes_sum as double)) as (metric, value)",
    )
    j = long.join(gf, ["host", "bucket_ts", "metric"], "left")
    bad = j.filter(
        F.col("is_filled").isNull()  # tier row absent from the gapfill table
        | F.col("is_filled")  # present but marked filled
        | (F.col("value_locf") != F.col("value"))
        | (F.col("value_linear") != F.col("value"))
    )
    n_bad = bad.count()
    n_points = long.count()
    # the left join proves tier ⊆ observed-and-matching; equal counts then
    # prove observed ⊆ tier too (no phantom observed rows)
    n_obs = gf.filter(~F.col("is_filled")).count()
    return {
        "ok": n_bad == 0 and n_obs == n_points,
        "tier_points": n_points,
        "observed_rows": n_obs,
        "mismatch_rows": n_bad,
    }


def check_chunks_decode(
    spark: SparkSession, out_dir: str, tier: str, n_hosts: int = 3
) -> dict:
    """Compressed chunks ↔ uncompressed rollup for sampled hosts: decode
    through the manifest-pruned ``read_chunks`` path and compare the full
    per-host series exactly. Bounded work: only the sampled hosts' chunk
    files are read."""
    from ..query_api import read_chunks

    if not SnapshotTable(f"{out_dir}/chunks_{tier}").exists():
        return {"ok": False, "error": f"missing chunks_{tier} table"}
    hs = tiers.host_series(_tier_df(spark, out_dir, tier))
    hosts = [r.host for r in hs.select("host").distinct().orderBy("host").limit(n_hosts).collect()]
    if not hosts:
        return {"ok": True, "hosts": [], "mismatch_rows": 0}
    want = hs.filter(F.col("host").isin(hosts)).select(
        "host", "bucket_ts", "doc_count", "bytes_sum"
    )
    got = read_chunks(spark, out_dir, tier, hosts=hosts).select(
        "host", "bucket_ts", "doc_count", "bytes_sum"
    )
    n_bad = got.exceptAll(want).count() + want.exceptAll(got).count()
    return {"ok": n_bad == 0, "hosts": hosts, "mismatch_rows": n_bad}


def _exact_specs(out_dir: str) -> dict:
    """The published families whose tier merge is exact, by table prefix:
    the rollup tiers and the aux families that merge by integer sums (the
    log-2 ``hist_*`` / HDR ``hdr_*`` histograms, the ``stats_*`` six-sums,
    the ``slo_*`` error counts). The HLL/topn cascades are not among them:
    their merge is lossy relative to a direct rebuild."""
    from . import distinct_job, histogram_job, rollup_job, slo_job, stats_job, topn_job

    specs = (
        rollup_job._rollup_spec(None, lambda n: SnapshotTable(f"{out_dir}/{n}")),
        distinct_job.spec(), topn_job.spec(), histogram_job.spec("log2"),
        histogram_job.spec("hdr"), stats_job.STATS, slo_job.SLO,
    )
    return {s.name: s for s in specs if s.exact}


def check_cascade(
    spark: SparkSession, out_dir: str, prefix: str, child: str, sample: int = 5
) -> dict:
    """Published tier ↔ its spec's build from the next finer table: the
    continuous-aggregate invariant, exact for integer-sum merges. The
    rollup's finest tier is built from the published 1m series; an aux
    family's finest tier comes from raw pages, which nothing here reads.
    Buckets below the spec's ``preserve`` floor (the rule its full build
    uses) are legitimate preserved history: counted as ``preserved_rows``,
    not compared."""
    spec = _exact_specs(out_dir)[prefix]
    i = spec.tiers.index(child)
    src, build = (f"{prefix}_{spec.tiers[i - 1]}", spec.merge) if i else ("series_1m", spec.finest)
    p_tbl, c_tbl = SnapshotTable(f"{out_dir}/{src}"), spec.table(out_dir, child)
    if not p_tbl.exists() or not c_tbl.exists():
        return {"ok": False, "error": f"missing {src} or {prefix}_{child} table"}
    c_df = c_tbl.read(spark).drop("pkey")
    expected = build(p_tbl.read(spark).drop("pkey", "day"), child).select(*c_df.columns)
    floor = spec.preserve(spark, child) if spec.preserve else None
    c_cov, preserved = c_df, 0
    if floor is not None:
        sec = F.col("bucket_ts").cast("long")
        c_cov, expected = c_df.filter(sec >= floor), expected.filter(sec >= floor)
        preserved = c_df.filter(sec < floor).count()
    extra = c_cov.exceptAll(expected)
    missing = expected.exceptAll(c_cov)
    n_extra, n_missing = extra.count(), missing.count()
    out = {
        "ok": n_extra == 0 and n_missing == 0,
        "extra_rows": n_extra,
        "missing_rows": n_missing,
        "preserved_rows": preserved,
    }
    if n_extra or n_missing:
        out["sample_extra"] = [r.asDict() for r in extra.limit(sample).collect()]
        out["sample_missing"] = [r.asDict() for r in missing.limit(sample).collect()]
    return out


def _safe(fn, *args, **kw) -> dict:
    """An fsck must report, never die: a data-level check over a table
    whose files are gone raises from deep inside Spark — catch and turn it
    into a failed check with the cause."""
    try:
        return fn(*args, **kw)
    except Exception as e:  # noqa: BLE001 - any failure IS the finding
        return {"ok": False, "error": f"{type(e).__name__}: {str(e)[:300]}"}


def verify_publication(
    spark: SparkSession, out_dir: str, deep: bool = False, chunk_hosts: int = 3
) -> dict:
    """Run every check over a published layout; ``ok`` iff all pass."""
    report: dict = {"checks": {}}
    checks = report["checks"]
    # the rollup family is always checked; aux families only when published
    specs = {
        p: s for p, s in _exact_specs(out_dir).items()
        if p == "rollup" or s.table(out_dir, s.tiers[0]).exists()
    }
    names = ["series_1m"] + [f"{k}_{t}" for t in TIERS for k in ("gapfill", "chunks")]
    names += [f"{p}_{t}" for p, s in specs.items() for t in s.tiers]
    for name in names:
        tbl = SnapshotTable(f"{out_dir}/{name}")
        if tbl.exists():
            checks[f"manifest:{name}"] = _safe(check_manifest, tbl, deep=deep)
    checks["lineage"] = _safe(check_lineage, spark, out_dir)
    for t in TIERS:
        checks[f"gapfill:{t}"] = _safe(check_gapfill_observed, spark, out_dir, t)
        checks[f"chunks:{t}"] = _safe(
            check_chunks_decode, spark, out_dir, t, n_hosts=chunk_hosts
        )
    for prefix, spec in specs.items():
        # the rollup's finest tier has a published source (the 1m series)
        for t in spec.tiers if prefix == "rollup" else spec.tiers[1:]:
            key = f"tier:{t}" if prefix == "rollup" else f"aux:{prefix}:{t}"
            checks[key] = _safe(check_cascade, spark, out_dir, prefix, t)
    report["ok"] = all(c.get("ok") for c in report["checks"].values())
    return report


def main() -> None:  # pragma: no cover - thin CLI wrapper
    import argparse
    import json

    from ..session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True, help="published layout dir")
    ap.add_argument("--deep", action="store_true", help="also re-read parquet footers")
    ap.add_argument("--chunk-hosts", type=int, default=3)
    args = ap.parse_args()
    spark = get_spark(app_name="verify_job")
    report = verify_publication(spark, args.out, deep=args.deep, chunk_hosts=args.chunk_hosts)
    print(json.dumps(report, default=str))
    raise SystemExit(0 if report["ok"] else 1)


if __name__ == "__main__":  # pragma: no cover
    main()
