"""mimirsbrunn_spark — a PySpark-native time-series rollup / downsample /
retention engine over Common-Crawl-style web-page tables.

Capability graft of antoine-de/mimirsbrunn (see SURVEY.md): the reference's
ingest → enrich → dedup/aggregate → atomic-publish → serve lifecycle
(/root/reference/src/bin/osm2mimir.rs:41-163, libs/mimir/src/rubber.rs:553-602)
re-expressed Spark-first:

- ``ingest``    — pages scan, host derivation, exact dedup, text invariant
- ``series``    — base 1-minute series via salted two-stage aggregation
- ``tiers``     — 1m → 1h → 1d → 30d continuous-aggregate cascade
- ``gapfill``   — dense bucket fill + locf + linear interpolation (one window pass)
- ``codecs``    — delta-of-delta timestamps + Gorilla-XOR values (one
                  vectorized numpy pass per Arrow batch in a sorted
                  ``mapInArrow``; no per-row or per-group Python)
- ``tables``    — snapshot table layer (atomic manifest commits, time travel,
                  lineage + metrics) — Iceberg-style; drop-in for real Iceberg
                  on a cluster (this sandbox ships no Iceberg jars)
- ``jobs``      — resumable spark-submit entry points
- ``operators`` — training-data pipeline ops (dedup/minhash/simhash, ANN,
                  text analysis, multimodal plumbing) + the reference's
                  relational operator inventory (SURVEY.md §2)
"""

__version__ = "0.1.0"


def build_pyfiles_zip(dest_dir: str | None = None) -> str:
    """Zip this package for ``spark-submit --py-files`` (and for
    ``addPyFile`` on an already-running session). The zip name carries the
    newest source mtime so a stale zip is never reused; the archive root is
    the package directory, so ``import mimirsbrunn_spark`` works from the
    zip alone. Returns the zip path."""
    import os
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    newest = 0
    entries = []
    for root, _, files in os.walk(pkg_dir):
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(root, f)
                entries.append(full)
                newest = max(newest, int(os.path.getmtime(full)))
    zip_path = os.path.join(
        dest_dir or tempfile.gettempdir(), f"mimirsbrunn_spark_pyfiles_{newest}.zip"
    )
    if not os.path.exists(zip_path):
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for full in entries:
                z.write(full, os.path.relpath(full, os.path.dirname(pkg_dir)))
        os.replace(tmp, zip_path)
    return zip_path


def ensure_worker_imports(spark) -> None:
    """Make this package importable inside Python workers of an arbitrary,
    already-running SparkSession (e.g. the driver harness's own session, which
    predates any PYTHONPATH we could set): zip the package and addPyFile it.
    Idempotent per session. On a real cluster this is what
    ``spark-submit --py-files`` does at submit time."""
    if getattr(spark, "_mimir_pyfiles_added", False):
        return
    spark.sparkContext.addPyFile(build_pyfiles_zip())
    spark._mimir_pyfiles_added = True
