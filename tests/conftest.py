import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mimirsbrunn_spark.session import get_spark  # noqa: E402
from mimirsbrunn_spark.synth import write_pages_parquet  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def pages_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("pages") / "pages.parquet"
    write_pages_parquet(str(p), n_rows=20_000, n_hosts=30, span_days=35)
    return str(p)


@pytest.fixture(scope="session")
def small_pages_path(tmp_path_factory):
    """Few-day fixture for job/resume tests (day loop dominates runtime)."""
    p = tmp_path_factory.mktemp("pages_small") / "pages_dir"
    write_pages_parquet(str(p), n_rows=5_000, n_hosts=12, span_days=5, n_files=4)
    return str(p)


@pytest.fixture(scope="session")
def small_pages_pdf(small_pages_path):
    import pandas as pd

    return pd.read_parquet(small_pages_path)


@pytest.fixture(scope="session")
def pages_pdf(pages_path):
    import pandas as pd

    return pd.read_parquet(pages_path)


@pytest.fixture(scope="session")
def pages_df(spark, pages_path):
    return spark.read.parquet(pages_path)


@pytest.fixture
def scanned(monkeypatch):
    """The file list of every manifest-pruned read, in call order, recorded
    from ``SnapshotTable._pruned_files`` (the one pruning step of ``read_at``
    and ``read_arrow``). Reads answered on the driver return a LocalRelation,
    which has no ``inputFiles()`` to assert pruning on."""
    from mimirsbrunn_spark.tables import SnapshotTable

    calls = []
    pruned = SnapshotTable._pruned_files

    def spy(self, *args, **kwargs):
        calls.append(pruned(self, *args, **kwargs))
        return calls[-1]

    monkeypatch.setattr(SnapshotTable, "_pruned_files", spy)
    return calls


@pytest.fixture
def jobs_of():
    """``jobs_of(spark, fn, group)`` → (fn(), ids of the Spark jobs it ran),
    counted through a job group."""

    def run(spark, fn, group):
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, sc.statusTracker().getJobIdsForGroup(group)

    return run
