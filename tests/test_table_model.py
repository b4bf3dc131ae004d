"""Model-based randomized test of the snapshot-table layer: a seeded random
sequence of every mutation the engine uses (append / replace /
replace_partitions / drop_partition_values / drop_partitions / compact /
update_meta / vacuum) is applied both to a SnapshotTable and to a plain
Python dict model; after every step the table must agree with the model on
content, manifest row arithmetic, and (until vacuumed) time travel.

This is the layer retention/maintenance correctness stands on — the
per-operation unit tests each pin one path; this pins their COMPOSITION."""

import random

import pytest
from pyspark.sql import functions as F

from mimirsbrunn_spark.retention import compact, vacuum
from mimirsbrunn_spark.tables import SnapshotTable

PARTS = ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"]


def _df(spark, rows):
    return spark.createDataFrame(rows or [], "p string, v long")


def _content(spark, tbl):
    return sorted((r.p, r.v) for r in tbl.read(spark).collect())


def _model_rows(model):
    return sorted((p, v) for p, vs in model.items() for v in vs)


@pytest.mark.parametrize("seed", [1, 7, 23])
def test_snapshot_table_random_ops_vs_model(spark, tmp_path, seed):
    rng = random.Random(seed)
    tbl = SnapshotTable(str(tmp_path / f"t{seed}"))
    model: dict[str, list[int]] = {}
    history: list[tuple[int, list]] = []  # (snapshot_id, model rows)
    nxt = 0
    vacuumed = False

    def fresh_rows(k=6):
        nonlocal nxt
        out = []
        for _ in range(k):
            out.append((rng.choice(PARTS), nxt))
            nxt += 1
        return out

    # seed commit so every op has a table to act on
    rows = fresh_rows()
    tbl.commit(_df(spark, rows), partition_by="p", stats_cols=("v",))
    for p, v in rows:
        model.setdefault(p, []).append(v)
    history.append((tbl.current_snapshot_id(), _model_rows(model)))

    for _ in range(12):
        op = rng.choice(
            ["append", "replace", "replace_parts", "drop_values", "drop_below",
             "compact", "update_meta", "vacuum"]
        )
        if op == "append":
            rows = fresh_rows()
            tbl.commit(_df(spark, rows), mode="append", partition_by="p", stats_cols=("v",))
            for p, v in rows:
                model.setdefault(p, []).append(v)
        elif op == "replace":
            rows = fresh_rows()
            tbl.commit(_df(spark, rows), mode="replace", partition_by="p", stats_cols=("v",))
            model = {}
            for p, v in rows:
                model.setdefault(p, []).append(v)
        elif op == "replace_parts":
            target = set(rng.sample(PARTS, rng.randint(1, 2)))
            rows = [(p, v) for p, v in fresh_rows() if p in target]
            tbl.replace_partitions(
                _df(spark, rows), target, partition_by="p", stats_cols=("v",)
            )
            for p in target:
                model.pop(p, None)
            for p, v in rows:
                model.setdefault(p, []).append(v)
        elif op == "drop_values":
            target = {rng.choice(PARTS)}
            tbl.drop_partition_values(target)
            for p in target:
                model.pop(p, None)
        elif op == "drop_below":
            below = rng.choice(PARTS)
            tbl.drop_partitions(spark, below=below)
            model = {p: vs for p, vs in model.items() if p >= below}
        elif op == "compact":
            compact(spark, tbl)
        elif op == "update_meta":
            tbl.update_meta({"mark": rng.randint(0, 9)})
        elif op == "vacuum":
            vacuum(tbl, keep_snapshots=1)
            vacuumed = True
            history.clear()

        # invariants after EVERY op
        assert _content(spark, tbl) == _model_rows(model)
        snap = tbl.snapshot(tbl.current_snapshot_id())
        assert tbl.row_count() == len(_model_rows(model))
        assert snap.row_count == sum(snap.file_rows[f] for f in snap.files)
        for p in PARTS:
            assert tbl.partition_row_count(p) == len(model.get(p, []))
        # stats pruning must never hide rows: a full-range filter keeps all
        assert (
            tbl.read(spark, stats_filters={"v": (0, None)}).count()
            == len(_model_rows(model))
        )
        history.append((tbl.current_snapshot_id(), _model_rows(model)))

    # time travel: every snapshot since the last vacuum replays its model
    for sid, rows in history:
        assert sorted((r.p, r.v) for r in tbl.read_at(spark, sid).collect()) == rows


def test_append_inherits_declared_layout(spark, tmp_path):
    """An append with no layout args must inherit the table's declared
    layout (files written partitioned + stats'd, manifest layout unchanged)
    rather than silently downgrading the table to layout {} — which would
    disable manifest pruning, zone maps, and the partitioned-retention fast
    path for every later read."""
    import pytest

    from mimirsbrunn_spark.tables import SnapshotTable

    tbl = SnapshotTable(str(tmp_path / "t"))
    df1 = spark.createDataFrame(
        [("2024-01-01", "a", 1.0), ("2024-01-02", "b", 2.0)],
        "pkey string, host string, v double",
    )
    tbl.commit(
        df1, mode="replace", partition_by="pkey", stats_cols=("host",), cluster_by=("host",)
    )
    declared = tbl.snapshot(tbl.current_snapshot_id()).layout

    df2 = spark.createDataFrame(
        [("2024-01-03", "c", 3.0)], "pkey string, host string, v double"
    )
    tbl.commit(df2, mode="append")  # NO layout args
    after = tbl.snapshot(tbl.current_snapshot_id())
    assert after.layout == declared, "ad-hoc append rewrote the declared layout"
    # the appended files conform: every file carries a real partition value
    # and host zone maps
    assert all(after.partitions.get(f) for f in after.files)
    assert all("host" in after.file_stats.get(f, {}) for f in after.files)
    assert tbl.read(spark).count() == 3

    # conflicting partition column: loud error, not a silent respec
    with pytest.raises(ValueError, match="conflicts with the table's declared layout"):
        tbl.commit(df2.withColumnRenamed("pkey", "other"), mode="append", partition_by="other")
    # conflicting stats_cols / cluster_by: same — an append can never respec
    # the declared pruning layout
    with pytest.raises(ValueError, match="stats_cols.*conflicts"):
        tbl.commit(df2, mode="append", stats_cols=("v",))
    with pytest.raises(ValueError, match="cluster_by.*conflicts"):
        tbl.commit(df2, mode="append", cluster_by=("v",))
    # a PARTIAL append (partition_by only) still inherits the rest
    tbl.commit(df2.withColumn("pkey", F.lit("2024-01-04")), mode="append", partition_by="pkey")
    assert tbl.snapshot(tbl.current_snapshot_id()).layout == declared


# -- the read path: scans pinned to the manifest schema ----------------------


def _served_table(spark, tmp_path):
    import datetime as dt

    rows = [
        (f"2024-01-0{1 + i % 3}", f"host-{i % 5}", dt.datetime(2024, 1, 1 + i % 3, i % 24), i)
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "pkey string, host string, ts timestamp, v long")
    tbl = SnapshotTable(str(tmp_path / "served"))
    tbl.commit(df, partition_by="pkey", stats_cols=("host",), cluster_by=("host",), cluster_files=2)
    return tbl


def test_read_runs_no_job_and_equals_inferred_read(spark, tmp_path, jobs_of):
    """A read takes its schema from the manifest: planning it runs no Spark
    job (schema inference reads a footer in one), and it answers with the
    same schema and rows as the inferred read of the same files."""
    tbl = _served_table(spark, tmp_path)
    for i, kw in enumerate(
        ({}, {"partition_values": {"2024-01-02"}}, {"stats_filters": {"host": {"host-1"}}})
    ):
        _, jobs = jobs_of(spark, lambda: tbl.read(spark, **kw), f"pinned-read-{i}")
        assert jobs == [], kw
    got = tbl.read(spark)
    inferred = spark.read.parquet(*tbl.snapshot(tbl.current_snapshot_id()).files)
    assert got.schema == inferred.schema
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, inferred.collect()))


def test_read_without_schema_json_infers(spark, tmp_path):
    """A manifest older than ``schema_json`` still reads — through schema
    inference — in full and pruned to nothing."""
    import json

    tbl = _served_table(spark, tmp_path)
    want = sorted(map(tuple, tbl.read(spark).collect()))
    want_schema = tbl.read(spark).schema
    path = tbl._manifest_path(tbl.current_snapshot_id())
    with open(path) as f:
        m = json.load(f)
    del m["schema_json"]
    with open(path, "w") as f:
        json.dump(m, f)
    assert tbl.snapshot(tbl.current_snapshot_id()).schema_json is None
    got = tbl.read(spark)
    assert got.schema == want_schema
    assert sorted(map(tuple, got.collect())) == want
    empty = tbl.read(spark, partition_values={"1999-01-01"})
    assert empty.schema == want_schema and empty.count() == 0


def test_read_pruned_to_nothing_is_typed_empty(spark, tmp_path, jobs_of):
    """A read that prunes every file is a typed empty LocalRelation built
    from the manifest schema — no scan is planned over the table's files."""
    tbl = _served_table(spark, tmp_path)
    got, jobs = jobs_of(
        spark, lambda: tbl.read(spark, stats_filters={"host": {"no-such-host"}}), "pruned-empty"
    )
    assert jobs == []
    assert got._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LocalRelation"
    assert got.schema == tbl.read(spark).schema
    assert got.count() == 0


def test_read_arrow_prunes_like_read_and_reads_without_schema_json(spark, tmp_path, jobs_of):
    """``read_arrow`` reads the files that ``read`` would scan, on the driver
    with no Spark job: the same rows, typed by the manifest schema, with the
    row filter applied inside the scan. A manifest older than
    ``schema_json`` still reads, in full and pruned to nothing."""
    import json

    import pyarrow as pa
    import pyarrow.dataset as ds

    tbl = _served_table(spark, tmp_path)

    def rows(t):
        return sorted(zip(*(t[c].to_pylist() for c in ("pkey", "host", "ts", "v"))))

    def spark_rows(df):
        return sorted(map(tuple, df.select("pkey", "host", "ts", "v").collect()))

    full, jobs = jobs_of(spark, tbl.read_arrow, "arrow-read")
    assert jobs == []
    want_types = [pa.string(), pa.string(), pa.timestamp("us", tz="UTC"), pa.int64()]
    assert full.schema.types == want_types
    assert [_utc_naive(r) for r in rows(full)] == spark_rows(tbl.read(spark))
    pruned = tbl.read_arrow(
        columns=["pkey", "host", "ts", "v"],
        row_filter=ds.field("v") >= 30,
        partition_values={"2024-01-02"},
        stats_filters={"host": {"host-1", "host-2"}},
    )
    want = tbl.read(
        spark, partition_values={"2024-01-02"}, stats_filters={"host": {"host-1", "host-2"}}
    ).filter("v >= 30")
    assert [_utc_naive(r) for r in rows(pruned)] == spark_rows(want) != []

    path = tbl._manifest_path(tbl.current_snapshot_id())
    with open(path) as f:
        m = json.load(f)
    del m["schema_json"]
    with open(path, "w") as f:
        json.dump(m, f)
    assert tbl.snapshot(tbl.current_snapshot_id()).schema_json is None
    legacy = tbl.read_arrow()
    assert legacy.schema.types == want_types and rows(legacy) == rows(full)
    empty = tbl.read_arrow(partition_values={"1999-01-01"})
    assert empty.num_rows == 0 and empty.schema.types == want_types


def _utc_naive(row):
    """A pyarrow row's UTC timestamp as the naive datetime Spark collects
    under the engine's UTC session."""
    return tuple(v.replace(tzinfo=None) if hasattr(v, "tzinfo") else v for v in row)
