"""Snapshot table layer: atomic manifest commits, time travel, lineage,
metrics — the checkpoint/resume backbone.

Capability graft of the reference's zero-downtime publish protocol
(/root/reference/libs/mimir/src/rubber.rs:553-602: build a dated index
offline, atomically swap the alias, delete the old) re-expressed as an
Iceberg-style table format:

  table_dir/
    data/<uuid>/part-*.parquet     immutable data file sets, one dir per commit
    _snapshots/v{N}.json           manifest: file list, counts, parent, meta
    _current                       pointer file → current snapshot id

Commit protocol: write data files to a fresh uuid dir, write the manifest to
a temp file, then ``os.replace`` both manifest and pointer (atomic on POSIX).
Readers resolve ``_current`` once and only ever see a complete snapshot —
snapshot isolation, same guarantee as the alias swap. ``replace`` commits
drop old file sets from the manifest (retention/compaction path) without
touching readers of older snapshots (time travel keeps them resolvable).

On a real cluster this module is swapped for Iceberg
(``df.writeTo(tbl).append()`` / ``CREATE OR REPLACE``); the sandbox ships no
Iceberg jars, so the protocol is implemented directly — the engine API
(commit/read/read_at/snapshots) matches what the Iceberg catalog would offer.

Lineage + metrics tables (FIXTURES.md §2) are themselves snapshot tables:
one lineage row per processed input partition (the resume key), metrics rows
per job stage — the analogs of the reference's per-country import stats and
bulk error budget (/root/reference/src/addr_reader.rs:33-65,
libs/mimir/src/rubber.rs:736-744).
"""

from __future__ import annotations

import fcntl
import json
import os
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    files: list[str]
    row_count: int
    meta: dict
    committed_at: float
    partitions: dict  # file path -> partition value ('' when unpartitioned)
    file_rows: dict  # file path -> row count (from parquet footers at write)
    schema_json: str | None  # Spark StructType json of the table schema
    file_stats: dict  # file path -> {col: [min, max]} zone maps (may be {})
    layout: dict  # declared write layout (partition_by/stats_cols/cluster_by)
    # — the Iceberg partition-spec/sort-order analog; maintenance jobs
    # (compaction) MUST reproduce it when rewriting files


def _stat_value(v, side: str = "min"):
    """JSON-encodable zone-map bound from a parquet footer statistic.
    Timestamps collapse to epoch seconds — floored for a min bound and
    ceiled for a max bound, so sub-second precision loss only ever WIDENS
    the interval (pruning stays sound). Dates become ISO strings; anything
    unmappable returns None (no stat kept — pruning then ignores the column
    for that file, which is always sound)."""
    import datetime as dt
    import math

    if isinstance(v, bool):
        return None  # min/max pruning on bools is useless
    if isinstance(v, dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=dt.timezone.utc)
        ts = v.timestamp()
        return math.floor(ts) if side == "min" else math.ceil(ts)
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, (str, int, float)):
        return v
    return None


def _footer_stats(pf, cols: tuple[str, ...]) -> dict:
    """Per-file zone maps for ``cols`` from an open pyarrow ParquetFile:
    min-of-row-group-mins / max-of-row-group-maxes. Parquet writers may
    truncate string bounds, but truncation keeps min ≤ all values and
    max ≥ all values, so [min, max] intersection pruning stays sound.
    Columns with any row group missing min/max are omitted entirely."""
    md = pf.metadata
    idx = {md.row_group(0).column(j).path_in_schema: j for j in range(md.num_columns)} if md.num_row_groups else {}
    out = {}
    for col in cols:
        j = idx.get(col)
        if j is None:
            continue
        lo = hi = None
        ok = True
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(j).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mn, mx = _stat_value(st.min, "min"), _stat_value(st.max, "max")
            if mn is None or mx is None:
                ok = False
                break
            lo = mn if lo is None or mn < lo else lo
            hi = mx if hi is None or mx > hi else hi
        if ok and lo is not None:
            out[col] = [lo, hi]
    return out


def cluster_for_write(df, partition_by, cluster_by, cluster_files):
    """Range-repartition rows on (partition key, cluster keys) before a
    write so each file covers a narrow value range and the recorded bounds
    are tight (Iceberg sort-order / write-clustering analog). Shared by
    SnapshotTable.commit and tableio.IcebergTable.commit so both backends
    produce the same file-bound quality. ``cluster_files`` pins the range
    partition count; None lets AQE right-size."""
    if not cluster_by:
        return df
    from pyspark.sql import functions as F

    keys = ([F.col(partition_by)] if partition_by else []) + [F.col(c) for c in cluster_by]
    return (
        df.repartitionByRange(cluster_files, *keys)
        if cluster_files
        else df.repartitionByRange(*keys)
    )


def _inherit_layout(declared: dict, op: str, partition_by, stats_cols, cluster_by, cluster_files):
    """The layout an append or a partition swap writes: the table's
    DECLARED layout, field by field, wherever the call left a field unset.
    A write that published only the layout its caller passed would
    silently downgrade a clustered/partitioned serving table (no more
    manifest pruning, zone maps or partitioned-retention fast path) the
    moment any caller forgot a field. An explicit value contradicting a
    declared one is an error, not a silent respec (replace the table to
    change its layout). ``cluster_files`` is a per-write file-count tuning
    knob, not layout identity: it inherits but may be overridden."""
    declared = declared or {}
    for name, given in (
        ("partition_by", partition_by),
        ("stats_cols", tuple(stats_cols) if stats_cols else None),
        ("cluster_by", tuple(cluster_by) if cluster_by else None),
    ):
        have = declared.get(name)
        if name != "partition_by" and have is not None:
            have = tuple(have)
        if have and given is not None and given != have:
            raise ValueError(
                f"{op} {name}={given!r} conflicts with the table's declared "
                f"layout {have!r} — replace the table to change its layout"
            )
    return (
        partition_by if partition_by is not None else declared.get("partition_by"),
        tuple(stats_cols or declared.get("stats_cols") or ()),
        tuple(cluster_by or declared.get("cluster_by") or ()),
        cluster_files if cluster_files is not None else declared.get("cluster_files"),
    )


class SnapshotTable:
    """A single table with atomic snapshot commits over parquet."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.join(path, "_snapshots"), exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)

    # -- snapshot bookkeeping -------------------------------------------------

    def _manifest_path(self, sid: int) -> str:
        return os.path.join(self.path, "_snapshots", f"v{sid}.json")

    def current_snapshot_id(self) -> int | None:
        ptr = os.path.join(self.path, "_current")
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            return int(f.read().strip())

    def snapshot(self, sid: int) -> Snapshot:
        with open(self._manifest_path(sid)) as f:
            m = json.load(f)
        return Snapshot(
            snapshot_id=m["snapshot_id"],
            parent_id=m["parent_id"],
            files=m["files"],
            row_count=m["row_count"],
            meta=m.get("meta", {}),
            committed_at=m["committed_at"],
            partitions=m.get("partitions", {}),
            file_rows=m.get("file_rows", {}),
            schema_json=m.get("schema_json"),
            file_stats=m.get("file_stats", {}),
            layout=m.get("layout", {}),
        )

    def snapshots(self) -> list[Snapshot]:
        out = []
        sid = self.current_snapshot_id()
        while sid is not None:
            s = self.snapshot(sid)
            out.append(s)
            sid = s.parent_id
        return list(reversed(out))

    # -- commit ---------------------------------------------------------------

    def commit(
        self,
        df: DataFrame,
        mode: str = "append",
        meta: dict | None = None,
        partition_by: str | None = None,
        stats_cols: tuple[str, ...] = (),
        cluster_by: tuple[str, ...] = (),
        cluster_files: int | None = None,
    ) -> int:
        """Write ``df`` as a new immutable file set and atomically publish a
        new snapshot. mode='append' keeps prior files; 'replace' starts the
        manifest fresh (old snapshots stay time-travelable).

        ``partition_by``: column whose (string-cast) value partitions the
        file layout. The column stays in the data files (the directory key is
        a duplicated ``_p=`` hive dir), and the manifest records each file's
        partition value — enabling manifest-level pruning (``read_at``
        partition filters) and metadata-only deletes (``drop_partitions``),
        the Iceberg partition-pruning/DELETE-WHERE analog.

        ``stats_cols``: columns whose per-file min/max ZONE MAPS go into the
        manifest (read from the same parquet-footer pass that collects row
        counts — no extra scan; the Iceberg lower_bounds/upper_bounds
        analog). ``read_at(stats_filters=...)`` then skips files whose
        bounds can't intersect a predicate — secondary pruning INSIDE a
        partition, e.g. host-scoped reads of a time-partitioned tier table.

        ``cluster_by``: range-repartition the rows on these columns before
        the write so each file covers a narrow value range and the zone maps
        actually cut (Iceberg sort-order / write-clustering analog). One
        extra shuffle of the committed rows — worth it on serving tables
        read selectively, wasted on tables always read in full.
        ``cluster_files`` pins the range-partition count (file count per
        write); None lets AQE right-size by advisory partition size.

        An append conforms to the table's declared layout
        (``_inherit_layout``); a replace declares a new one."""
        assert mode in ("append", "replace")
        explicit_pby = partition_by is not None
        prev_pre = None
        if mode == "append":
            cur = self.current_snapshot_id()
            if cur is not None:
                prev_pre = self.snapshot(cur)
                partition_by, stats_cols, cluster_by, cluster_files = _inherit_layout(
                    prev_pre.layout, "append", partition_by, stats_cols, cluster_by,
                    cluster_files,
                )
        new = self._write_fileset(df, partition_by, stats_cols, cluster_by, cluster_files)

        # Commit under the table lock: the parent is re-read inside the
        # critical section and the manifest rebased onto it, so two
        # concurrent appends serialize instead of silently dropping each
        # other's files (optimistic-concurrency commit, Iceberg-style; the
        # expensive data write above happens outside the lock).
        with self._lock():
            parent = self.current_snapshot_id()
            if parent is not None and mode == "append":
                # manifests are immutable per snapshot id: reuse the pre-lock
                # parse when no concurrent commit landed (the common case —
                # avoids double O(files) manifest parsing on every append)
                prev = (
                    prev_pre
                    if prev_pre is not None and prev_pre.snapshot_id == parent
                    else self.snapshot(parent)
                )
                # the layout was inherited OUTSIDE the lock; if a concurrent
                # replace respec'd the table since (declared partition column
                # changed OR removed), our already-written files disagree
                # with the table's current spec — fail the optimistic commit
                # rather than silently reverting the declared layout. The
                # one legitimate mismatch: this append EXPLICITLY partitions
                # a table whose declared layout has no partition column (a
                # first-partitioned-append upgrade).
                cur_pby = (prev.layout or {}).get("partition_by")
                wrote_pby = new["layout"].get("partition_by")
                if wrote_pby != cur_pby and (cur_pby or not explicit_pby):
                    raise RuntimeError(
                        "concurrent layout change: table now declares "
                        f"partition_by={cur_pby!r} but this append wrote "
                        f"{wrote_pby!r} — retry the commit"
                    )
                files = prev.files + new["files"]
                rows = prev.row_count + new["rows"]
                parts = {**prev.partitions, **new["partitions"]}
                frows = {**prev.file_rows, **new["file_rows"]}
                fstats = {**prev.file_stats, **new["file_stats"]}
            else:
                files, rows, parts, frows, fstats = (
                    new["files"], new["rows"], new["partitions"],
                    new["file_rows"], new["file_stats"],
                )
            return self._publish(
                parent, files, rows, parts, frows, fstats, new["layout"],
                new["schema_json"], meta or {},
            )

    def replace_partitions(
        self,
        df: DataFrame,
        values,
        meta: dict | None = None,
        partition_by: str | None = None,
        stats_cols: tuple[str, ...] = (),
        cluster_by: tuple[str, ...] = (),
        cluster_files: int | None = None,
    ) -> int:
        """ATOMIC partition overwrite (the Iceberg overwrite-partitions /
        INSERT OVERWRITE analog): one published snapshot that both removes
        every current file whose partition value is in ``values`` and adds
        ``df``'s files. A separate drop-commit followed by an append-commit
        exposes a window where a crash leaves the partition's surviving rows
        deleted in the current snapshot; this primitive has no such window —
        the data write happens first, the manifest swap is a single
        os.replace. Used by retention's straddling-partition rewrite and the
        incremental tier refresh.

        The new files conform to the table's declared layout the way an
        append does (``_inherit_layout``): callers pass only what differs."""
        values = {str(v) for v in values}
        cur = self.current_snapshot_id()
        prev_pre = self.snapshot(cur) if cur is not None else None
        if prev_pre is not None:
            partition_by, stats_cols, cluster_by, cluster_files = _inherit_layout(
                prev_pre.layout, "replace_partitions", partition_by, stats_cols,
                cluster_by, cluster_files,
            )
        new = self._write_fileset(df, partition_by, stats_cols, cluster_by, cluster_files)
        # Every written row must belong to a replaced partition — a df with
        # stray rows would append them while their partitions' old files are
        # kept, silently double-counting inside one "atomic" snapshot.
        stray = {v for v in new["partitions"].values() if v not in values}
        if stray:
            raise ValueError(
                f"replace_partitions: df contains rows for partitions not in "
                f"the replaced set: {sorted(stray)[:5]} (replacing {sorted(values)[:5]})"
            )
        with self._lock():
            parent = self.current_snapshot_id()
            if parent is not None:
                prev = (
                    prev_pre
                    if prev_pre is not None and prev_pre.snapshot_id == parent
                    else self.snapshot(parent)
                )
                # live files WITHOUT a partition value can never be replaced
                # by ANY values set: a partition-scoped overwrite on top of
                # them keeps their rows while appending recomputed ones —
                # silent duplication (a flattened/legacy table must be
                # replace-committed in full first). Loud error, not quiet
                # double-count.
                flat = [f for f in prev.files if not prev.partitions.get(f)]
                if flat:
                    raise ValueError(
                        f"replace_partitions: {len(flat)} live file(s) carry no "
                        "partition value (flattened/legacy table) — rewrite the "
                        "table with a partitioned replace commit first"
                    )
                keep = [f for f in prev.files if prev.partitions.get(f, "") not in values]
                files = keep + new["files"]
                parts = {
                    **{f: prev.partitions.get(f, "") for f in keep},
                    **new["partitions"],
                }
                frows = {
                    **{f: self._file_rows(prev, f) for f in keep},
                    **new["file_rows"],
                }
                fstats = {
                    **{f: prev.file_stats[f] for f in keep if f in prev.file_stats},
                    **new["file_stats"],
                }
                rows = sum(frows.values())
            else:
                files, rows, parts, frows, fstats = (
                    new["files"], new["rows"], new["partitions"],
                    new["file_rows"], new["file_stats"],
                )
            return self._publish(
                parent, files, rows, parts, frows, fstats, new["layout"],
                new["schema_json"],
                {**(meta or {}), "replaced_values": sorted(values)},
            )

    def update_meta(self, patch: dict) -> int:
        """Metadata-only commit: republish the current snapshot's exact file
        set with ``patch`` merged into its meta (no Spark job, no data
        write). Used to advance sync markers (e.g. ``series_snapshot``)
        after operations that change snapshot ids without changing data —
        retention partition drops — so later runs don't misread the table
        as stale."""
        with self._lock():
            cur = self.snapshot(self.current_snapshot_id())
            return self._publish(
                cur.snapshot_id, cur.files, cur.row_count, cur.partitions,
                cur.file_rows, cur.file_stats, cur.layout, cur.schema_json,
                {**cur.meta, **patch},
            )

    def _write_fileset(
        self, df, partition_by, stats_cols, cluster_by, cluster_files
    ) -> dict:
        """Write ``df`` as a new immutable file set (outside any lock) and
        collect its manifest entries from the parquet FOOTERS (driver-side
        pyarrow metadata read — no Spark job, no data re-scan; the Iceberg
        manifest-stats analog). Shared by commit/replace_partitions."""
        df = cluster_for_write(df, partition_by, cluster_by, cluster_files)
        set_dir = os.path.join(self.path, "data", uuid.uuid4().hex)
        if partition_by:
            from pyspark.sql import functions as F

            df.withColumn("_p", F.col(partition_by).cast("string")).write.mode(
                "errorifexists"
            ).partitionBy("_p").parquet(set_dir)
        else:
            df.write.mode("errorifexists").parquet(set_dir)

        import pyarrow.parquet as pq

        new_files, new_parts, new_frows, new_fstats = [], {}, {}, {}
        for root, _, fs in sorted(os.walk(set_dir)):
            for f in sorted(fs):
                if f.endswith(".parquet"):
                    full = os.path.join(root, f)
                    new_files.append(full)
                    seg = [p for p in root.split(os.sep) if p.startswith("_p=")]
                    new_parts[full] = seg[0][3:] if seg else ""
                    pf = pq.ParquetFile(full)
                    new_frows[full] = pf.metadata.num_rows
                    if stats_cols:
                        st = _footer_stats(pf, tuple(stats_cols))
                        if st:
                            new_fstats[full] = st
        return {
            "files": new_files,
            "partitions": new_parts,
            "file_rows": new_frows,
            "file_stats": new_fstats,
            "rows": sum(new_frows.values()),
            "schema_json": df.schema.json(),
            "layout": {
                k: v
                for k, v in {
                    "partition_by": partition_by,
                    "stats_cols": list(stats_cols),
                    "cluster_by": list(cluster_by),
                    "cluster_files": cluster_files,
                }.items()
                if v
            },
        }

    @contextmanager
    def _lock(self):
        lock_path = os.path.join(self.path, "_lock")
        with open(lock_path, "w") as fh:
            fcntl.flock(fh, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(fh, fcntl.LOCK_UN)

    def _publish(
        self, parent, files, rows, partitions, file_rows, file_stats, layout,
        schema_json, meta,
    ) -> int:
        sid = (parent or 0) + 1
        manifest = {
            "snapshot_id": sid,
            "parent_id": parent,
            "files": files,
            "row_count": rows,
            "partitions": partitions,
            "file_rows": file_rows,
            "file_stats": file_stats,
            "layout": layout,
            "schema_json": schema_json,
            "meta": meta,
            "committed_at": time.time(),
        }
        tmp = self._manifest_path(sid) + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path(sid))
        ptr_tmp = os.path.join(self.path, f"_current.tmp.{uuid.uuid4().hex}")
        with open(ptr_tmp, "w") as f:
            f.write(str(sid))
        os.replace(ptr_tmp, os.path.join(self.path, "_current"))
        return sid

    def drop_partitions(self, spark: SparkSession, below: str, meta: dict | None = None) -> int:
        """Metadata-only delete: publish a snapshot without the files whose
        partition value sorts strictly below ``below`` (ISO day/epoch strings
        sort correctly). No data is rewritten, removed, or even READ — the new
        row count is arithmetic over the manifest's per-file stats. Old
        snapshots stay time-travelable until vacuum. Returns the snapshot id.

        ``spark`` is unused (kept for API stability)."""
        return self._drop_files(lambda v: bool(v) and v < below, {**(meta or {}), "dropped_below": below})

    def drop_partition_values(self, values, meta: dict | None = None) -> int | None:
        """Metadata-only removal of files whose partition value is in
        ``values`` (idempotent-overwrite primitive: drop a day before
        re-appending it). Returns the new snapshot id, or None when the table
        has no snapshot or nothing matches (no empty commit)."""
        if self.current_snapshot_id() is None:
            return None
        values = set(values)
        cur = self.snapshot(self.current_snapshot_id())
        if not any(cur.partitions.get(f, "") in values for f in cur.files):
            return None
        return self._drop_files(
            lambda v: v in values, {**(meta or {}), "dropped_values": sorted(values)}
        )

    @staticmethod
    def _file_rows(snap: Snapshot, f: str) -> int:
        """Per-file row count: manifest stats, falling back to the parquet
        FOOTER for legacy manifests that predate file_rows — never a silent
        0 (that would under-report row_count / lineage day_rows)."""
        n = snap.file_rows.get(f)
        if n is None:
            import pyarrow.parquet as pq

            n = pq.ParquetFile(f).metadata.num_rows
        return n

    def _drop_files(self, pred, meta: dict) -> int:
        """Publish a snapshot keeping only files whose partition value fails
        ``pred``. Pure manifest arithmetic — no Spark job (footer reads only
        for legacy pre-file_rows manifests)."""
        with self._lock():
            cur = self.snapshot(self.current_snapshot_id())
            keep = [f for f in cur.files if not pred(cur.partitions.get(f, ""))]
            parts = {f: cur.partitions.get(f, "") for f in keep}
            frows = {f: self._file_rows(cur, f) for f in keep}
            fstats = {f: cur.file_stats[f] for f in keep if f in cur.file_stats}
            rows = sum(frows.values())
            return self._publish(
                cur.snapshot_id, keep, rows, parts, frows, fstats, cur.layout,
                cur.schema_json, meta,
            )

    # -- read -----------------------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        partition_min: str | None = None,
        partition_max: str | None = None,
        partition_values: set[str] | None = None,
        partition_filter=None,
        stats_filters: dict | None = None,
    ) -> DataFrame:
        sid = self.current_snapshot_id()
        if sid is None:
            raise FileNotFoundError(f"table {self.path} has no snapshot")
        return self.read_at(
            spark, sid, partition_min, partition_max, partition_values,
            partition_filter, stats_filters,
        )

    @staticmethod
    def _stats_pass(stats: dict, stats_filters: dict) -> bool:
        """True iff a file's zone maps can intersect every predicate.
        Predicate per column: a 2-element tuple/list ``(lo, hi)`` range
        (either end None = open) or a set/frozenset of point values —
        anything else raises rather than guessing (a list mistaken for a
        point set would prune files whose bounds lie strictly INSIDE the
        intended range, silently hiding rows). A file missing stats for a
        column always passes; so does any type-mismatched comparison."""
        for col, pred in stats_filters.items():
            b = stats.get(col)
            is_range = isinstance(pred, (tuple, list))
            if is_range and len(pred) != 2:
                raise ValueError(f"range predicate for {col!r} must be (lo, hi): {pred!r}")
            if not is_range and not isinstance(pred, (set, frozenset)):
                raise ValueError(
                    f"stats filter for {col!r} must be a (lo, hi) tuple or a set "
                    f"of values, got {type(pred).__name__}"
                )
            if b is None:
                continue
            mn, mx = b
            try:
                if is_range:
                    lo, hi = pred
                    if lo is not None and mx < lo:
                        return False
                    if hi is not None and mn > hi:
                        return False
                else:
                    if not any(mn <= v <= mx for v in pred):
                        return False
            except TypeError:
                continue
        return True

    def _pruned_files(
        self,
        snap: Snapshot,
        partition_min: str | None = None,
        partition_max: str | None = None,
        partition_values: set[str] | None = None,
        partition_filter=None,
        stats_filters: dict | None = None,
    ) -> list[str]:
        """The files of ``snap`` that manifest pruning keeps (see
        ``read_at``): the one pruning step shared by ``read_at`` and
        ``read_arrow``."""
        files = snap.files
        if (
            partition_min is not None
            or partition_max is not None
            or partition_values is not None
            or partition_filter is not None
        ):
            def ok(f):
                v = snap.partitions.get(f, "")
                if v == "":
                    return True
                if partition_values is not None and v not in partition_values:
                    return False
                if partition_filter is not None and not partition_filter(v):
                    return False
                return (partition_min is None or v >= partition_min) and (
                    partition_max is None or v <= partition_max
                )

            files = [f for f in files if ok(f)]
        if stats_filters:
            files = [
                f
                for f in files
                if self._stats_pass(snap.file_stats.get(f, {}), stats_filters)
            ]
        return files

    def read_arrow(
        self,
        columns: list[str] | None = None,
        row_filter=None,
        partition_min: str | None = None,
        partition_max: str | None = None,
        partition_values: set[str] | None = None,
        partition_filter=None,
        stats_filters: dict | None = None,
    ):
        """Read the current snapshot into driver memory as a pyarrow Table:
        the serving path for reads whose answer bounds their input. Files are
        pruned exactly as ``read_at`` prunes them, then scanned by pyarrow
        (no Spark job); ``row_filter`` (a ``pyarrow.dataset`` expression) is
        applied inside the scan, with row-group statistics, so only matching
        rows are materialized. Columns carry the Arrow form of the
        manifest's ``schema_json``, all nullable as in a Spark parquet scan;
        manifests older than the field take the first file's footer schema,
        with every timestamp read as a UTC instant, as Spark reads it."""
        import pyarrow as pa
        import pyarrow.dataset as ds
        import pyarrow.fs as pafs

        sid = self.current_snapshot_id()
        if sid is None:
            raise FileNotFoundError(f"table {self.path} has no snapshot")
        snap = self.snapshot(sid)
        files = self._pruned_files(
            snap, partition_min, partition_max, partition_values,
            partition_filter, stats_filters,
        )
        if snap.schema_json is not None:
            from pyspark.sql.pandas.types import to_arrow_schema
            from pyspark.sql.types import StructType

            types = [
                (f.name, f.type)
                for f in to_arrow_schema(StructType.fromJson(json.loads(snap.schema_json)))
            ]
        elif snap.files:
            import pyarrow.parquet as pq

            types = [
                (f.name, pa.timestamp("us", tz="UTC") if pa.types.is_timestamp(f.type) else f.type)
                for f in pq.read_schema(snap.files[0])
            ]
        else:
            raise FileNotFoundError(
                f"snapshot {sid} of {self.path} is empty and has no recorded schema"
            )
        schema = pa.schema([pa.field(name, t, nullable=True) for name, t in types])
        fmt = ds.ParquetFileFormat(
            read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us")
        )
        dataset = ds.FileSystemDataset.from_paths(
            files, schema=schema, format=fmt, filesystem=pafs.LocalFileSystem()
        )
        # on the calling thread: a serving read touches a few small files,
        # and its CPU then lands on the thread that asked for it
        return dataset.to_table(columns=columns, filter=row_filter, use_threads=False)

    def read_at(
        self,
        spark: SparkSession,
        snapshot_id: int,
        partition_min: str | None = None,
        partition_max: str | None = None,
        partition_values: set[str] | None = None,
        partition_filter=None,
        stats_filters: dict | None = None,
    ) -> DataFrame:
        """Read a snapshot; optional manifest-level partition pruning — only
        files whose partition value falls in [partition_min, partition_max]
        (range), in ``partition_values`` (discrete set — the bucket-probe
        path), or satisfies ``partition_filter`` (an arbitrary value→bool
        predicate, the Iceberg partition-predicate analog for composite
        keys) are handed to the scan (no file listing, no footer reads for
        pruned files). Files with an empty partition value (unpartitioned
        legacy commits) always pass — pruning is never allowed to hide data
        the manifest can't bound.

        ``stats_filters`` prunes a second way, on the per-file ZONE MAPS
        recorded by ``commit(stats_cols=...)``: {col: (lo, hi)} range or
        {col: {v, ...}} point-set predicates against each file's [min, max]
        (the Iceberg data-file bounds-filtering analog). Orthogonal to the
        partition key — this is what cuts host-scoped reads inside a
        time-partitioned tier table when files are host-clustered. Files
        without recorded stats always pass."""
        snap = self.snapshot(snapshot_id)
        files = self._pruned_files(
            snap, partition_min, partition_max, partition_values,
            partition_filter, stats_filters,
        )
        # The manifest's schema pins the scan: no footer is read to infer it
        # (inference is one Spark job per read). Only manifests older than
        # schema_json still infer.
        schema = None
        if snap.schema_json is not None:
            from pyspark.sql.types import StructType

            schema = StructType.fromJson(json.loads(snap.schema_json))
        if not files:
            # Pruned-to-nothing OR a genuinely empty snapshot (every partition
            # dropped): a typed empty LocalRelation instead of handing
            # parquet() zero paths (which raises).
            if schema is None:
                if not snap.files:
                    raise FileNotFoundError(
                        f"snapshot {snapshot_id} of {self.path} is empty and has no recorded schema"
                    )
                schema = spark.read.parquet(*snap.files).schema
            return local_frame(spark, [], schema)
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(*files)

    def exists(self) -> bool:
        return self.current_snapshot_id() is not None

    def row_count(self) -> int:
        """Current-snapshot row count — manifest arithmetic (footer stats
        summed at commit time), never a scan. 0 when no snapshot exists."""
        sid = self.current_snapshot_id()
        return 0 if sid is None else self.snapshot(sid).row_count

    def partition_row_count(self, value: str) -> int:
        """Rows in the given partition of the current snapshot — pure
        manifest arithmetic over the per-file footer stats (the Iceberg
        .partitions-metadata-view analog). 0 when the table has no snapshot."""
        sid = self.current_snapshot_id()
        if sid is None:
            return 0
        snap = self.snapshot(sid)
        return sum(
            self._file_rows(snap, f) for f in snap.files if snap.partitions.get(f) == value
        )


# ---------------------------------------------------------------------------
# lineage + metrics
# ---------------------------------------------------------------------------

LINEAGE_SCHEMA = (
    "partition_id string, input_snapshot long, output_snapshot long, "
    "row_count long, checksum string, committed_at timestamp"
)
METRICS_SCHEMA = "job_id string, stage string, key string, value double, ts timestamp"


def local_frame(spark: SparkSession, rows, schema=None) -> DataFrame:
    """Local ``rows`` (tuples in ``schema`` order, or a pyarrow Table
    holding ``schema``'s columns; schema a StructType or DDL string) as a
    DataFrame built through Arrow: a LocalRelation, so neither a Python RDD
    nor a Python worker pool is involved — the list path of
    ``createDataFrame`` starts both, and its pandas path silently falls back
    to the list path when Arrow is off or the frame is empty. Timestamps are
    UTC instants (naive datetimes are read as UTC). A pyarrow Table may
    omit ``schema``: its own Arrow schema is then the DataFrame's."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
    from pyspark.sql.types import StructType

    if schema is None:
        schema = from_arrow_schema(rows.schema)
    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    if isinstance(rows, pa.Table):
        table = rows.select(arrow.names).cast(arrow)
    else:
        cols = list(zip(*rows)) if rows else [[] for _ in arrow]
        table = pa.Table.from_arrays(
            [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow
        )
    return spark.createDataFrame(table, struct)


class Lineage:
    """Per-partition processing ledger: the resume key. A partition is
    skipped iff a lineage row exists for its (partition_id)."""

    def __init__(self, path: str):
        self.table = SnapshotTable(path)

    def committed_partitions(self, spark: SparkSession) -> set[str]:
        if not self.table.exists():
            return set()
        return {
            r.partition_id for r in self.table.read(spark).select("partition_id").collect()
        }

    def latest_input_fingerprints(self, spark: SparkSession) -> dict[str, int]:
        """Latest recorded input fingerprint per partition (the late-data
        detection key for ``refresh_days='auto'``). Recency = max
        output_snapshot: snapshot ids are strictly increasing per commit,
        unlike committed_at's second-resolution clock. Rows recording 0
        predate fingerprinting (or a non-manifest input) and mean
        "unknown" — the caller must not treat them as a mismatch."""
        if not self.table.exists():
            return {}
        from pyspark.sql import functions as F

        rows = (
            self.table.read(spark)
            .groupBy("partition_id")
            .agg(
                F.max(F.struct("output_snapshot", "input_snapshot")).alias("s")
            )
            .select("partition_id", F.col("s.input_snapshot").alias("fp"))
            .collect()
        )
        return {r.partition_id: r.fp for r in rows}

    def invalidate(self, spark: SparkSession, partition_ids: set) -> None:
        """Remove partitions from the ledger (the refresh pre-step): one
        atomic replace-commit without those rows. Marking the day "not
        done" BEFORE its data is touched closes the refresh crash window —
        a crash anywhere mid-recompute leaves a day that simply reprocesses
        through the normal idempotent resume path on the next run, instead
        of a day whose series partition was dropped while lineage still
        says done (a plain rerun would then skip it and the derived rebuild
        would silently lose it)."""
        if not partition_ids or not self.table.exists():
            return
        from pyspark.sql import functions as F

        self.table.commit(
            self.table.read(spark).filter(
                ~F.col("partition_id").isin(sorted(partition_ids))
            ),
            mode="replace",
        )

    def record(
        self,
        spark: SparkSession,
        partition_id: str,
        input_snapshot: int,
        output_snapshot: int,
        row_count: int,
        checksum: str,
    ) -> None:
        import datetime as dt

        row = [
            (
                partition_id,
                input_snapshot,
                output_snapshot,
                row_count,
                checksum,
                dt.datetime.now(dt.timezone.utc).replace(tzinfo=None),
            )
        ]
        self.table.commit(local_frame(spark, row, LINEAGE_SCHEMA), mode="append")


class Metrics:
    def __init__(self, path: str):
        self.table = SnapshotTable(path)

    def record(self, spark: SparkSession, job_id: str, stage: str, kv: dict[str, float]) -> None:
        import datetime as dt

        now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        rows = [(job_id, stage, k, float(v), now) for k, v in kv.items()]
        self.table.commit(local_frame(spark, rows, METRICS_SCHEMA), mode="append")
