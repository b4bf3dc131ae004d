"""Time-series compression codecs — "mimir-ts v1".

- Timestamps: delta-of-delta with the Gorilla §4.1.1 range ladder
  ('0' | '10'+7b | '110'+9b | '1110'+12b | '1111'+64b).
- Values: Gorilla XOR, simplified (each non-zero XOR re-encodes its own
  leading/meaningful window: '0' | '1' + 6b lead + 6b (meaningful−1) +
  meaningful bits). The simplification removes the sequential window-reuse
  dependency of canonical Gorilla so ENCODE IS FULLY VECTORIZED in numpy —
  bit layout pinned identically in oracle/reference.py (the pure-Python
  reference the bitstreams must match byte-for-byte).

Format notes: bitstreams are MSB-first, zero-padded to a byte boundary;
first_ts / first value of each measure ride out-of-band in chunk columns
(n_points, first_ts, first_val, first_bytes).

Encode is one Exchange (hash on host), a sort within partitions by (host,
[month,] bucket_ts) and ``mapInArrow``: each Arrow batch is encoded in one
vectorized numpy pass — chunk ids from (host, month, position //
max_points), delta-of-delta and XOR fields across the whole batch, each
chunk padded to a byte boundary through offsets, one ``np.packbits`` for
the batch and binary columns built straight from those offsets. A group cut
by a batch boundary is carried into the next batch. This mirrors the
reference's chunked ``pack(1000).par_map`` bulk pipeline
(/root/reference/libs/mimir/src/rubber.rs:684-699) whose chunk = our Arrow
batch. No per-row or per-group Python anywhere on the encode path (north
rule); ``encode_dod``/``encode_gorilla`` are the one-chunk case of the same
packer.

Decode is one kernel, ``_decode_table``: an Arrow table of chunk rows in,
the host-series rows of all its chunks out, in three phases over the
concatenated streams of the whole batch (see the decode section): a per-bit
record-length table (numpy), the record-start chain (the only sequential
step — one list-indexed add per point), and vectorized payload extraction
with segmented cumsum / cumulative-XOR reconstruction. No per-chunk or
per-point Python builds rows. Where it runs:
- ``query_api.read_chunks`` (serving) reads its pruned compressed rows
  with pyarrow (``SnapshotTable.read_arrow``, no Spark job) and decodes
  them on the driver: its callers collect the answer
  anyway, and a Python task costs ~250 ms of worker CPU before any decode
  code runs — more than the decode of a pruned read;
- ``decode_chunks`` (whole-table decodes: checks, gates) is a
  ``mapInArrow`` of the same kernel on the executors;
- ``decode_chunks_pdf`` runs it on a pandas frame (validation).

Family context (PAPERS.md): Gorilla-style XOR value compression and its
successors (e.g. Chimp, VLDB 2022) — this engine pins the simplified XOR
variant above for vectorizability; swapping in a Chimp-style leading-zero
table is a kernel-local change behind the same chunk schema.

Scale: hosts hash across partitions; a partition's batches stream through
one Python worker, holding at most one open group. Groups are rolled-up
series (bounded by time range, not doc count), so group size is even across
hosts — the skew answer of gapfill.py applies here too. At 100 TB, chunks
are further bounded by ``max_points_per_chunk`` and the month split.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame

# ---------------------------------------------------------------------------
# vectorized bit packing
# ---------------------------------------------------------------------------
# A stream is a run of records, one per point after a chunk's first. Every
# record is two MSB-first bit fields, (head, tail), each at most 64 bits
# wide; a zero-width field writes nothing. The packer lays out the records
# of many chunks ("segments") in one pass: each segment's bits are
# zero-padded to a byte boundary, so segment s is exactly the bytes
# ``data[offsets[s]:offsets[s+1]]``.

_BIT = np.arange(64)


def _pack_segments(vals, nbits, seg, n_seg):
    """Pack (m, 2) uint64 fields ``vals`` of widths ``nbits`` (int64, 0..64)
    into one bitstream per segment. ``seg`` (m,) is each record's segment id,
    non-decreasing in [0, n_seg). Returns (data uint8, offsets int64[n_seg+1]).
    Fully vectorized; one ``np.packbits`` call for all segments."""
    k = vals.shape[1]
    vals = vals.reshape(-1)  # record-major, field-minor
    nbits = nbits.reshape(-1)
    bounds = np.searchsorted(np.repeat(seg, k), np.arange(n_seg + 1))
    csum = np.concatenate([[0], np.cumsum(nbits)])
    seg_bits = np.diff(csum[bounds])
    pad = -seg_bits % 8
    # a zero field after each segment's last record closes it on a byte
    vals = np.insert(vals, bounds[1:], 0)
    nbits = np.insert(nbits, bounds[1:], pad)
    keep = nbits > 0
    vals, nbits = vals[keep], nbits[keep]
    aligned = vals << (64 - nbits).astype(np.uint64)  # field's first bit → bit 63
    bits = np.unpackbits(aligned.astype(">u8").view(np.uint8).reshape(-1, 8), axis=1)
    data = np.packbits(bits[_BIT < nbits[:, None]])
    offsets = np.concatenate([[0], np.cumsum((seg_bits + pad) // 8)])
    return data, offsets


def _dod_records(ts: np.ndarray, start: np.ndarray) -> np.ndarray:
    """Delta-of-delta of every point that does not open a segment
    (``start``); the first record of a segment is its plain delta."""
    d = np.diff(ts, prepend=ts[:1])
    d[start] = 0
    return np.diff(d, prepend=0)[~start]


def _xor_records(v: np.ndarray, start: np.ndarray) -> np.ndarray:
    """XOR with the previous value of every point that does not open a
    segment (``start``)."""
    u = v.astype(np.uint64)
    return (u ^ np.concatenate([u[:1], u[:-1]]))[~start]


def _dod_fields(dod: np.ndarray):
    """Range ladder (asymmetric upper bounds per Gorilla §4.1.1): prefix and
    biased payload share the head, except the 64-bit case whose payload
    (two's complement) is the tail."""
    zero = dod == 0
    r7 = ~zero & (dod >= -63) & (dod <= 64)
    r9 = ~zero & ~r7 & (dod >= -255) & (dod <= 256)
    r12 = ~zero & ~r7 & ~r9 & (dod >= -2047) & (dod <= 2048)
    small = zero | r7 | r9 | r12
    cases = [zero, r7, r9, r12]
    prefix = np.select(cases, [0, 0b10, 0b110, 0b1110], 0b1111).astype(np.uint64)
    prefix_len = np.select(cases, [1, 2, 3, 4], 4)
    payload_len = np.select(cases, [0, 7, 9, 12], 64)
    payload = (dod + np.select(cases, [0, 63, 255, 2047], 0)).view(np.uint64)
    head = np.where(small, (prefix << payload_len.astype(np.uint64)) | payload, prefix)
    head_len = np.where(small, prefix_len + payload_len, 4)
    tail = np.where(small, np.uint64(0), payload)
    tail_len = np.where(small, 0, 64)
    return np.stack([head, tail], axis=1), np.stack([head_len, tail_len], axis=1)


def _bit_length(x: np.ndarray) -> np.ndarray:
    # log2 on floats is unsafe for 64-bit; binary-search the top set bit
    bl = np.zeros(len(x), dtype=np.int64)
    xx = x.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        ge = xx >= (np.uint64(1) << np.uint64(shift))
        bl[ge] += shift
        xx[ge] >>= np.uint64(shift)
    return bl + (xx > 0)


def _xor_fields(x: np.ndarray):
    """Simplified Gorilla XOR: '0' for a repeat, else head '1' + 6b lead +
    6b (meaningful−1) and the meaningful bits as the tail."""
    nz = x != 0
    lead = np.minimum(64 - _bit_length(x), 63)
    meaningful = 64 - lead
    header = (1 << 12) | (lead << 6) | ((meaningful - 1) & 63)
    head = np.where(nz, header, 0).astype(np.uint64)
    head_len = np.where(nz, 13, 1)
    tail_len = np.where(nz, meaningful, 0)
    return np.stack([head, x], axis=1), np.stack([head_len, tail_len], axis=1)


def _pack_one(fields) -> bytes:
    vals, nbits = fields
    data, _ = _pack_segments(vals, nbits, np.zeros(len(vals), dtype=np.int64), 1)
    return data.tobytes()


def _opens_first(n: int) -> np.ndarray:
    start = np.zeros(n, dtype=bool)
    start[:1] = True
    return start


def encode_dod(ts: np.ndarray) -> bytes:
    """ts: int64 epoch seconds, ascending. Bitstream for points 1..n-1."""
    ts = np.asarray(ts, dtype=np.int64)
    return _pack_one(_dod_fields(_dod_records(ts, _opens_first(len(ts)))))


def encode_gorilla(vals: np.ndarray) -> bytes:
    """vals: int64. XOR bitstream for points 1..n-1 (first carried out-of-band)."""
    v = np.asarray(vals, dtype=np.int64)
    return _pack_one(_xor_fields(_xor_records(v, _opens_first(len(v)))))


# ---------------------------------------------------------------------------
# decode — vectorized three-phase scan over many chunks at once
# ---------------------------------------------------------------------------
# Variable-length prefix codes are sequential ONLY in where each record
# starts. Decode therefore runs in three phases over the concatenated
# streams of a whole batch of chunks (each chunk's stream starts on a byte
# boundary, so chunk c's records start at bit 8 * offsets[c]):
#   1. a fully vectorized per-bit-position table L[p] = "record length if a
#      record started at bit p" (numpy over every stream of the batch);
#   2. the record-start chain p_{i+1} = p_i + L[p_i], restarted at each
#      chunk's first bit — a bare Python loop, one add per point (~50 ns/pt);
#   3. fully vectorized payload extraction (gather 9 bytes per record,
#      big-endian uint64 window shift) and segmented reconstruction — a
#      double cumsum for delta-of-delta timestamps, a cumulative XOR for
#      Gorilla values, each restarted at the chunk's out-of-band first point.
# ``decode_dod``/``decode_gorilla`` are the one-chunk case of the same pass.


def _read_bits_at(padded: np.ndarray, pos: np.ndarray, nbits) -> np.ndarray:
    """Vectorized MSB-first bit-field reads: for each i, the ``nbits[i]``-bit
    big-endian field starting at absolute bit position ``pos[i]``. ``padded``
    must be a uint8 byte array with >= 12 bytes of zero slack past the end
    (a read may start up to 12 bits past the stream's final bit).
    nbits in [0, 64]; returns uint64."""
    byte0 = pos >> 3
    off = (pos & 7).astype(np.uint64)
    b = padded[byte0[:, None] + np.arange(9)]
    hi = b[:, :8].copy().view(">u8").reshape(-1).astype(np.uint64)
    lo = b[:, 8].astype(np.uint64)
    # 64-bit window whose MSB is the field's first bit
    win = hi << off
    has_off = off > 0
    win = win | np.where(has_off, lo >> ((np.uint64(8) - off) % np.uint64(8)), np.uint64(0))
    k = np.asarray(nbits, dtype=np.uint64)
    shift = np.minimum(np.uint64(64) - k, np.uint64(63))  # avoid UB shift-by-64 (k=0)
    return np.where(k > 0, win >> shift, np.uint64(0))


def _record_starts(L: np.ndarray, offsets: np.ndarray, n: np.ndarray) -> np.ndarray:
    """Walk the record chain p += L[p] (the only inherently sequential
    step) through every chunk: chunk c holds ``n[c] - 1`` records from bit
    ``8 * offsets[c]``. ``L`` is uint8 (max record length 77 bits < 256): a
    `bytes` view gives C-speed indexing without a per-position int list."""
    Lb = L.tobytes()
    pos = []
    add = pos.append
    for p, k in zip((offsets[:-1] * 8).tolist(), (n - 1).tolist()):
        for _ in range(k):
            add(p)
            p += Lb[p]
    return np.array(pos, dtype=np.int64)


def _stream_bits(data: np.ndarray, slack: int):
    """(bytes with 12 zero bytes of read slack, bits, bits with ``slack``
    zero bits appended) of a concatenated stream buffer."""
    padded = np.concatenate([data, np.zeros(12, dtype=np.uint8)])
    bits = np.unpackbits(data)
    return padded, bits, np.concatenate([bits, np.zeros(slack, dtype=np.uint8)])


def _first_points(n: np.ndarray):
    """Index of each chunk's first point, and a mask of every other point,
    in the chunk-major point order."""
    first = np.cumsum(n) - n
    rest = np.ones(int(n.sum()), dtype=bool)
    rest[first] = False
    return first, rest


def _seg_cumsum(x: np.ndarray, first: np.ndarray, n: np.ndarray) -> np.ndarray:
    """Cumulative sum of ``x`` restarted at every chunk's first point. int64
    wraps mod 2**64 exactly as a per-chunk cumsum does."""
    c = np.cumsum(x)
    return c - np.repeat(c[first] - x[first], n)


def _decode_dod_chunks(data, offsets, first_ts, n) -> np.ndarray:
    """Timestamps of every point of every chunk (chunk-major): the
    delta-of-delta streams ``data[offsets[c]:offsets[c+1]]``."""
    padded, _, bp = _stream_bits(data, 4)
    b0, b1, b2, b3 = bp[:-4], bp[1:-3], bp[2:-2], bp[3:-1]
    # '0'→1 | '10'+7→9 | '110'+9→12 | '1110'+12→16 | '1111'+64→68
    one = np.uint8(1)
    L = np.where(
        b0 == 0,
        one,
        np.where(b1 == 0, np.uint8(9), np.where(b2 == 0, np.uint8(12), np.where(b3 == 0, np.uint8(16), np.uint8(68)))),
    )
    pos = _record_starts(L, offsets, n)
    Lr = L[pos]
    cases = [Lr == 1, Lr == 9, Lr == 12, Lr == 16, Lr == 68]
    plen = np.select(cases, [0, 7, 9, 12, 64]).astype(np.int64)
    poff = np.select(cases, [0, 2, 3, 4, 4]).astype(np.int64)
    raw = _read_bits_at(padded, pos + poff, plen)
    # two's-complement reinterpret: exact for the 64b case, and identical to
    # a plain cast for the small (<= 12 bit) cases
    signed = raw.view(np.int64)
    dod = np.select(
        cases,
        [np.zeros(len(raw), dtype=np.int64), signed - 63, signed - 255, signed - 2047, signed],
    )
    first, rest = _first_points(n)
    x = np.zeros(len(rest), dtype=np.int64)
    x[rest] = dod  # a chunk's first record is its plain delta (prior delta 0)
    return np.repeat(first_ts, n) + _seg_cumsum(_seg_cumsum(x, first, n), first, n)


def _decode_gorilla_chunks(data, offsets, first_val, n) -> np.ndarray:
    """Values of every point of every chunk (chunk-major): the XOR streams
    ``data[offsets[c]:offsets[c+1]]``."""
    padded, bits, bp = _stream_bits(data, 13)
    # 6-bit meaningful-length field at p+7..p+12, for every position p
    # (uint8 arithmetic throughout: max value 63, no 8-byte promotion)
    nb = len(bits)
    mf = (bp[7:] << 5)[:nb]
    for j, s in ((8, 4), (9, 3), (10, 2), (11, 1)):
        mf += (bp[j:] << s)[:nb]
    mf += bp[12:][:nb]
    # '0'→1 | '1'+6 lead+6 mlen+(mf+1) meaningful→14+mf  (max 77, fits uint8)
    L = np.where(bits == 0, np.uint8(1), np.uint8(14) + mf)
    pos = _record_starts(L, offsets, n)
    ctrl = bits[pos]
    mbits = np.where(ctrl == 1, mf[pos].astype(np.int64) + 1, 0)
    first, rest = _first_points(n)
    y = np.empty(len(rest), dtype=np.uint64)
    y[first] = first_val.view(np.uint64)
    y[rest] = _read_bits_at(padded, pos + 13, mbits)  # 0 where ctrl == 0
    acc = np.bitwise_xor.accumulate(y)
    # undo the XOR of the earlier chunks carried into each chunk's prefix
    return (acc ^ np.repeat(acc[first] ^ y[first], n)).view(np.int64)


def _one_chunk(data: bytes, first: int, n: int):
    return (
        np.frombuffer(data, dtype=np.uint8),
        np.array([0, len(data)], dtype=np.int64),
        np.array([first], dtype=np.int64),
        np.array([n], dtype=np.int64),
    )


def decode_dod(data: bytes, first_ts: int, n: int) -> np.ndarray:
    return _decode_dod_chunks(*_one_chunk(data, first_ts, n))


def decode_gorilla(data: bytes, first_val: int, n: int) -> np.ndarray:
    return _decode_gorilla_chunks(*_one_chunk(data, first_val, n))


# ---------------------------------------------------------------------------
# Spark integration: chunk tables via one sorted mapInArrow pass
# ---------------------------------------------------------------------------

CHUNK_SCHEMA = (
    "host string, tier string, chunk_start timestamp, ts_dod binary, "
    "val_gorilla binary, bytes_gorilla binary, n_points int, first_ts long, "
    "first_val long, first_bytes long, last_ts long"
)


def _group_opens(t, keys) -> np.ndarray:
    """True at every row of ``t`` (a pyarrow Table sorted by ``keys``) whose
    key differs from the previous row's; NULL equals NULL, as in groupBy."""
    import pyarrow.compute as pc

    n = t.num_rows
    opens = _opens_first(n)
    for k in keys:
        a, b = t[k].slice(1), t[k].slice(0, n - 1)
        same = pc.fill_null(pc.equal(a, b), pc.and_(pc.is_null(a), pc.is_null(b)))
        opens[1:] |= ~same.to_numpy()
    return opens


def _encode_table(t, tier: str, max_points: int | None, keys: list[str]):
    """Chunk rows for every group of ``t`` (whole groups only, sorted by
    keys then bucket_ts): one vectorized pass over the whole table."""
    n = t.num_rows
    if n == 0:
        return []
    start = _group_opens(t, keys)
    if max_points:
        group_first = np.flatnonzero(start)
        pos = np.arange(n) - group_first[np.cumsum(start) - 1]
        start = pos % max_points == 0
    first = np.flatnonzero(start)
    # Actual last point (NOT chunk_start + n_points*step): the host series
    # is not gap-filled, so a chunk's span is unbounded by its point count —
    # time-range pruning must use the real extent.
    last = np.append(first[1:], n) - 1
    seg = (np.cumsum(start) - 1)[~start]
    sec = t["bucket_ts"].cast(pa.int64()).to_numpy() // 1_000_000
    dc = t["doc_count"].to_numpy().astype(np.int64)
    bs = t["bytes_sum"].to_numpy().astype(np.int64)

    def stream(fields):  # binary column straight from the packed segments
        data, offsets = _pack_segments(*fields, seg, len(first))
        buffers = [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)]
        return pa.Array.from_buffers(pa.binary(), len(first), buffers)

    chunk_start = pa.array(sec[first] * 1_000_000).cast(pa.timestamp("us", tz="UTC"))
    out = pa.table(
        {
            "host": t["host"].take(first),
            "tier": pa.repeat(tier, len(first)),
            "chunk_start": chunk_start,
            "ts_dod": stream(_dod_fields(_dod_records(sec, start))),
            "val_gorilla": stream(_xor_fields(_xor_records(dc, start))),
            "bytes_gorilla": stream(_xor_fields(_xor_records(bs, start))),
            "n_points": pa.array((last - first + 1).astype(np.int32)),
            "first_ts": pa.array(sec[first]),
            "first_val": pa.array(dc[first]),
            "first_bytes": pa.array(bs[first]),
            "last_ts": pa.array(sec[last]),
        }
    )
    return out.to_batches()


def _encode_partition_fn(tier: str, max_points: int | None, keys: list[str]):
    """mapInArrow body over the Arrow batches of one partition, sorted by
    keys then bucket_ts. A group cut by a batch boundary is carried into the
    next batch, so each group is encoded once, whole."""

    def encode(batches):
        def chunks(parts):
            return _encode_table(pa.Table.from_batches(parts), tier, max_points, keys)

        pending = []  # batches (or tails) holding the last, still-open group
        for b in batches:
            if b.num_rows == 0:
                continue
            head = pending[-1].slice(pending[-1].num_rows - 1) if pending else b.slice(0, 0)
            opens = _group_opens(pa.Table.from_batches([head, b]), keys)[head.num_rows:]
            starts = np.flatnonzero(opens)
            if len(starts) == 0:  # b only continues the open group
                pending.append(b)
                continue
            cut = int(starts[-1])
            yield from chunks(pending + [b.slice(0, cut)])
            pending = [b.slice(cut)]
        if pending:
            yield from chunks(pending)

    return encode


def encode_chunks(
    host_series_df: DataFrame,
    tier: str,
    max_points_per_chunk: int | None = None,
    split_by_month: bool = False,
) -> DataFrame:
    """Host-level tier series → compressed chunks per (host, tier).
    ``max_points_per_chunk`` splits long series into multiple chunks (the
    100 TB path: bounded chunk size → bounded decode/update units and
    time-range pruning by chunk_start); default one chunk per host (matches
    the golden oracle chunks). ``split_by_month`` additionally closes chunks
    at UTC month boundaries (the groupby-key time extension): every point of
    a chunk then falls inside month(chunk_start), which is what makes
    partition-level month pruning of the published chunk table EXACT — a
    month-spanning chunk would otherwise be invisible to it.

    Plan: one Exchange (hash on host), a sort within partitions by (host,
    [month,] bucket_ts), then ``mapInArrow`` encodes each Arrow batch in one
    vectorized pass (``_encode_table``)."""
    from pyspark.sql import functions as F

    df = host_series_df.select("host", "bucket_ts", "doc_count", "bytes_sum")
    keys = ["host"]
    if split_by_month:
        df = df.withColumn("_month", F.date_format("bucket_ts", "yyyy-MM"))
        keys.append("_month")
    return (
        df.repartition("host")
        .sortWithinPartitions(*keys, "bucket_ts")
        .mapInArrow(_encode_partition_fn(tier, max_points_per_chunk, keys), CHUNK_SCHEMA)
    )


def chunk_partition_col(host_buckets: int):
    """Composite partition key for published chunk tables:
    '<host bucket>|<month of chunk_start>'. Host bucket = crc32(host) %
    host_buckets — crc32 is computable identically driver-side
    (zlib.crc32), so the read path can map requested hosts to buckets
    without a Spark job. Requires encode_chunks(split_by_month=True) for
    the month half to be a sound pruning key."""
    from pyspark.sql import functions as F

    # format_string('%04d') zero-pads to a MINIMUM width (printf): buckets
    # beyond 9999 keep all their digits, exactly like the driver-side twin's
    # '04d'. lpad would TRUNCATE a 5-digit bucket to 4 chars — write-side
    # '1234|...' vs probe-side '12345|...' = rows silently unreachable.
    hb = F.format_string(
        "%04d", F.pmod(F.crc32(F.col("host")), F.lit(host_buckets))
    )
    return F.concat_ws("|", hb, F.date_format("chunk_start", "yyyy-MM"))


def chunk_host_bucket(host: str, host_buckets: int) -> str:
    """Driver-side twin of the host-bucket half of chunk_partition_col."""
    import zlib

    return format(zlib.crc32(host.encode("utf-8")) % host_buckets, "04d")


DECODED_SCHEMA = "host string, tier string, bucket_ts timestamp, doc_count long, bytes_sum long"
_DECODED_ARROW = pa.schema(
    [
        ("host", pa.string()),
        ("tier", pa.string()),
        ("bucket_ts", pa.timestamp("us", tz="UTC")),
        ("doc_count", pa.int64()),
        ("bytes_sum", pa.int64()),
    ]
)

# compressed bytes decoded per vectorized pass: the per-bit tables cost
# ~10 B per stream bit, so a slice holds them to tens of MB
_DECODE_SLICE_BYTES = 1 << 20
_STREAMS = ("ts_dod", "val_gorilla", "bytes_gorilla")
# the chunk columns the decode reads
DECODE_INPUT_COLS = ("host", "tier", *_STREAMS, "n_points", "first_ts", "first_val", "first_bytes")


def _stream_buffer(col):
    """(data uint8, byte offsets int64[n+1]) of a binary table column: the
    concatenated streams of its chunks, read straight from Arrow buffers."""
    a = col.combine_chunks().cast(pa.large_binary())
    off = np.frombuffer(a.buffers()[1], dtype=np.int64)[a.offset : a.offset + len(a) + 1]
    buf = a.buffers()[2]
    data = np.frombuffer(buf, dtype=np.uint8) if buf is not None else np.zeros(0, dtype=np.uint8)
    return data[off[0] : off[-1]], off - off[0]


def _decode_slice(t):
    n = t["n_points"].to_numpy().astype(np.int64)

    def first(c):
        return t[c].to_numpy().astype(np.int64)

    ts = _decode_dod_chunks(*_stream_buffer(t["ts_dod"]), first("first_ts"), n)
    rows = pa.array(np.repeat(np.arange(len(n)), n))
    return pa.table(
        {
            "host": t["host"].take(rows),
            "tier": t["tier"].take(rows),
            "bucket_ts": pa.array(ts * 1_000_000, pa.timestamp("us", tz="UTC")),
            "doc_count": _decode_gorilla_chunks(*_stream_buffer(t["val_gorilla"]), first("first_val"), n),
            "bytes_sum": _decode_gorilla_chunks(*_stream_buffer(t["bytes_gorilla"]), first("first_bytes"), n),
        }
    ).cast(_DECODED_ARROW)


def _decode_table(t):
    """Host-level series rows (``DECODED_SCHEMA``, chunk-major) of every
    chunk row of ``t`` (a pyarrow Table in ``CHUNK_SCHEMA``): one vectorized
    pass per slice of at most ``_DECODE_SLICE_BYTES`` compressed bytes.
    The one decode kernel — ``decode_chunks`` runs it on the executors,
    ``query_api.read_chunks`` on the driver, ``decode_chunks_pdf`` locally."""
    import pyarrow.compute as pc

    size = np.zeros(t.num_rows, dtype=np.int64)
    for c in _STREAMS:
        size += pc.binary_length(t[c]).to_numpy(zero_copy_only=False).astype(np.int64)
    cuts = np.flatnonzero(np.diff(np.cumsum(size) // _DECODE_SLICE_BYTES)) + 1
    bounds = [0, *cuts.tolist(), t.num_rows]
    return pa.concat_tables(
        [_decode_slice(t.slice(a, b - a)) for a, b in zip(bounds, bounds[1:])]
    )


def decode_chunks_pdf(chunks: pd.DataFrame) -> pd.DataFrame:
    """Round-trip: chunks (pandas) → host-level series rows (validation),
    through the same kernel as ``decode_chunks``; ``bucket_ts`` is naive UTC."""
    t = pa.Table.from_pandas(chunks, preserve_index=False)
    out = _decode_table(t).drop_columns(["tier"]).to_pandas()
    out["bucket_ts"] = out["bucket_ts"].dt.tz_localize(None)
    return out


def decode_chunks(chunks_df: DataFrame) -> DataFrame:
    """Spark-side chunk decode: compressed chunk rows → host-level series
    rows, one ``mapInArrow`` pass of ``_decode_table`` per Arrow batch on
    the executors. The distributed inverse of encode_chunks, for decodes
    over whole tables; the serving read (``query_api.read_chunks``) decodes
    its pruned rows on the driver with the same kernel."""

    def decode(batches):
        for b in batches:
            yield from _decode_table(pa.Table.from_batches([b])).to_batches()

    return chunks_df.mapInArrow(decode, DECODED_SCHEMA)
