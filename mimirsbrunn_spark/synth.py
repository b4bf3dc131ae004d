"""Deterministic synthetic ``pages`` generator (the BASELINE.json input_hint
shape: ``url string, warc_ts timestamp, html binary, text string, lang
string``).

Seeded + reproducible (numpy Generator streams are stable for a given bit
generator). Design per FIXTURES.md §1:

- hosts drawn from a fixed pool with a Zipfian frequency distribution
  (top hosts ≫ tail) to exercise skew handling;
- per-host fetch times clustered with deliberate gaps (hour-of-day gating)
  to exercise locf/linear gap-fill at every tier;
- exact duplicate (url, warc_ts) rows (dedup path);
- observations exactly on bucket boundaries; empty html; single-observation
  hosts; ``lang`` from a fixed pool with per-host biased distributions.

The ``text`` column is produced by the *oracle* extraction function
(:func:`oracle.reference.extract_text_py`) — the engine must reproduce it
byte-for-byte from ``html`` (the per-row invariant).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

LANGS = ["en", "de", "fr", "es", "zh", "unknown"]
EPOCH_START = np.datetime64("2024-01-01T00:00:00", "s")


def generate_pages(
    n_rows: int = 100_000,
    n_hosts: int = 50,
    span_days: int = 35,
    seed: int = 42,
    dup_frac: float = 0.01,
) -> pd.DataFrame:
    """Return a deterministic pages DataFrame. Columns:
    url str, warc_ts datetime64[us], html bytes, text str, lang str."""
    rng = np.random.default_rng(seed)
    n_base = max(1, int(n_rows * (1 - dup_frac)))

    # Zipfian host popularity over hosts 0..n_hosts-3; the last two hosts are
    # single-observation hosts (interpolation anchors missing).
    n_pop = max(1, n_hosts - 2)
    ranks = np.arange(1, n_pop + 1)
    weights = 1.0 / ranks**1.1
    weights /= weights.sum()
    host_idx = rng.choice(n_pop, size=n_base, p=weights)

    # Fetch time: uniform second within the span, then gated so each host is
    # silent during hours where (hour_of_span + host) % 5 == 0 → regular
    # multi-hour gaps per host at every tier.
    span_s = span_days * 86400
    secs = rng.integers(0, span_s, size=n_base, dtype=np.int64)
    hour_of_span = secs // 3600
    bad = (hour_of_span + host_idx) % 5 == 0
    secs = np.where(bad, (secs + 3600) % span_s, secs)
    # Force ~1% of rows onto exact minute boundaries (and thus some onto
    # hour/day boundaries too).
    on_boundary = rng.random(n_base) < 0.01
    secs = np.where(on_boundary, (secs // 60) * 60, secs)

    # html length: lognormal-ish, clipped, with a sprinkle of empty bodies.
    lengths = np.clip(rng.lognormal(mean=5.0, sigma=1.0, size=n_base), 0, 4096)
    lengths = lengths.astype(np.int64)
    lengths = np.where(rng.random(n_base) < 0.002, 0, lengths)

    # lang: per-host biased categorical (deterministic per-host Dirichlet).
    lang_probs = np.empty((n_hosts, len(LANGS)))
    lrng = np.random.default_rng(seed + 1)
    for h in range(n_hosts):
        lang_probs[h] = lrng.dirichlet(np.full(len(LANGS), 0.7))
    u = rng.random(n_base)
    cum = np.cumsum(lang_probs[host_idx], axis=1)
    lang_i = (u[:, None] > cum).sum(axis=1)
    langs = np.array(LANGS, dtype=object)[np.clip(lang_i, 0, len(LANGS) - 1)]

    # Single-observation hosts (the last two), appended deterministically.
    extra_hosts = np.array([n_hosts - 2, n_hosts - 1])
    host_idx = np.concatenate([host_idx, extra_hosts])
    secs = np.concatenate([secs, np.array([3600 * 24 + 61, span_s - 7200], dtype=np.int64)])
    lengths = np.concatenate([lengths, np.array([100, 200], dtype=np.int64)])
    langs = np.concatenate([langs, np.array(["en", "unknown"], dtype=object)])
    n = len(host_idx)

    # html payload: deterministic pseudo-random bytes per row.
    brng = np.random.default_rng(seed + 2)
    total = int(lengths.sum())
    blob = brng.integers(0, 256, size=total, dtype=np.int64).astype(np.uint8)
    offsets = np.concatenate([[0], np.cumsum(lengths)])
    html = [blob[offsets[i] : offsets[i + 1]].tobytes() for i in range(n)]

    hosts = np.array([f"host-{h:03d}.example.com" for h in range(n_hosts)], dtype=object)
    row_ix = np.arange(n)
    urls = np.array(
        [f"https://{hosts[h]}/p/{i}" for h, i in zip(host_idx, row_ix)], dtype=object
    )

    from oracle.reference import extract_text_py

    df = pd.DataFrame(
        {
            "url": urls,
            "warc_ts": EPOCH_START + secs.astype("timedelta64[s]"),
            "html": html,
            "text": [extract_text_py(b) for b in html],
            "lang": langs,
        }
    )
    df["warc_ts"] = df["warc_ts"].astype("datetime64[us]")

    # Exact duplicate rows (same url AND warc_ts AND payload) — dedup path.
    n_dup = n_rows - n_base
    if n_dup > 0:
        drng = np.random.default_rng(seed + 3)
        dup_ix = drng.integers(0, n_base, size=n_dup)
        df = pd.concat([df, df.iloc[dup_ix]], ignore_index=True)

    # Deterministic shuffle so input order ≠ time order.
    perm = np.random.default_rng(seed + 4).permutation(len(df))
    return df.iloc[perm].reset_index(drop=True)


def write_pages_parquet(path: str, n_rows: int = 100_000, n_files: int | None = None, **kw) -> pd.DataFrame:
    """Generate and write pages; returns the frame.

    ``n_files`` > 1 writes a directory of part files so Spark gets full scan
    parallelism (one 500 MB file yields only ~4 input splits under the
    default 128 MB maxPartitionBytes — a real bench bottleneck). Default:
    one file per ~50k rows, capped at 64, min 1."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    df = generate_pages(n_rows=n_rows, **kw)
    schema = pa.schema(
        [
            pa.field("url", pa.string()),
            pa.field("warc_ts", pa.timestamp("us")),
            pa.field("html", pa.binary()),
            pa.field("text", pa.string()),
            pa.field("lang", pa.string()),
        ]
    )
    if n_files is None:
        n_files = max(1, min(64, len(df) // 50_000))
    if n_files <= 1:
        table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
        pq.write_table(table, path)
        return df
    import os

    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, len(df), n_files + 1).astype(int)
    for i in range(n_files):
        part = df.iloc[bounds[i] : bounds[i + 1]]
        table = pa.Table.from_pandas(part, schema=schema, preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))
    return df
