"""Seeded pages generator for the benchmark.

Same shape as ``mimirsbrunn_spark.synth_spark.generate_pages_spark``:
Zipf-ish host skew (u^4 folding), per-host silent hours, log-normal-ish
html lengths in [54, 1096] bytes, per-host-biased lang, about 1 % exact
duplicates. Unlike it, every value is drawn from a NumPy generator seeded
by ``(seed, day)``, so the same seed gives the same rows, and url ids fold
the seed and the day into their range so days and seeds never collide.

The html payload of a row is the prefix of one seeded byte string, cut to
the row's length. The engine reads only ``length(html)``, and sharing the
payload objects keeps the pandas copy handed to the oracle small. The html
column is written without dictionary encoding, so the scan still decodes
one payload per row.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = 1704067200  # 2024-01-01 UTC, as synth_spark.EPOCH
DAY = 86400
LANGS = ["en", "de", "fr", "es", "zh", "unknown"]
MAX_HTML = 1096  # floor(exp(4 + 3 * u)) for u < 1
DUP_FRAC = 0.01  # share of rows that are exact copies of another row

PAGES_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string()),
        pa.field("warc_ts", pa.timestamp("us")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)


def _payloads(seed: int) -> list[bytes]:
    blob = np.random.default_rng([seed, 7]).integers(0, 256, MAX_HTML, dtype=np.uint8).tobytes()
    return [blob[:n] for n in range(MAX_HTML + 1)]


def day_epoch(day: int) -> int:
    return EPOCH + day * DAY


def day_iso(day: int) -> str:
    return pd.Timestamp(day_epoch(day), unit="s").date().isoformat()


def generate_day(seed: int, day: int, n_docs: int, n_hosts: int, batch: int = 0) -> pd.DataFrame:
    """Pages fetched on ``day`` (days after EPOCH). ``batch`` > 0 draws a
    further, disjoint set of rows for the same day (late data)."""
    rng = np.random.default_rng([seed, day, batch])
    n_base = max(1, int(n_docs * (1 - DUP_FRAC)))

    u = rng.random(n_base)
    host = np.minimum((n_hosts * u**4).astype(np.int64), n_hosts - 1)
    sec = rng.integers(0, DAY, n_base)
    # per-host silent hours: the synth_spark rule, kept inside the day
    silent = ((sec // 3600 + host) % 5) == 0
    sec = np.where(silent, (sec + 3600) % DAY, sec)
    html_len = np.floor(np.exp(4.0 + 3.0 * rng.random(n_base))).astype(np.int64)
    main_lang = host % len(LANGS)
    lang_i = np.where(rng.random(n_base) < 0.7, main_lang, rng.integers(0, len(LANGS), n_base))

    first_id = ((seed * 1000 + day) * 16 + batch) * 10**8
    ids = np.arange(first_id, first_id + n_base)
    n_dup = n_docs - n_base
    if n_dup > 0:  # exact copies of a seeded slice of rows
        pick = rng.choice(n_base, size=n_dup, replace=False)
        host, sec, html_len, lang_i, ids = (
            np.concatenate([a, a[pick]]) for a in (host, sec, html_len, lang_i, ids)
        )
    order = rng.permutation(len(ids))
    host, sec, html_len, lang_i, ids = (a[order] for a in (host, sec, html_len, lang_i, ids))

    payload = _payloads(seed)
    return pd.DataFrame(
        {
            "url": [f"https://host-{h:03d}.example.com/p/{i}" for h, i in zip(host, ids)],
            "warc_ts": (day_epoch(day) + sec).astype("datetime64[s]").astype("datetime64[us]"),
            "html": [payload[n] for n in html_len],
            "text": "",
            "lang": np.array(LANGS, dtype=object)[lang_i],
        }
    )


def write_pages(df: pd.DataFrame, path: str, n_files: int) -> None:
    """Append ``df`` to the parquet directory ``path`` as ``n_files`` files."""
    os.makedirs(path, exist_ok=True)
    start = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    bounds = np.linspace(0, len(df), n_files + 1).astype(int)
    for i in range(n_files):
        part = df.iloc[bounds[i] : bounds[i + 1]]
        table = pa.Table.from_pandas(part, schema=PAGES_SCHEMA, preserve_index=False)
        pq.write_table(
            table,
            os.path.join(path, f"part-{start + i:05d}.parquet"),
            use_dictionary=["lang", "text"],
        )
