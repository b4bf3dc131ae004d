"""Output checks against ``oracle/reference.py``.

Every check returns a list of mismatch labels; each label counts as one
failed operation in the benchmark's error rate. Timestamps are compared as
epoch seconds and measures as int64 (floats for gap-fill values), after a
deterministic sort, so only values can differ.
"""

from __future__ import annotations

import functools
import math

import numpy as np
import pandas as pd

from oracle import reference as ref

TIERS = ["1m", "1h", "1d", "30d"]
TIER_COLS = ["host", "bucket_ts", "lang", "doc_count", "bytes_sum"]
SERIES_COLS = ["host", "bucket_ts", "doc_count", "bytes_sum"]
GAPFILL_COLS = ["host", "bucket_ts", "metric", "value", "is_filled"]
HDR_K = 5  # operators.histograms.HDR_K


def _sec(ts: pd.Series) -> pd.Series:
    return ts.astype("datetime64[us]").astype("int64") // 1_000_000


def _norm(df: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    out = df[cols].copy()
    for c in cols:
        if c in ("bucket_ts",):
            out[c] = _sec(out[c])
        elif c in ("doc_count", "bytes_sum", "ts_sec", "bucket_ts_sec"):
            out[c] = out[c].astype("int64")
        elif c == "value":
            out[c] = out[c].astype("float64")
        elif c == "is_filled":
            out[c] = out[c].astype(bool)
        else:
            out[c] = out[c].astype(object)
    return out.sort_values(cols, kind="mergesort").reset_index(drop=True)


def same(got: pd.DataFrame, want: pd.DataFrame, cols: list[str]) -> bool:
    return _norm(got, cols).equals(_norm(want, cols))


def _hdr_ub(values: np.ndarray, k: int = HDR_K) -> np.ndarray:
    """HDR bucket upper bound of each value (operators.histograms.hdr_bin
    followed by hdr_value_ub, in exact integer arithmetic)."""
    u = np.maximum(values, 0).astype(np.int64) + 1
    e = np.array([int(x).bit_length() - 1 for x in u], dtype=np.int64)
    pe = np.left_shift(np.int64(1), e)
    sub = ((u - pe) << k) // pe
    return pe + -((-(sub + 1) * pe) >> k) - 2


class Oracle:
    """Expected answers for one generated input, computed once with
    ``oracle.reference``."""

    def __init__(self, pages: pd.DataFrame):
        self.pages = pages
        self.tiers = ref.all_tiers(pages)
        self._host_series: dict[str, pd.DataFrame] = {}
        self._gapfill: dict[str, pd.DataFrame] = {}

    @staticmethod
    def _docs(pages: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {"host": ref.host_of(pages["url"]), "sec": _sec(pages["warc_ts"]),
             "size": pages["html"].map(len).astype("int64")}
        )

    @functools.cached_property
    def dedup(self) -> pd.DataFrame:
        """(host, sec, size) per page after exact dedup."""
        return self._docs(ref.dedup_pages(self.pages))

    @functools.cached_property
    def raw(self) -> pd.DataFrame:
        """(host, sec, size) per input row, duplicates included (the
        histogram tables count every fetch)."""
        return self._docs(self.pages)

    def host_series(self, tier: str) -> pd.DataFrame:
        if tier not in self._host_series:
            self._host_series[tier] = ref.host_series(self.tiers[tier])
        return self._host_series[tier]

    def gapfill(self, tier: str) -> pd.DataFrame:
        if tier not in self._gapfill:
            g = ref.gapfill(self.tiers[tier], tier)
            self._gapfill[tier] = g.rename(columns={"value_locf": "value"})
        return self._gapfill[tier]

    # -- expected query answers (the serve_mix read functions) -------------

    @staticmethod
    def _window(df, t0, t1, hosts, col="bucket_ts"):
        sec = _sec(df[col]) if col == "bucket_ts" else df[col]
        m = (sec >= t0) & (sec < t1)
        if hosts:
            m &= df["host"].isin(hosts)
        return df[m]

    def read_rollup(self, tier, t0, t1, hosts):
        return self._window(self.tiers[tier], t0, t1, hosts), TIER_COLS

    def read_chunks(self, tier, t0, t1, hosts):
        return self._window(self.host_series(tier), t0, t1, hosts), SERIES_COLS

    def read_gapfill(self, tier, t0, t1, hosts):
        return self._window(self.gapfill(tier), t0, t1, hosts), GAPFILL_COLS

    def read_range_total(self, t0, t1, hosts):
        d = self._window(self.dedup, t0, t1, hosts, col="sec")
        out = d.groupby("host", as_index=False).agg(
            doc_count=("size", "size"), bytes_sum=("size", "sum")
        )
        return out, ["host", "doc_count", "bytes_sum"]

    def read_plot(self, tier, t0, t1, hosts, px_sec):
        hs = self._window(self.host_series(tier), t0, t1, hosts)
        d = pd.DataFrame(
            {"host": hs["host"], "ts_sec": _sec(hs["bucket_ts"]),
             "value": hs["doc_count"].astype("int64")}
        )
        d["bucket_ts_sec"] = d["ts_sec"] - d["ts_sec"] % px_sec
        g = d.groupby(["host", "bucket_ts_sec"])
        keep = (
            (d["ts_sec"] == g["ts_sec"].transform("min"))
            | (d["ts_sec"] == g["ts_sec"].transform("max"))
            | (d["value"] == g["value"].transform("min"))
            | (d["value"] == g["value"].transform("max"))
        )
        return d[keep], ["host", "ts_sec", "value", "bucket_ts_sec"]

    def read_quantile(self, q, tier, t0, t1, hosts):
        step = ref.TIER_SECONDS[tier]
        r = self.raw.assign(b=self.raw["sec"] // step * step)
        r = self._window(r, t0, t1, hosts, col="b")
        rows = []
        for host, g in r.groupby("host", sort=True):
            v = np.sort(g["size"].to_numpy())
            need = math.ceil(q * len(v))
            rows.append((host, int(_hdr_ub(v[need - 1 : need])[0])))
        return pd.DataFrame(rows, columns=["host", "quantile_ub"]), ["host", "quantile_ub"]


def check_published(spark, out_dir: str, oracle: Oracle) -> tuple[list[str], int]:
    """Published tiers equal ``oracle.reference.all_tiers``; chunks decode
    (``codecs.decode_chunks``) back to the oracle host series; stored
    gap-fill equals ``oracle.reference.gapfill``. Returns (mismatching
    tables, tables checked)."""
    from mimirsbrunn_spark import codecs
    from mimirsbrunn_spark.tables import SnapshotTable

    bad = []
    for tier in TIERS:
        name = "series_1m" if tier == "1m" else f"rollup_{tier}"
        got = SnapshotTable(f"{out_dir}/{name}").read(spark).select(*TIER_COLS).toPandas()
        if not same(got, oracle.tiers[tier], TIER_COLS):
            bad.append(name)
    for tier in TIERS[1:]:
        chunks = SnapshotTable(f"{out_dir}/chunks_{tier}").read(spark)
        got = codecs.decode_chunks(chunks).select(*SERIES_COLS).toPandas()
        if not same(got, oracle.host_series(tier), SERIES_COLS):
            bad.append(f"chunks_{tier}")
        got = (
            SnapshotTable(f"{out_dir}/gapfill_{tier}").read(spark)
            .selectExpr("host", "bucket_ts", "metric", "value_locf AS value", "is_filled")
            .toPandas()
        )
        if not same(got, oracle.gapfill(tier), GAPFILL_COLS):
            bad.append(f"gapfill_{tier}")
    return bad, len(TIERS) + 2 * len(TIERS[1:])
