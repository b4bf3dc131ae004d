"""Layered job configuration: defaults < TOML file < explicit overrides.

Graft of the reference's settings merge with identical precedence
(/root/reference/src/settings/osm2mimir.rs:68-175: default file → custom
file → CLI args), with the same philosophy: every tuning knob the engine
uses is an explicit, inspectable config value — never a magic constant
buried in an operator (cf. query weights in config/bragi-settings.toml).
"""

from __future__ import annotations

import tomllib
from dataclasses import dataclass, field, fields


@dataclass
class EngineConfig:
    # skew handling (None = auto: min(16, shuffle partitions) resolved at
    # runtime — salts beyond the reducer count only inflate the partial-agg
    # exchange; see series._auto_salts)
    n_salts: int | None = None
    # retention (seconds per tier; None/absent = keep forever)
    retention: dict = field(
        default_factory=lambda: {"1m": 7 * 86400, "1h": 90 * 86400, "1d": 730 * 86400}
    )
    # max points per compressed chunk (None = one chunk per (host, tier)).
    # Bounded chunks are the 100 TB path: bounded decode/update units and
    # time-range pruning by chunk_start.
    chunk_max_points: int | None = None
    # published chunk tables: host-bucket count of the composite
    # '<host bucket>|<month>' partition key (read-path host pruning)
    host_buckets: int = 16
    # serving-table write clustering: number of range partitions (→ files)
    # the host-clustered commit splits each write into. None = let AQE pick
    # (advisory-partition-size right-sizing — the 100 TB default); tests pin
    # a small explicit count so zone-map pruning is observable on tiny data.
    cluster_files: int | None = None

    @classmethod
    def load(cls, toml_path: str | None = None, **overrides) -> "EngineConfig":
        cfg = cls()
        if toml_path:
            with open(toml_path, "rb") as f:
                data = tomllib.load(f).get("engine", {})
            for f_ in fields(cls):
                if f_.name in data:
                    setattr(cfg, f_.name, data[f_.name])
        for k, v in overrides.items():
            if v is None:
                continue
            if not any(f_.name == k for f_ in fields(cls)):
                raise KeyError(f"unknown config key: {k}")
            setattr(cfg, k, v)
        return cfg
