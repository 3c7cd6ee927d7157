"""Settings — layer→bucket mapping, protocol, knobs.

Re-creates the capability of the reference's dynaconf-based settings
(reference ``jibaro/settings/settings.py:12-32`` and
``jibaro/settings/default.toml:1-17``) without the dynaconf dependency:
plain dataclass defaults, overridable from a TOML file or environment
variables (``JIBARO_SPARK_*``).
"""

from __future__ import annotations

import os
import tomllib
from dataclasses import dataclass, field, replace
from typing import Any, Mapping

#: Default layer → bucket mapping (reference ``settings/default.toml:3-8``:
#: raw/staged/curated buckets plus a ``spark_control`` bucket that holds
#: checkpoints and history tables).
DEFAULT_BUCKETS: dict[str, str] = {
    "raw": "raw",
    "staged": "staged",
    "curated": "curated",
    "control": "spark-control",
}

ENV_PREFIX = "JIBARO_SPARK_"


@dataclass(frozen=True)
class Settings:
    """Engine-wide configuration.

    Attributes mirror the knobs the reference exposes:

    * ``protocol``/``buckets`` — physical addressing
      (reference ``jibaro/datalake/path.py:7-25``).
    * ``kafka_bootstrap_servers`` — Kafka source/sink
      (reference ``jibaro/settings/settings.py:22-26``).
    * ``schema_registry_url`` — Confluent registry
      (reference ``jibaro/utils.py:170-175``).
    * ``compact_min_files`` — small-file compaction threshold
      (reference ``jibaro/settings/default.toml:16``; default 10_000).
    * ``compact_target_file_bytes`` — rewrite sizing: the reference
      targets 1 MiB output files (``delta_handler.py:25``); at 100 TB
      scale 1 MiB files are pathological, so our default is 128 MiB.
      It sizes compaction rewrites and the non-Delta CDC merge writes
      (``cdc_merge_table`` commits ``ceil(table bytes / target)``
      files).
    * ``vacuum_every_n_versions`` / ``vacuum_retention_hours`` —
      maintenance cadence (reference ``jibaro/datalake/cdc.py:264-269``).
    * ``max_offsets_per_trigger`` / ``max_files_per_trigger`` —
      micro-batch bounds (reference ``cdc.py:29``,
      ``protobuf_handler.py:157-159``).
    """

    protocol: str = "file"
    base_path: str = "/tmp/jibaro_spark"
    buckets: Mapping[str, str] = field(default_factory=lambda: dict(DEFAULT_BUCKETS))
    kafka_bootstrap_servers: str = "localhost:9092"
    schema_registry_url: str = "http://localhost:8081"
    compact_min_files: int = 10_000
    compact_target_file_bytes: int = 128 * 1024 * 1024
    vacuum_every_n_versions: int = 25
    vacuum_retention_hours: int = 768
    max_offsets_per_trigger: int = 100_000
    max_files_per_trigger: int = 1_000
    #: When true and delta-spark is absent, CDC merges CREATE curated
    #: tables on the jibaro_spark.txlog transactional log (versioned
    #: commits, snapshot isolation) instead of bare-parquet overwrites.
    #: Existing txlog tables are always detected regardless of the flag.
    use_txlog: bool = False

    def bucket_for(self, layer: str) -> str:
        try:
            return self.buckets[layer]
        except KeyError:
            raise ValueError(
                f"unknown layer {layer!r}; known: {sorted(self.buckets)}"
            ) from None

    @classmethod
    def load(
        cls,
        toml_path: str | None = None,
        env: Mapping[str, str] | None = None,
    ) -> "Settings":
        """Build Settings from defaults <- TOML file <- env vars."""
        env = os.environ if env is None else env
        values: dict[str, Any] = {}
        if toml_path and os.path.exists(toml_path):
            with open(toml_path, "rb") as f:
                data = tomllib.load(f)
            for k, v in data.items():
                if k in cls.__dataclass_fields__:
                    values[k] = v
        for field_name, f in cls.__dataclass_fields__.items():
            env_key = ENV_PREFIX + field_name.upper()
            if env_key in env:
                raw = env[env_key]
                target = f.type if isinstance(f.type, type) else type(f.default)
                values[field_name] = int(raw) if target is int else raw
        return cls(**values)

    def with_(self, **kwargs: Any) -> "Settings":
        return replace(self, **kwargs)
