"""Config loader — same contract as the reference: one JSON document, no
secrets in code (`README.md:37, 136-178`), three config objects. The
object-store config becomes a filesystem/S3A layout config (Spark's
path-based I/O replaces the MinIO SDK); the Open-Meteo config keys are
kept verbatim (`README.md:151-164`).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

DEFAULT_OPEN_METEO: dict[str, Any] = {
    # reference defaults: `README.md:151-164`
    "base_url": "https://api.open-meteo.com/v1/forecast",
    "latitude": -6.2,
    "longitude": 106.8,
    "timezone": "Asia/Jakarta",
    "hourly": ["temperature_2m"],
    "timeout_sec": 30,
    "retries": 3,
    "backoff_sec": 2,
}


@dataclass
class StorageConfig:
    """Path layout of the medallion zones. Raw and staging take any
    Hadoop-compatible scheme (local FS for tests, s3a:// for MinIO/S3 in
    production); the L1/L2 txlog tables need local/POSIX paths."""

    base_dir: str
    raw_dir: str = ""
    staging_dir: str = ""
    l1_path: str = ""
    l2_path: str = ""

    def __post_init__(self) -> None:
        self.raw_dir = self.raw_dir or f"{self.base_dir}/raw"
        self.staging_dir = self.staging_dir or f"{self.base_dir}/staging"
        self.l1_path = self.l1_path or f"{self.base_dir}/warehouse/l1_weather_hourly"
        self.l2_path = self.l2_path or f"{self.base_dir}/warehouse/l2_weather_hourly"


@dataclass
class PipelineConfig:
    storage: StorageConfig
    open_meteo: dict[str, Any] = field(default_factory=lambda: dict(DEFAULT_OPEN_METEO))

    @classmethod
    def from_file(cls, path: str) -> "PipelineConfig":
        with open(path, encoding="utf-8") as f:
            doc = json.load(f)
        storage = StorageConfig(**doc["storage"])
        om = {**DEFAULT_OPEN_METEO, **doc.get("open_meteo", {})}
        return cls(storage=storage, open_meteo=om)
