"""SparkSession factory + engine configuration.

Mirrors the reference's ETL extension configuration surface
(reference: flask_data_pipes/data_pipes/__init__.py:76-123 — DATA dirs,
DATA_FORMAT, DATA_COMPRESSION, DATA_ENCODING) re-expressed as a plain
dataclass, and provides a tuned SparkSession builder.

Scale posture: every knob here is chosen for a 1000-executor / 100 TB
deployment first and only then scaled down for local[32] testing —
AQE on (runtime coalesce + skew-join splitting), broadcast threshold
raised to 64 MB so dimension tables (region/nation/customer at any SF)
broadcast instead of shuffling, shuffle partitions sized to cores
locally but meant to be overridden to ~2-3x total cores on a cluster.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import SparkSession

__all__ = ["EngineConfig", "get_spark", "stop_spark", "ensure_package_on_executors"]


@dataclass
class EngineConfig:
    """Engine configuration (reference __init__.py:76-123 analog).

    Directory layout mirrors the reference's staged-file convention:
    DATA/{uploads,raw,transformed}/<model dir>/YYYY/MM/DD/<file>.
    """

    app_name: str = "flask-data-pipes-spark"
    master: Optional[str] = None  # None → respect spark-submit / env
    data_dir: str = "data"
    temp_dir: Optional[str] = None  # default: <data_dir>/.tmp
    upload_dir: Optional[str] = None  # default: <data_dir>/uploads
    extract_dir: Optional[str] = None  # default: <data_dir>/raw
    transform_dir: Optional[str] = None  # default: <data_dir>/transformed
    data_format: str = "json_lines"  # reference default __init__.py:94
    data_compression: Optional[str] = "gzip"  # reference default __init__.py:95
    data_encoding: str = "utf-8"
    shuffle_partitions: Optional[int] = None  # None → max(cores*2, 32) locally
    extra_conf: dict = field(default_factory=dict)
    # named JDBC binds (O10, reference SQLALCHEMY_BINDS → ext/engines.py):
    # {"bind_name": {"url": ..., "driver": ..., "user": ..., ...}}
    jdbc_binds: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.temp_dir = self.temp_dir or os.path.join(self.data_dir, ".tmp")
        self.upload_dir = self.upload_dir or os.path.join(self.data_dir, "uploads")
        self.extract_dir = self.extract_dir or os.path.join(self.data_dir, "raw")
        self.transform_dir = self.transform_dir or os.path.join(
            self.data_dir, "transformed"
        )

    def stage_dir(self, stage: str) -> str:
        return {
            "upload": self.upload_dir,
            "extract": self.extract_dir,
            "transform": self.transform_dir,
        }[stage]


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return int(cpus)
    return os.cpu_count() or 8


def get_spark(config: Optional[EngineConfig] = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    All settings are plan-shape discipline for scale, not local hacks:
    - AQE + skew-join handling: runtime re-planning at 100 TB.
    - autoBroadcastJoinThreshold 64m: dims broadcast, facts never do.
    - Arrow enabled: Pandas-UDF paths (the few we allow) batch via Arrow.
    - maxPartitionBytes 128m: scan parallelism tracks data size.
    """
    cfg = config or EngineConfig()
    cores = _default_parallelism()
    shuffle = cfg.shuffle_partitions or max(2 * cores, 32)
    builder = (
        SparkSession.builder.appName(cfg.app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if cfg.master:
        builder = builder.master(cfg.master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cores}]")
    for k, v in cfg.extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def ensure_package_on_executors(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    Python UDF/mapInPandas closures are pickled BY REFERENCE to their
    defining module; workers must be able to import
    `flask_data_pipes_spark` no matter the driver's cwd. Zipping the
    package once per session and registering it makes every operator
    usable from any driver process (local or cluster) — the same
    mechanism used for real cluster submits (--py-files).
    """
    if getattr(spark, "_fdps_pyfiles_added", False):
        return
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        os.environ.get("TMPDIR", "/tmp"), "flask_data_pipes_spark_pkg.zip"
    )
    tmp_zip = zip_path + ".tmp"
    with zipfile.ZipFile(tmp_zip, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.join(
                    "flask_data_pipes_spark", os.path.relpath(full, pkg_dir)
                )
                zf.write(full, rel)
    os.replace(tmp_zip, zip_path)
    spark.sparkContext.addPyFile(zip_path)
    spark._fdps_pyfiles_added = True
