"""SparkSession + config factory.

Reference parity: the reference resolves config from a YAML file with
environment-variable overrides (``config/config.go:38-49`` — viper
``AutomaticEnv`` with ``.`` → ``_`` key mapping) into DB-connection and
runtime (worker count, archive dir) settings. Here the same resolution
order (defaults < YAML < env) feeds a plain dataclass of SparkSession
settings: Spark's task slots replace the hand-rolled worker pool
(``mapreduce/mapreduce.go:30-105``), and the archive dir and database
target are per-job arguments (``cli --archive-dir``;
``sinks.publish_jdbc_atomic`` for a JDBC target).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field, fields

from pyspark.sql import SparkSession

_ENV_PREFIX = "DIS_"
#: the field types an env var can set, with their conversion
_ENV_TYPES = {"str": str, "int": int}


@dataclass
class EngineConfig:
    """SparkSession configuration: the settings :func:`get_session`
    reads (the reference's ``config.yaml:2-12`` keys minus the ones that
    are per-job arguments here, see the module docstring)."""

    app_name: str = "data_ingestor_spark"
    master: str = "local[*]"
    shuffle_partitions: int = 32
    extra_spark_conf: dict[str, str] = field(default_factory=dict)

    @classmethod
    def load(cls, yaml_path: str | None = None) -> "EngineConfig":
        """Defaults < YAML file < ``DIS_*`` env vars (viper-style override).

        A named YAML file that does not exist raises ``FileNotFoundError``
        (a mistyped path would otherwise run silently on the defaults). A
        file whose top level is not a mapping, a key that names no field,
        or a value whose type differs from its field's default raises
        ``ValueError`` naming the file. Env vars set the scalar fields
        only, ``int`` fields converted; a ``DIS_*`` var naming the
        ``extra_spark_conf`` mapping raises ``ValueError``: set it in the
        YAML file."""
        values: dict = {}
        known = {f_.name: f_.type for f_ in fields(cls)}
        if yaml_path:
            import yaml

            with open(yaml_path) as f:
                raw = yaml.safe_load(f) or {}
            if not isinstance(raw, dict):
                raise ValueError(
                    f"config file {yaml_path!r} must hold a mapping of keys, "
                    f"not a {type(raw).__name__}"
                )
            values.update({str(k).lower(): v for k, v in raw.items()})
            unknown = sorted(set(values) - set(known))
            if unknown:
                raise ValueError(
                    f"unknown config key(s) {unknown} in {yaml_path!r}; known keys: {sorted(known)}"
                )
            defaults = cls()
            for name, v in values.items():
                want = type(getattr(defaults, name))
                if type(v) is not want:
                    raise ValueError(
                        f"config key {name!r} in {yaml_path!r} must be a "
                        f"{want.__name__}, not {type(v).__name__} {v!r}"
                    )
        for name, type_ in known.items():
            env_key = _ENV_PREFIX + name.upper()
            if env_key not in os.environ:
                continue
            if type_ not in _ENV_TYPES:
                raise ValueError(
                    f"{env_key} cannot set {name!r} ({type_}); set it in the YAML config file"
                )
            values[name] = _ENV_TYPES[type_](os.environ[env_key])
        return cls(**values)


def get_session(config: EngineConfig | None = None) -> SparkSession:
    """Build (or get) the engine's SparkSession.

    Scale posture: AQE on (runtime re-planning, skew-join splitting,
    partition coalescing), shuffle partitions sized explicitly, Arrow
    enabled for the Pandas-UDF paths, UTC session timezone so timestamp
    semantics are engine-independent.
    """
    cfg = config or EngineConfig.load()
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = f"local[{cpus}]" if cpus else cfg.master
    builder = (
        SparkSession.builder.master(master)
        .appName(cfg.app_name)
        .config("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("DIS_DRIVER_MEMORY", "8g"))
    )
    for k, v in cfg.extra_spark_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
