"""``EngineConfig.load`` resolution: defaults < YAML file < ``DIS_*``
environment variables (no SparkSession)."""

from dataclasses import fields

import pytest

from data_ingestor_spark.session import EngineConfig


@pytest.fixture()
def clean_env(monkeypatch):
    """No ``DIS_*`` override of any field leaks in from the caller."""
    for f in fields(EngineConfig):
        monkeypatch.delenv("DIS_" + f.name.upper(), raising=False)
    return monkeypatch


def test_engine_config_resolution_order(clean_env, tmp_path):
    cfg = tmp_path / "config.yaml"
    cfg.write_text(
        "app_name: from_yaml\n"
        "shuffle_partitions: 8\n"
        "extra_spark_conf:\n"
        "  spark.a: '1'\n"
    )
    assert EngineConfig.load() == EngineConfig()
    assert EngineConfig.load(str(cfg)) == EngineConfig(
        app_name="from_yaml", shuffle_partitions=8, extra_spark_conf={"spark.a": "1"}
    )
    clean_env.setenv("DIS_SHUFFLE_PARTITIONS", "12")
    clean_env.setenv("DIS_MASTER", "local[2]")
    got = EngineConfig.load(str(cfg))
    assert got == EngineConfig(
        app_name="from_yaml",
        master="local[2]",
        shuffle_partitions=12,
        extra_spark_conf={"spark.a": "1"},
    )
    assert isinstance(got.shuffle_partitions, int)


def test_engine_config_rejects_unknown_yaml_keys(clean_env, tmp_path):
    """A stale key (``jdbc_url`` is no field) or a misspelled one must
    not load as the all-default config."""
    cfg = tmp_path / "config.yaml"
    cfg.write_text("jdbc_url: jdbc:postgresql://db/x\nshuffle_partition: 8\n")
    with pytest.raises(ValueError, match=r"\['jdbc_url', 'shuffle_partition'\]"):
        EngineConfig.load(str(cfg))


def test_engine_config_env_cannot_set_the_conf_mapping(clean_env):
    """An env var holds a string, not the ``extra_spark_conf`` mapping:
    loading it must fail at ``load``, not later in ``get_session``."""
    clean_env.setenv("DIS_EXTRA_SPARK_CONF", "spark.a=1")
    with pytest.raises(ValueError, match="DIS_EXTRA_SPARK_CONF.*YAML"):
        EngineConfig.load()


def test_engine_config_missing_file_raises(clean_env, tmp_path):
    """A mistyped ``--config`` path must fail, not run on the defaults."""
    missing = tmp_path / "confg.yaml"
    with pytest.raises(FileNotFoundError, match="confg.yaml"):
        EngineConfig.load(str(missing))


@pytest.mark.parametrize(
    "text", ["- app_name\n- tests\n", "local[2]\n"], ids=["list", "scalar"]
)
def test_engine_config_rejects_non_mapping_file(clean_env, tmp_path, text):
    cfg = tmp_path / "config.yaml"
    cfg.write_text(text)
    with pytest.raises(ValueError, match="config.yaml.*mapping"):
        EngineConfig.load(str(cfg))


@pytest.mark.parametrize(
    "text,key",
    [
        ('shuffle_partitions: "8"\n', "shuffle_partitions"),
        ("shuffle_partitions: true\n", "shuffle_partitions"),
        ("app_name: 7\n", "app_name"),
        ("extra_spark_conf: spark.a=1\n", "extra_spark_conf"),
    ],
    ids=["quoted_int", "bool_for_int", "int_for_str", "str_for_mapping"],
)
def test_engine_config_rejects_mistyped_values(clean_env, tmp_path, text, key):
    """A value of the wrong type must not load: ``"8"`` would reach
    Spark as a string where an int is declared."""
    cfg = tmp_path / "config.yaml"
    cfg.write_text(text)
    with pytest.raises(ValueError, match=f"{key}.*config.yaml"):
        EngineConfig.load(str(cfg))
