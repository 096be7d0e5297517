"""Session factory: the confs ``get_spark`` builds into a session, the
environment knobs it reads, and ``tune_session``'s agreement with it on
every runtime conf in ``ENGINE_DEFAULTS`` (the two copies once drifted
on ``nanosAsLong``)."""

from __future__ import annotations

import os

import pytest

from dask_felleskomponenter_spark import session as S
from dask_felleskomponenter_spark.session import ENGINE_DEFAULTS, tune_session

_ENV = (
    "SPARK_MASTER",
    "MASTER",
    "PYSPARK_SUBMIT_ARGS",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_PY_DAEMON",
)


@pytest.mark.parametrize(
    "key,value", ENGINE_DEFAULTS, ids=[k for k, _ in ENGINE_DEFAULTS]
)
def test_get_spark_and_tune_session_agree(spark, key, value):
    # a fresh SQL session with the key back at Spark's built-in default,
    # so the value read afterwards is the one tune_session wrote
    other = spark.newSession()
    other.conf.unset(key)
    tune_session(other)
    assert spark.conf.get(key) == value
    assert other.conf.get(key) == value


def test_built_session_forks_fresh_python_workers(spark):
    assert spark.sparkContext.getConf().get("spark.python.worker.reuse") == "false"


class _Recorder:
    """Stands in for ``SparkSession.builder``: records what get_spark
    asks for instead of starting a JVM."""

    def __init__(self):
        self.app_name = None
        self.master_url = None
        self.conf: dict[str, str] = {}

    def appName(self, name):
        self.app_name = name
        return self

    def master(self, url):
        self.master_url = url
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self


@pytest.fixture()
def build(monkeypatch):
    """get_spark against a recording builder in a clean environment."""
    for name in _ENV:
        monkeypatch.delenv(name, raising=False)
    # get_spark prepends the package root to PYTHONPATH; restore it after
    monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))

    def _build(**kwargs):
        recorder = _Recorder()
        monkeypatch.setattr(
            S, "SparkSession", type("FakeSession", (), {"builder": recorder})
        )
        return S.get_spark(**kwargs)

    return _build


def test_factory_applies_engine_defaults_and_fixed_confs(build, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    got = build(app_name="t")
    assert got.app_name == "t"
    assert got.master_url == "local[3]"
    for key, value in ENGINE_DEFAULTS:
        assert got.conf[key] == value
    assert got.conf["spark.sql.shuffle.partitions"] == "8"  # max(cpus, 8)
    assert got.conf["spark.python.worker.reuse"] == "false"
    assert got.conf["spark.python.daemon.module"] == (
        "dask_felleskomponenter_spark.pydaemon"
    )


def test_extra_conf_overrides_the_defaults(build):
    got = build(
        extra_conf={
            "spark.python.worker.reuse": "true",
            "spark.sql.session.timeZone": "Europe/Oslo",
        }
    )
    assert got.conf["spark.python.worker.reuse"] == "true"
    assert got.conf["spark.sql.session.timeZone"] == "Europe/Oslo"


def test_shuffle_partitions_env_and_argument(build, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "24")
    assert build().conf["spark.sql.shuffle.partitions"] == "24"
    assert build(shuffle_partitions=5).conf["spark.sql.shuffle.partitions"] == "5"
    # a typo'd value falls back instead of failing every shuffle later
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "0")
    assert build().conf["spark.sql.shuffle.partitions"] == "8"


@pytest.mark.parametrize(
    "env,want",
    [
        ({"SPARK_MASTER": "spark://h:7077"}, "spark://h:7077"),
        ({"PYSPARK_SUBMIT_ARGS": "--master yarn pyspark-shell"}, None),
        ({"MASTER": "yarn"}, None),
    ],
    ids=["spark-master-env", "submit-args", "master-env"],
)
def test_external_master_wins_and_skips_the_local_daemon(
    build, monkeypatch, env, want
):
    for name, value in env.items():
        monkeypatch.setenv(name, value)
    got = build()
    assert got.master_url == want
    # the pre-importing daemon is local-mode only
    assert "spark.python.daemon.module" not in got.conf


def test_daemon_module_env_overrides_the_local_default(build, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_PY_DAEMON", "")
    assert "spark.python.daemon.module" not in build().conf
    monkeypatch.setenv("SPARK_GRAFT_PY_DAEMON", " my.daemon ")
    assert build(master="yarn").conf["spark.python.daemon.module"] == "my.daemon"


def test_factory_puts_package_root_on_pythonpath(build, monkeypatch):
    monkeypatch.setenv("PYTHONPATH", "/elsewhere")
    build()
    root = os.path.dirname(os.path.dirname(os.path.abspath(S.__file__)))
    parts = os.environ["PYTHONPATH"].split(os.pathsep)
    assert parts == [root, "/elsewhere"]
    build()  # idempotent: never prepended twice
    assert os.environ["PYTHONPATH"].split(os.pathsep) == parts


@pytest.mark.parametrize(
    "raw,want",
    [
        ("true", "true"),
        ("1", "true"),
        ("yes", "true"),
        (" ON ", "true"),
        ("false", "false"),
        ("0", "false"),
        ("", "false"),
        ("enabled", "false"),
    ],
)
def test_env_flag_normalizes_to_jvm_booleans(monkeypatch, raw, want):
    monkeypatch.setenv("SPARK_GRAFT_TEST_FLAG", raw)
    assert S._env_flag("SPARK_GRAFT_TEST_FLAG") == want


def test_env_flag_default_applies_when_unset(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_TEST_FLAG", raising=False)
    assert S._env_flag("SPARK_GRAFT_TEST_FLAG") == "false"
    assert S._env_flag("SPARK_GRAFT_TEST_FLAG", default="on") == "true"


@pytest.mark.parametrize(
    "raw,want",
    [("8", 8), (" 16 ", 16), ("0", None), ("-3", None), ("4x", None), ("", None)],
)
def test_env_positive_int_rejects_non_positive_values(monkeypatch, raw, want):
    monkeypatch.setenv("SPARK_GRAFT_TEST_INT", raw)
    assert S._env_positive_int("SPARK_GRAFT_TEST_INT") == want


@pytest.mark.parametrize(
    "submit_args,want",
    [
        ("--master yarn pyspark-shell", True),
        ("--conf spark.master=k8s://h pyspark-shell", True),
        ("--driver-memory 2g pyspark-shell", False),
    ],
)
def test_external_master_read_from_submit_args(monkeypatch, submit_args, want):
    monkeypatch.delenv("MASTER", raising=False)
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", submit_args)
    assert S._external_master_configured() is want
