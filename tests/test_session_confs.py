"""long_session_jvm_confs merges into the user's spark-defaults.conf.

A builder conf replaces the ``spark-defaults.conf`` value of the same key,
so the code-cache flag must be appended to the user's
``spark.driver.extraJavaOptions`` instead of overwriting it.
"""

from __future__ import annotations

import pytest

from data_profiler_for_aws_glue_data_catalog_spark.plans.session import (
    CODE_CACHE_FLAG,
    long_session_jvm_confs,
)

KEY = "spark.driver.extraJavaOptions"


def _conf_dir(path, text):
    path.mkdir(parents=True, exist_ok=True)
    (path / "spark-defaults.conf").write_text(text)
    return str(path)


@pytest.fixture
def no_spark_env(monkeypatch):
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.delenv("SPARK_HOME", raising=False)
    return monkeypatch


@pytest.mark.parametrize("sep", [" ", "  ", "=", " = ", "\t"])
def test_appends_to_existing_java_options(tmp_path, no_spark_env, sep):
    d = _conf_dir(
        tmp_path,
        "# user defaults\n"
        "spark.master local[2]\n"
        f"{KEY}{sep}-Dfoo=bar -XX:+UseG1GC\n",
    )
    no_spark_env.setenv("SPARK_CONF_DIR", d)
    assert long_session_jvm_confs() == {KEY: f"-Dfoo=bar -XX:+UseG1GC {CODE_CACHE_FLAG}"}


def test_user_code_cache_size_left_untouched(tmp_path, no_spark_env):
    d = _conf_dir(tmp_path, f"{KEY} -XX:ReservedCodeCacheSize=1g -Dx=1\n")
    no_spark_env.setenv("SPARK_CONF_DIR", d)
    assert long_session_jvm_confs() == {KEY: "-XX:ReservedCodeCacheSize=1g -Dx=1"}


def test_falls_back_to_spark_home_conf(tmp_path, no_spark_env):
    _conf_dir(tmp_path / "conf", f"{KEY} -Dhome=1\n")
    no_spark_env.setenv("SPARK_HOME", str(tmp_path))
    assert long_session_jvm_confs() == {KEY: f"-Dhome=1 {CODE_CACHE_FLAG}"}


def test_conf_dir_wins_over_spark_home(tmp_path, no_spark_env):
    _conf_dir(tmp_path / "home" / "conf", f"{KEY} -Dhome=1\n")
    no_spark_env.setenv("SPARK_HOME", str(tmp_path / "home"))
    no_spark_env.setenv("SPARK_CONF_DIR", _conf_dir(tmp_path / "cd", f"{KEY} -Dcd=1\n"))
    assert long_session_jvm_confs() == {KEY: f"-Dcd=1 {CODE_CACHE_FLAG}"}


def test_no_defaults_file_or_key(tmp_path, no_spark_env):
    assert long_session_jvm_confs() == {KEY: CODE_CACHE_FLAG}
    no_spark_env.setenv("SPARK_CONF_DIR", str(tmp_path))  # no file there
    assert long_session_jvm_confs() == {KEY: CODE_CACHE_FLAG}
    _conf_dir(tmp_path, f"# {KEY} -Dcommented=1\n! {KEY} -Dbang=1\n")
    assert long_session_jvm_confs() == {KEY: CODE_CACHE_FLAG}
