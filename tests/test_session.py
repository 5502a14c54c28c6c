"""get_spark's conf assembly, checked without starting a JVM."""

from uk_address_matcher_spark.session import _session_conf

DRIVER_OPTS = "spark.driver.extraJavaOptions"
CACHE = "spark.sql.codegen.cache.maxEntries"


def test_codegen_cache_default_and_override():
    assert _session_conf("local[2]", 8)[CACHE] == "1024"
    assert _session_conf("local[2]", 8, {CACHE: "64"})[CACHE] == "64"


def test_java_opts_merge_env_and_extra_conf(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_JAVA_OPTS", "-XX:+UseG1GC")
    conf = _session_conf("local[2]", 8, {DRIVER_OPTS: "-Dx=1"})
    assert conf[DRIVER_OPTS] == "-XX:+UseG1GC -Dx=1"
    assert conf["spark.executor.extraJavaOptions"] == "-XX:+UseG1GC"
    monkeypatch.delenv("SPARK_GRAFT_JAVA_OPTS")
    assert _session_conf("local[2]", 8, {DRIVER_OPTS: "-Dx=1"})[DRIVER_OPTS] == "-Dx=1"
    assert DRIVER_OPTS not in _session_conf("local[2]", 8)
