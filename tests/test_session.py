"""get_spark's conf assembly, checked without starting a JVM."""

from uk_address_matcher_spark import session
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


MEM = "spark.driver.memory"


def _meminfo(tmp_path, monkeypatch, kb):
    path = tmp_path / "meminfo"
    path.write_text(f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n")
    monkeypatch.setattr(session, "_MEMINFO", str(path))
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)


def test_driver_memory_is_half_a_small_host(tmp_path, monkeypatch):
    _meminfo(tmp_path, monkeypatch, 15 * 1024 * 1024)
    assert _session_conf("local[2]", 8)[MEM] == "7680m"


def test_driver_memory_caps_at_8g(tmp_path, monkeypatch):
    _meminfo(tmp_path, monkeypatch, 64 * 1024 * 1024)
    assert _session_conf("local[2]", 8)[MEM] == "8g"


def test_driver_memory_overrides(tmp_path, monkeypatch):
    _meminfo(tmp_path, monkeypatch, 15 * 1024 * 1024)
    assert _session_conf("local[2]", 8, {MEM: "2g"})[MEM] == "2g"
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert _session_conf("local[2]", 8)[MEM] == "3g"


def test_driver_memory_unreadable_meminfo(tmp_path, monkeypatch):
    monkeypatch.setattr(session, "_MEMINFO", str(tmp_path / "missing"))
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert _session_conf("local[2]", 8)[MEM] == "8g"
