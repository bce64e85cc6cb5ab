"""Session factory: worker import state, daemon scope, resource defaults."""
import os
import sys

import pandas as pd
import pyspark

from apollon_spark import _daemon
from apollon_spark.session import spark_conf

DAEMON = "spark.python.daemon.module"


def test_workers_import_the_installed_pyspark(spark):
    """Local workers run the driver's pyspark with no zipimporter left to
    re-read an archive on every task's importlib.invalidate_caches()."""
    def probe(batches):
        import sys
        import zipimport

        import pyspark as wp
        zips = sorted(k for k, v in sys.path_importer_cache.items()
                      if isinstance(v, zipimport.zipimporter))
        for _ in batches:
            yield pd.DataFrame({"file": [wp.__file__],
                                "version": [wp.__version__],
                                "zips": ["|".join(zips)]})

    rows = (spark.range(4, numPartitions=4)
            .mapInPandas(probe, "file string, version string, zips string")
            .collect())
    assert len(rows) == 4
    for r in rows:
        assert r.file == pyspark.__file__
        assert r.version == spark.version
        assert r.zips == ""


def test_daemon_module_only_on_local_masters():
    for master in ("local", "local[4]", "local[*]"):
        assert spark_conf(master, 8)[DAEMON] == "apollon_spark._daemon"
    local = spark_conf("local[4]", 8)
    for master in ("spark://host:7077", "yarn", "local-cluster[2,1,1024]"):
        conf = spark_conf(master, 8)
        assert DAEMON not in conf
        # the cluster conf is the local one without the daemon module
        assert conf == {k: v for k, v in local.items() if k != DAEMON}


def test_drop_spark_archives_keeps_path_when_pyspark_unresolvable(
        monkeypatch, tmp_path):
    """Guard: with only the archives able to supply pyspark, the path is
    left as Spark set it."""
    zip_path = str(tmp_path / "pyspark.zip")
    monkeypatch.setattr("sys.path", [zip_path, str(tmp_path)])
    assert not _daemon.drop_spark_archives()
    assert sys.path == [zip_path, str(tmp_path)]


def test_drop_spark_archives_removes_zips_and_jar(monkeypatch):
    lib = "/spark/python/lib"
    archives = [f"{lib}/pyspark.zip", f"{lib}/py4j-0.10.9.9-src.zip",
                "/spark/jars/spark-core_2.13-4.1.2.jar"]
    rest = [p for p in sys.path if not _daemon._is_archive(p)]
    monkeypatch.setattr("sys.path", archives + rest)
    cache = dict(sys.path_importer_cache)
    cache.update({a: None for a in archives})
    cache[f"{lib}/pyspark.zip/pyspark"] = None
    monkeypatch.setattr("sys.path_importer_cache", cache)
    assert _daemon.drop_spark_archives()
    assert sys.path == rest
    assert not any(k.startswith("/spark/") for k in sys.path_importer_cache)


def test_default_driver_memory_fits_physical_ram(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    mem = spark_conf("local[4]", 8)["spark.driver.memory"]
    assert mem.endswith("g") and int(mem[:-1]) * 2 ** 30 <= phys
