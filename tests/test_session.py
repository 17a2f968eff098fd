"""Session helpers shared by the operators, and the Python worker daemon
that ``get_spark`` sets."""

from __future__ import annotations

import os
import types
import zipfile

import pyspark

from map_reduce_framework_spark._worker_daemon import worker_path
from map_reduce_framework_spark.session import (
    default_cpus,
    materialize_parallel,
    normalize_runtime_conf,
    shuffle_partitions,
)

KEY = "spark.sql.shuffle.partitions"


def test_shuffle_partitions_reads_session_value(spark):
    old = spark.conf.get(KEY)
    try:
        spark.conf.set(KEY, "7")
        assert shuffle_partitions(spark) == 7
        assert shuffle_partitions(spark.range(1)) == 7
        # an unset key still answers Spark's default, so no fallback is needed
        spark.conf.unset(KEY)
        assert shuffle_partitions(spark) == 200
    finally:
        spark.conf.set(KEY, old)


def test_default_cpus_follows_the_machine(monkeypatch):
    """Unset, the core count (and so get_spark's master and shuffle
    partitions) is the CPUs this process may run on, not a fixed 32."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3


def test_materialize_parallel_keeps_input_order(spark):
    sizes = [3, 1, 4, 1, 5, 9]
    out = materialize_parallel([lambda n=n: spark.range(n) for n in sizes])
    assert [df.count() for df in out] == sizes
    for df in out:
        assert "LogicalRDD" in df._jdf.queryExecution().logical().toString()


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in files.items():
            zf.writestr(name, body)
    return str(path)


def _spark_archives(tmp_path, version):
    """A fake ``pyspark.zip`` of ``version``, a py4j source zip, a jar that
    holds only classes and a jar that holds a Python file."""
    return (
        _write_zip(
            tmp_path / "pyspark.zip",
            {
                "pyspark/__init__.py": "",
                "pyspark/version.py": f'__version__: str = "{version}"\n',
            },
        ),
        _write_zip(tmp_path / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": ""}),
        _write_zip(tmp_path / "core.jar", {"org/apache/A.class": b"\xca\xfe"}),
        _write_zip(tmp_path / "udfs.jar", {"udfs/__init__.py": ""}),
    )


# The directory the installed pyspark (and py4j) import from.
SITE = os.path.dirname(os.path.dirname(pyspark.__file__))


def test_worker_path_drops_spark_archives(tmp_path):
    spark_zip, py4j_zip, class_jar, py_jar = _spark_archives(
        tmp_path, pyspark.__version__
    )
    path = [spark_zip, py4j_zip, class_jar, py_jar, SITE]
    assert worker_path(path) == [py_jar, SITE]


def test_worker_path_unchanged_when_versions_differ(tmp_path):
    path = [*_spark_archives(tmp_path, "0.0.1"), SITE]
    assert worker_path(path) == path


def test_worker_path_unchanged_without_installed_py4j(tmp_path):
    spark_zip, py4j_zip, _, _ = _spark_archives(tmp_path, pyspark.__version__)
    pkg = tmp_path / "installed" / "pyspark"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_text(f'__version__ = "{pyspark.__version__}"\n')
    path = [spark_zip, py4j_zip, str(pkg.parent)]
    assert worker_path(path) == path


def test_workers_import_installed_pyspark(spark):
    """A Python task on the ``get_spark`` session runs under
    ``_worker_daemon``: pyspark comes from its installed directory at the
    driver's version, and no archive is left for the import system to scan."""

    def probe(batches):
        import sys
        import zipimport

        import pandas as pd
        import pyspark as worker_pyspark

        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "file": [worker_pyspark.__file__],
                "version": [worker_pyspark.__version__],
                "zipimporters": [
                    sum(
                        isinstance(f, zipimport.zipimporter)
                        for f in sys.path_importer_cache.values()
                    )
                ],
                "path": [list(sys.path)],
            }
        )

    row = (
        spark.range(1, numPartitions=1)
        .mapInPandas(
            probe,
            "file string, version string, zipimporters int, path array<string>",
        )
        .first()
    )
    assert os.path.isfile(row.file)  # a file on disk, not inside a zip
    assert row.version == pyspark.__version__
    assert row.zipimporters == 0
    assert not [p for p in row.path if os.path.basename(p) == "pyspark.zip"]
    for jar in (p for p in row.path if p.endswith(".jar") and os.path.isfile(p)):
        with zipfile.ZipFile(jar) as zf:
            assert any(n.endswith((".py", ".pyc")) for n in zf.namelist()), jar


def test_normalize_runtime_conf_skips_refused_conf(spark):
    """A conf the session will not change at runtime is skipped, and the
    rest are still tried."""
    tried = []

    class RefusingConf:
        def set(self, key, value):
            tried.append(key)
            spark.conf.set("spark.driver.memory", "1g")  # CANNOT_MODIFY_CONFIG

    session = types.SimpleNamespace(conf=RefusingConf())
    assert normalize_runtime_conf(session) is session
    assert "spark.sql.session.timeZone" in tried and len(tried) > 1
