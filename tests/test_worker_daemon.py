"""The engine's Python worker daemon (search_engine_spark/worker_daemon.py):
workers import pyspark from the interpreter instead of Spark's archives,
and only when that is the same pyspark."""

import zipfile

import pandas as pd

from search_engine_spark.worker_daemon import filter_path


def test_workers_hold_no_zipimporter(spark):
    import pyspark

    def probe(batches):
        import sys
        import zipimport

        import pyspark as worker_pyspark

        for _ in batches:
            yield pd.DataFrame({
                "zipimporters": [sum(
                    isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())],
                "version": [worker_pyspark.__version__],
            })

    rows = spark.range(1, numPartitions=1).mapInPandas(
        probe, "zipimporters long, version string").collect()
    assert rows == [(0, pyspark.__version__)]


def _fake_pyspark(root, version, py4j=True):
    """An unpacked pyspark (and py4j) of ``version`` under ``root``."""
    (root / "pyspark").mkdir(parents=True)
    (root / "pyspark" / "__init__.py").write_text("")
    (root / "pyspark" / "version.py").write_text(
        f"__version__: str = {version!r}\n")
    if py4j:
        (root / "py4j").mkdir()
        (root / "py4j" / "__init__.py").write_text("")
    return str(root)


def _archive(tmp_path, version):
    path = tmp_path / "lib" / "pyspark.zip"
    path.parent.mkdir()
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f"__version__ = {version!r}\n")
    jar = tmp_path / "lib" / "spark-core_2.13-9.9.9.jar"
    jar.write_bytes(b"")
    return [str(path), str(tmp_path / "lib" / "py4j-0.10-src.zip"), str(jar)]


def test_filter_drops_archives_for_the_same_unpacked_pyspark(tmp_path):
    archives = _archive(tmp_path, "9.9.9")
    site = _fake_pyspark(tmp_path / "site", "9.9.9")
    assert filter_path([*archives, site]) == [site]


def test_filter_keeps_archives_without_unpacked_pyspark(tmp_path):
    archives = _archive(tmp_path, "9.9.9")
    empty = str(tmp_path / "empty")
    path = [*archives, empty]
    assert filter_path(path) == path
    # pyspark alone is not enough: py4j must be importable as well
    site = _fake_pyspark(tmp_path / "site", "9.9.9", py4j=False)
    path = [*archives, site]
    assert filter_path(path) == path


def test_filter_keeps_archives_for_another_pyspark_version(tmp_path):
    archives = _archive(tmp_path, "9.9.9")
    site = _fake_pyspark(tmp_path / "site", "9.9.8")
    path = [*archives, site]
    assert filter_path(path) == path
