"""Local sessions start Python workers from kittispark.worker_daemon,
which drops Spark's archives from the workers' path when the same
pyspark and py4j are installed unpacked (see kittispark.session)."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pandas as pd
import pytest

from kittispark.session import session_conf
from kittispark.worker_daemon import trim_spark_archives

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip(path, files: dict[str, str]) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in files.items():
            zf.writestr(name, text)
    return str(path)


def _pkg(site, name: str, version: str | None) -> None:
    os.makedirs(site / name)
    (site / name / "__init__.py").write_text("")
    if version is not None:
        (site / name / "version.py").write_text(f"__version__ = '{version}'\n")


def _layout(tmp_path, pyspark_site="4.1.2", py4j_site="0.10.9.9"):
    """A fake Spark install plus a site dir: (path, cache, archives)."""
    lib = tmp_path / "spark" / "python" / "lib"
    archives = [
        _zip(
            lib / "pyspark.zip",
            {"pyspark/__init__.py": "", "pyspark/version.py": "__version__: str = '4.1.2'\n"},
        ),
        _zip(lib / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": ""}),
        _zip(tmp_path / "spark" / "jars" / "spark-core_2.13-4.1.2.jar", {"META-INF/MANIFEST.MF": ""}),
    ]
    site = tmp_path / "site"
    site.mkdir()
    if pyspark_site is not None:
        _pkg(site, "pyspark", pyspark_site)
    if py4j_site is not None:
        _pkg(site, "py4j", py4j_site)
    path = [str(tmp_path), *archives, str(tmp_path / "app"), str(site)]
    cache = {
        archives[0]: "zi-pyspark",
        os.path.join(archives[0], "pyspark", "sql"): "zi-pyspark-sql",
        archives[1]: "zi-py4j",
        archives[2]: "zi-jar",
        str(site): "ff-site",
        str(tmp_path / "app"): None,
    }
    return path, cache, archives


def test_same_versions_drop_archives_from_path_and_cache(tmp_path):
    path, cache, archives = _layout(tmp_path)
    assert trim_spark_archives(path, cache) == archives
    assert path == [str(tmp_path), str(tmp_path / "app"), str(tmp_path / "site")]
    assert set(cache) == {str(tmp_path / "site"), str(tmp_path / "app")}


@pytest.mark.parametrize(
    "pyspark_site, py4j_site",
    [("4.1.1", "0.10.9.9"), ("4.1.2", "0.10.9.8"), ("4.1.2", None), (None, "0.10.9.9")],
    ids=[
        "pyspark-version-mismatch",
        "py4j-version-mismatch",
        "no-unpacked-py4j",
        "no-unpacked-pyspark",
    ],
)
def test_guard_leaves_path_and_cache_untouched(tmp_path, pyspark_site, py4j_site):
    path, cache, _ = _layout(tmp_path, pyspark_site, py4j_site)
    path0, cache0 = list(path), dict(cache)
    assert trim_spark_archives(path, cache) == []
    assert path == path0 and cache == cache0


def test_unreadable_archive_version_leaves_path_untouched(tmp_path):
    path, cache, archives = _layout(tmp_path)
    _zip(archives[0], {"pyspark/__init__.py": ""})  # no pyspark/version.py
    path0, cache0 = list(path), dict(cache)
    assert trim_spark_archives(path, cache) == []
    assert path == path0 and cache == cache0


def test_archive_ahead_of_unpacked_install_leaves_path_untouched(tmp_path):
    # another archive would still supply pyspark with Spark's removed
    path, cache, _ = _layout(tmp_path)
    shadow = _zip(tmp_path / "other" / "bundle.zip", {"pyspark/__init__.py": ""})
    path.insert(-1, shadow)
    path0, cache0 = list(path), dict(cache)
    assert trim_spark_archives(path, cache) == []
    assert path == path0 and cache == cache0


def test_no_archives_leaves_path_and_cache_untouched(tmp_path):
    site = tmp_path / "site"
    site.mkdir()
    _pkg(site, "pyspark", "4.1.2")
    _pkg(site, "py4j", "0.10.9.9")
    path, cache = [str(tmp_path), str(site)], {str(site): "ff-site"}
    assert trim_spark_archives(path, cache) == []
    assert path == [str(tmp_path), str(site)] and cache == {str(site): "ff-site"}


def test_package_import_does_not_import_pyspark():
    # `python -m kittispark.worker_daemon` imports the package first;
    # pyspark must still be unimported when the trim runs
    out = subprocess.run(
        [sys.executable, "-c", "import kittispark, sys; print('pyspark' in sys.modules)"],
        cwd=REPO, capture_output=True, text=True, check=True,
    )
    assert out.stdout.strip() == "False"


def test_local_conf_sets_worker_daemon(monkeypatch):
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    conf = session_conf(4)
    assert conf["spark.master"] == "local[4]"
    assert conf["spark.python.daemon.module"] == "kittispark.worker_daemon"
    assert conf["spark.executorEnv.PYTHONPATH"] == REPO


def test_spark_master_conf_keeps_spark_defaults(monkeypatch):
    monkeypatch.setenv("SPARK_MASTER", "spark://cluster:7077")
    conf = session_conf(4)
    for key in ("spark.master", "spark.python.daemon.module", "spark.executorEnv.PYTHONPATH"):
        assert key not in conf


SPARK_ZIP = os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib", "pyspark.zip")


@pytest.mark.skipif(not os.path.isfile(SPARK_ZIP), reason="no $SPARK_HOME/python/lib/pyspark.zip")
def test_workers_load_unpacked_pyspark(spark):
    spark_home = os.path.realpath(os.environ["SPARK_HOME"])

    def probe(batches):
        import zipimport

        import pyspark

        for _ in batches:
            pass
        zips = sum(
            isinstance(v, zipimport.zipimporter) and os.path.realpath(k).startswith(spark_home)
            for k, v in sys.path_importer_cache.items()
        )
        yield pd.DataFrame({"file": [pyspark.__file__], "zips": [zips]})

    rows = spark.range(4).repartition(2).mapInPandas(probe, "file string, zips long").collect()
    assert rows
    for row in rows:
        assert ".zip" not in row["file"]
        assert row["zips"] == 0
