"""Python workers import pyspark from the installed package
(ecmm428_pycart_spark/pyworker.py), and importing the package does not
import pyspark."""

import os
import subprocess
import sys
import zipfile

import pytest

from ecmm428_pycart_spark.pyworker import select_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
VERSION = b'__version__: str = "4.1.2"\n'


def _zip(path, files):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, data in files.items():
            z.writestr(name, data)
    return str(path)


def _write(path, data=b""):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


@pytest.fixture
def layout(tmp_path):
    """A Spark distribution behind a symlinked SPARK_HOME, an installed
    pyspark + py4j, a working directory and a user ``--py-files`` zip."""
    dist = tmp_path / "spark-4.1.2-bin"
    lib = dist / "python" / "lib"
    home = tmp_path / "spark"
    os.symlink(dist, home)
    site = tmp_path / "site"
    _write(site / "pyspark" / "version.py", VERSION)
    _write(site / "py4j" / "__init__.py")
    work = tmp_path / "work"
    work.mkdir()
    archives = [
        _zip(lib / "pyspark.zip", {"pyspark/version.py": VERSION}),
        _zip(lib / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": ""}),
        _zip(dist / "jars" / "spark-core.jar", {"META-INF/MANIFEST.MF": ""}),
    ]
    # PYTHONPATH names the archives through the symlink, as spark-submit does
    on_path = [a.replace(str(dist), str(home)) for a in archives[:2]]
    user = _zip(tmp_path / "user" / "deps.zip", {"dep.py": ""})
    path = [str(work), *on_path, archives[2], user, str(site)]
    cache = [*path, os.path.join(on_path[0], "pyspark", "sql"),
             os.path.join(user, "sub")]
    return dict(home=str(home), site=site, work=str(work), user=user,
                path=path, cache=cache, spark_keys=[*on_path, archives[2],
                                                     cache[-2]])


def test_select_path_drops_spark_archives_keeps_user_zip(layout):
    kept, dropped = select_path(layout["path"], layout["cache"],
                                layout["home"])
    assert kept == [layout["work"], layout["user"], str(layout["site"])]
    # sub-path keys of pyspark.zip go too; the user zip's key stays
    assert sorted(dropped) == sorted(layout["spark_keys"])


@pytest.mark.parametrize("installed", ["pyspark/version.py",
                                       "py4j/__init__.py"])
def test_select_path_needs_installed_packages(layout, installed):
    os.remove(layout["site"] / installed)
    assert select_path(layout["path"], layout["cache"],
                       layout["home"]) == (layout["path"], [])


def test_select_path_needs_matching_version(layout):
    _write(layout["site"] / "pyspark" / "version.py",
           b'__version__: str = "4.1.1"\n')
    assert select_path(layout["path"], layout["cache"],
                       layout["home"]) == (layout["path"], [])


def test_worker_imports_installed_pyspark(spark):
    """A pandas UDF reports where its worker imported pyspark from. With
    the archives left on the path it reports ``…/pyspark.zip/pyspark/``
    and 16 zipimporters."""
    import pandas as pd
    import pyspark
    from pyspark.find_spark_home import _find_spark_home
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def where(s: pd.Series) -> pd.Series:
        import json
        import sys
        import zipimport

        import pyspark
        zips = [k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)]
        info = json.dumps([pyspark.__file__, pyspark.__version__, zips])
        return pd.Series([info] * len(s))

    import json
    file, version, zips = json.loads(
        spark.range(1).select(where("id").alias("w")).first()["w"])
    home = os.path.realpath(_find_spark_home())
    assert ".zip" not in file and ".jar" not in file
    assert version == pyspark.__version__
    assert [k for k in zips if os.path.realpath(k).startswith(home)] == []


def test_daemon_module_needs_importable_package(tmp_path, monkeypatch):
    from ecmm428_pycart_spark.session import _workers_import_package
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(REPO)
    assert _workers_import_package()
    monkeypatch.chdir(tmp_path)
    assert not _workers_import_package()
    monkeypatch.setenv("PYTHONPATH", REPO)
    assert _workers_import_package()


def _run(code):
    return subprocess.run([sys.executable, "-c", code], cwd=REPO,
                          capture_output=True, text=True, timeout=120)


def test_package_import_does_not_import_pyspark():
    r = _run("import sys, ecmm428_pycart_spark\n"
             "assert 'pyspark' not in sys.modules, 'eager'\n"
             "assert ecmm428_pycart_spark.__all__ == "
             "['get_spark', 'Cartogram', 'get_borders']\n"
             "from ecmm428_pycart_spark import get_spark, Cartogram, "
             "get_borders\n"
             "from ecmm428_pycart_spark.session import get_spark as g\n"
             "assert get_spark is g and callable(get_borders)\n"
             "assert Cartogram.__name__ == 'Cartogram'\n"
             "try:\n"
             "    ecmm428_pycart_spark.no_such_name\n"
             "except AttributeError:\n"
             "    pass\n"
             "else:\n"
             "    raise SystemExit('no AttributeError')\n")
    assert r.returncode == 0, r.stderr
