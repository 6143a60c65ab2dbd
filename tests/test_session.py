"""The Python worker daemon ``get_spark`` picks (``librecatastro_spark.
pyworker``): what a worker sees, when the session chooses it, and the
daemon's path filter. ``test_pyfiles_packaging`` covers the deployment
that must keep the stock daemon end to end."""

from __future__ import annotations

import os
import shutil
import site
import sys

from librecatastro_spark import pyworker
from librecatastro_spark.session import _lean_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_worker_runs_lean_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "librecatastro_spark.pyworker"

    def facts(key, pdf):
        import gc

        import pandas as pd
        import pyspark

        return pd.DataFrame({
            "archives": [sum(not os.path.isdir(p or ".") for p in sys.path)],
            "frozen": [gc.get_freeze_count()],
            "pyspark_from_dir": [os.path.isfile(pyspark.__file__)],
        })

    row = (
        spark.range(1).coalesce(1).groupBy("id")
        .applyInPandas(facts, "archives long, frozen long, pyspark_from_dir boolean")
        .collect()[0]
    )
    assert row.archives == 0
    assert row.frozen > 0
    assert row.pyspark_from_dir


def test_lean_daemon_needs_a_visible_package_directory(tmp_path):
    zipped = str(tmp_path / "pkg.zip")
    shutil.make_archive(zipped[:-4], "zip", root_dir=REPO,
                        base_dir="librecatastro_spark/__init__.py")
    # imported from a zip: workers get the package only per task
    assert not _lean_daemon(zipped, [zipped, REPO], {})
    # a directory no local worker has on its path
    assert not _lean_daemon(REPO, [str(tmp_path), *site.getsitepackages()], {})
    # cwd, a PYTHONPATH entry and a site directory each qualify
    assert _lean_daemon(REPO, [REPO], {})
    assert _lean_daemon(REPO, [str(tmp_path), "", os.path.join(REPO, ".")], {})


def test_lean_daemon_keeps_callers_daemon_module():
    conf = {"spark.python.daemon.module": "pyspark.daemon"}
    assert not _lean_daemon(REPO, [REPO], conf)


def _package(root, name: str, version: str) -> str:
    pkg = root / name
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_text(f"__version__ = {version!r}\n")
    return str(root)


def test_directory_path_drops_archives_only_when_both_resolve(tmp_path):
    both = _package(tmp_path / "both", "pyspark", "4.1.2")
    _package(tmp_path / "both", "py4j", "0.10.9.9")
    archive = shutil.make_archive(str(tmp_path / "lib"), "zip", root_dir=both)
    spark_only = _package(tmp_path / "spark_only", "pyspark", "4.1.2")
    stale = _package(tmp_path / "stale", "pyspark", "3.5.0")
    _package(tmp_path / "stale", "py4j", "0.10.9.9")

    # both resolve from a directory at the archive's version: it goes
    assert pyworker.directory_path([archive, both]) == [both]
    # py4j resolves only from the archive: the path is kept
    path = [archive, spark_only]
    assert pyworker.directory_path(path) == path
    # neither resolves from a directory
    path = [archive, str(tmp_path)]
    assert pyworker.directory_path(path) == path
    # the directory holds another pyspark version than the archive
    path = [archive, stale]
    assert pyworker.directory_path(path) == path
