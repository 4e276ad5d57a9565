"""The package on Python workers (clinical_trials_etl_spark/dist.py): the
stat-checked zip importer invalidation every package import installs,
and the package zip's lifetime."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pandas as pd
from pyspark.sql import functions as F

from clinical_trials_etl_spark.dist import (
    _STAT_CHECKED,
    ensure_package_on_executors,
    install_zip_invalidation_check,
)
from clinical_trials_etl_spark.functions.html_extract import fill_text_udf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_zip_invalidation_rereads_only_a_changed_archive(tmp_path,
                                                         monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zipinv_a": "A = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zipinv_a").A == 1
        reads = []
        read = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda p: reads.append(p) or read(p))
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) <= 1

        _write_zip(archive, {"zipinv_a": "A = 1\n", "zipinv_b": "B = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("zipinv_b").B == 2

        os.remove(archive)
        importlib.invalidate_caches()  # a missing archive raises nothing
    finally:
        sys.path_importer_cache.pop(archive, None)
        for name in ("zipinv_a", "zipinv_b"):
            sys.modules.pop(name, None)


def test_zip_invalidation_check_installs_once():
    installed = zipimport.zipimporter.invalidate_caches
    install_zip_invalidation_check()
    assert zipimport.zipimporter.invalidate_caches is installed


def test_workers_running_package_udfs_use_the_stat_checked_invalidation(
        spark):
    ensure_package_on_executors(spark)

    @F.pandas_udf("string")
    def report(text: pd.Series) -> pd.Series:
        checked = getattr(zipimport.zipimporter.invalidate_caches,
                          _STAT_CHECKED, False)
        return pd.Series([f"{os.getpid()} {checked}"] * len(text))

    df = spark.range(0, 64, 1, 8).select(
        F.encode(F.lit("<p>x</p>"), "utf-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(False).alias("deleted"))
    # chained, the two UDFs run in one Python worker per task: unpickling
    # fill_text_udf imports the package there
    out = df.select(report(fill_text_udf("html", "text", "deleted")).alias("r"))
    for _ in range(2):
        reports = {r["r"] for r in out.distinct().collect()}
        assert reports and all(r.endswith(" True") for r in reports), reports


def test_package_zip_is_removed_at_interpreter_exit(tmp_path):
    script = textwrap.dedent("""
        import os
        from clinical_trials_etl_spark.dist import ensure_package_on_executors

        class Context:
            added = []

            def addPyFile(self, path):
                self.added.append(path)

        class Session:
            sparkContext = Context()

        ensure_package_on_executors(Session())
        (path,) = Context.added
        assert os.path.isfile(path), path
        print(path)
    """)
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=REPO)
    out = subprocess.run([sys.executable, "-c", script], env=env, cwd=REPO,
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    path = out.stdout.strip()
    assert path.startswith(str(tmp_path))
    assert not os.path.exists(path)
