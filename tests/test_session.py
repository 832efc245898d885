"""The session factory (prow_jobs_scraper_spark/session.py) and the
package's Python worker daemon (prow_jobs_scraper_spark/daemon.py)."""

from __future__ import annotations

import importlib
import json
import os
import shutil
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from prow_jobs_scraper_spark import daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_zip_directory_is_reread_only_when_the_archive_changes(
        tmp_path, monkeypatch):
    arc = str(tmp_path / "pkg.zip")
    with zipfile.ZipFile(arc, "w") as z:
        z.writestr("zdm_first.py", "X = 1\n")
    reads = []
    read = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    monkeypatch.setattr(daemon, "_read_at", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        daemon.invalidate_caches)
    monkeypatch.syspath_prepend(arc)
    monkeypatch.delitem(sys.modules, "zdm_first", raising=False)
    monkeypatch.delitem(sys.modules, "zdm_second", raising=False)
    assert importlib.import_module("zdm_first").X == 1

    importlib.invalidate_caches()  # the first call stamps the archive
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert arc not in reads  # unchanged: not re-read

    with zipfile.ZipFile(arc, "a") as z:  # rewritten at the same path
        z.writestr("zdm_second.py", "Y = 2\n")
    importlib.invalidate_caches()
    assert reads.count(arc) == 1
    assert importlib.import_module("zdm_second").Y == 2


def test_python_workers_run_the_package_daemon(spark):
    def probe(batches):
        import zipimport

        import pandas as pd

        fn = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pd.DataFrame(
                {"fn": [f"{fn.__code__.co_filename}:{fn.__qualname__}"]})

    row, = (spark.range(1, numPartitions=1)
            .mapInPandas(probe, "fn string").collect())
    assert row["fn"] == f"{daemon.__file__}:invalidate_caches"


def test_spark_submit_keeps_its_master_and_daemon(tmp_path):
    # spark-submit puts --master in its JVM's conf, not in os.environ:
    # get_spark(cores=1) used to override local[2] with local[1]
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")
    app = tmp_path / "app.py"
    app.write_text(textwrap.dedent("""
        import json
        from prow_jobs_scraper_spark.session import get_spark
        spark = get_spark("submitted", cores=1)
        conf = spark.sparkContext.getConf()
        print(json.dumps({
            "master": spark.sparkContext.master,
            "daemon": conf.get("spark.python.daemon.module", "pyspark.daemon"),
        }))
        spark.stop()
    """))
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [spark_submit, "--master", "local[2]", str(app)],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=300, check=True)
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
    assert json.loads(line) == {"master": "local[2]",
                                "daemon": "pyspark.daemon"}


@pytest.mark.parametrize("env, launched", [
    ({}, False),
    ({"PYSPARK_GATEWAY_PORT": "41234"}, True),
    ({"SPARK_MASTER": "spark://host:7077"}, True),
    ({"PYSPARK_SUBMIT_ARGS": "--master yarn pyspark-shell"}, True),
    ({"PYSPARK_SUBMIT_ARGS": "--driver-memory 2g pyspark-shell"}, False),
])
def test_launcher_master_detection(monkeypatch, env, launched):
    from prow_jobs_scraper_spark import session

    for k in ("PYSPARK_GATEWAY_PORT", "SPARK_MASTER", "PYSPARK_SUBMIT_ARGS"):
        monkeypatch.delenv(k, raising=False)
    for k, v in env.items():
        monkeypatch.setenv(k, v)
    assert session._launcher_sets_master() is launched
