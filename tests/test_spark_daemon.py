"""The worker daemon's start-up archive hook (upton_spark/spark_daemon.py).

PySpark calls ``importlib.invalidate_caches()`` at the start of every Python
task. The daemon serves the archives on ``sys.path`` at its start with a zip
importer that ignores that call, and leaves every later archive to the stock
importer, which re-reads its directory.
"""

import json
import os
import subprocess
import sys
import textwrap
import zipfile

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = textwrap.dedent(
    """
    import importlib, json, sys, zipimport

    start_zip, late_zip = sys.argv[1], sys.argv[2]
    import upton_spark.spark_daemon  # noqa: F401  (installs the hook)
    import startpkg.sub  # noqa: F401
    sys.path.append(late_zip)
    import latepkg.sub  # noqa: F401

    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    zipimport._read_directory = counting
    importlib.invalidate_caches()
    # CPython >= 3.13 defers the re-read to the next import from the archive
    import startpkg.other, latepkg.other  # noqa: E401,F401
    print(json.dumps({"start": reads.count(start_zip), "late": reads.count(late_zip)}))
    """
)


def _package_zip(path, package):
    with zipfile.ZipFile(path, "w") as z:
        for module in ("__init__", "sub", "other"):
            z.writestr(f"{package}/{module}.py", f"NAME = {module!r}\n")
    return str(path)


def test_startup_archives_skip_invalidation_later_archives_keep_it(tmp_path):
    start_zip = _package_zip(tmp_path / "start.zip", "startpkg")
    late_zip = _package_zip(tmp_path / "late.zip", "latepkg")
    # a fresh interpreter, so this process's import system stays stock
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([start_zip, REPO_ROOT]))
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, start_zip, late_zip],
        env=env, check=True, capture_output=True, text=True, timeout=300,
    ).stdout
    reads = json.loads(out.strip().splitlines()[-1])
    assert reads["start"] == 0, reads
    assert reads["late"] >= 1, reads


def test_udf_workers_use_frozen_importer_and_still_import_added_zips(spark, tmp_path):
    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def pyspark_zip_importers(s: pd.Series) -> pd.Series:
        import os
        import pkgutil
        import sys

        import pyspark

        paths = [p for p in sys.path if os.path.basename(p) == "pyspark.zip"]
        paths.append(os.path.dirname(pyspark.__file__))  # .../pyspark.zip/pyspark
        kinds = ",".join(sorted({type(pkgutil.get_importer(p)).__name__ for p in paths}))
        return pd.Series([kinds] * len(s))

    df = spark.range(4, numPartitions=2)
    kinds = {r[0] for r in df.select(pyspark_zip_importers("id")).collect()}
    assert kinds == {"_FrozenZipImporter"}

    added = tmp_path / "daemon_added_late.zip"
    with zipfile.ZipFile(added, "w") as z:
        z.writestr("daemon_added_late_mod.py", "VALUE = 'imported'\n")
    spark.sparkContext.addPyFile(str(added))

    @F.pandas_udf("string")
    def added_module_value(s: pd.Series) -> pd.Series:
        import daemon_added_late_mod

        return pd.Series([daemon_added_late_mod.VALUE] * len(s))

    values = {r[0] for r in df.select(added_module_value("id")).collect()}
    assert values == {"imported"}
