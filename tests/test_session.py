"""session.get_spark: Python workers start from pdal_spark._workerd,
whose zip importers keep their directory caches across tasks."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pdal_spark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(pdal_spark.__file__)))


def test_worker_zipimporter_invalidate_is_noop(spark):
    def _invalidate_caches_name(it):
        import zipimport

        name = zipimport.zipimporter.invalidate_caches.__qualname__
        for pdf in it:
            yield pdf.assign(name=name)[["name"]]

    assert (spark.sparkContext.getConf().get("spark.python.daemon.module")
            == "pdal_spark._workerd")
    names = {r["name"] for r in spark.range(0, 8, 1, 4)
             .mapInPandas(_invalidate_caches_name, "name string").collect()}
    assert names == {"keep_zip_directory"}


def test_daemon_starts_outside_the_checkout(tmp_path):
    """An application whose working directory is not the checkout, and which
    finds pdal_spark only through sys.path, still starts the daemon: both
    a pandas boundary and a plain RDD map run."""
    script = tmp_path / "drive.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from pdal_spark.session import get_spark

        def names(it):
            import zipimport
            name = zipimport.zipimporter.invalidate_caches.__qualname__
            for pdf in it:
                yield pdf.assign(name=name)[["name"]]

        spark = get_spark("daemon-cwd", master="local[2]",
                          shuffle_partitions=2)
        got = spark.range(0, 4, 1, 2).mapInPandas(names, "name string")
        print("pandas", sorted({{r["name"] for r in got.collect()}}))
        print("rdd", spark.sparkContext.parallelize(range(6), 2)
              .map(lambda v: v * v).sum())
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PDAL_SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "pandas ['keep_zip_directory']" in proc.stdout
    assert "rdd 55" in proc.stdout
