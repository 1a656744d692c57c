"""``__spark_entry__._ensure_shipped`` zips the package once per driver
process into the temp directory; the zip must be gone once that driver's
interpreter exits, or every driver run leaves one behind."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_DRIVER = """
import os, sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
import __spark_entry__ as entry

spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())
entry._ensure_shipped(spark)
print(sorted(os.listdir(os.environ["TMPDIR"])))
spark.stop()
"""


def test_shipped_zip_removed_at_driver_exit(tmp_path):
    env = dict(os.environ, TMPDIR=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, "-c", _DRIVER, REPO],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    shipped = [
        line for line in proc.stdout.splitlines() if "neontology_spark_pkg_" in line
    ]
    assert shipped, proc.stdout  # the driver did write its zip
    left = [f for f in os.listdir(tmp_path) if f.startswith("neontology_spark_pkg_")]
    assert left == []
