"""Session factory behaviour that only shows in a fresh process."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

SCRIPT = """
import sys
sys.path.insert(0, {root!r})
from mariadb_to_graylog_spark.session import get_spark

def touch_package(batches):
    import mariadb_to_graylog_spark  # noqa: F401
    yield from batches

spark = get_spark(cpus=1, shuffle_partitions=1)
print(len(spark.range(3).mapInPandas(touch_package, "id long").collect()))
"""


def test_workers_import_package_from_any_cwd(tmp_path):
    """A Python worker started outside the checkout (cwd elsewhere, no
    PYTHONPATH) still imports the package: get_spark ships its root on
    the workers' path."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(root=str(ROOT))],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split()[-1] == "3"
