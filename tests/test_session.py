"""get_spark makes the package importable in its Python workers."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# a driver outside the checkout that finds the package through sys.path
# only: the workers start elsewhere, with no PYTHONPATH naming it
_DRIVER = r"""
import sys
sys.path.insert(0, sys.argv[1])
from visionsearch_spark import get_spark
from visionsearch_spark.analyzer import tokenize
spark = get_spark("worker-import", cores=1)
try:
    print(spark.sparkContext.parallelize(["Join FILTER"], 1)
          .map(tokenize).collect())
finally:
    spark.stop()
"""


def test_workers_import_the_package(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run([sys.executable, "-c", _DRIVER, REPO],
                          cwd=tmp_path, env=env, capture_output=True,
                          text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().splitlines()[-1] == "[['join', 'filter']]"
