"""Importing the engine leaves the interpreter as it found it: no
``sys.path`` edits and no third-party namespace pulled into
``sys.modules`` behind the caller's back.

Runs in a fresh interpreter, because earlier tests in this process have
already imported the package.  The probe starts a small session first:
some modules declare pandas UDFs at import, which parses their return
types through the active SparkContext."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import importlib, json, pkgutil, sys
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())
before = list(sys.path)
import data_ingestion_system_spark as pkg
names = [m.name for m in
         pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")]
for name in names:
    importlib.import_module(name)
print(json.dumps({"modules": names, "path_before": before,
                  "path_after": list(sys.path),
                  "google": "google" in sys.modules}))
spark.stop()
"""


def test_importing_every_module_leaves_interpreter_state_alone():
    proc = subprocess.run([sys.executable, "-c", _PROBE], cwd=REPO,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr
    seen = json.loads(proc.stdout.strip().splitlines()[-1])
    assert "data_ingestion_system_spark.streaming.lifetime" in seen["modules"]
    assert seen["path_after"] == seen["path_before"]
    assert seen["google"] is False
