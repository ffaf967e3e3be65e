"""The zipimport TOC-memoization patch must never introduce a failure
mode the stock zipimporter lacks: an instance with no usable .archive
degrades to stock behavior (stock raises AttributeError for a missing
attribute), not a TypeError from os.stat(None) inside the patch. The
worker daemon that applies it boots once, without the kernel."""

import json
import os
import subprocess
import sys
import zipimport
from pathlib import Path

import pytest

import html_table_spark


def test_patch_applies_and_is_idempotent():
    assert html_table_spark.patch_zipimport() is True
    assert html_table_spark.patch_zipimport() is True  # second call hits the marker
    assert getattr(zipimport.zipimporter, "_htmltable_fast_invalidate", False)


def test_missing_archive_defers_to_stock_error():
    html_table_spark.patch_zipimport()
    zi = zipimport.zipimporter.__new__(zipimport.zipimporter)
    with pytest.raises(AttributeError):
        # pre-fix the patch raised TypeError (os.stat(None)) before the
        # stock path ran; post-fix the stock AttributeError surfaces
        zi.invalidate_caches()


def test_memoization_skips_redundant_directory_reads(tmp_path):
    import zipfile

    p = tmp_path / "m.zip"
    with zipfile.ZipFile(p, "w") as z:
        z.writestr("mod_fastdaemon_probe.py", "X = 1\n")
    html_table_spark.patch_zipimport()
    zi = zipimport.zipimporter(str(p))
    zi.invalidate_caches()
    sig1 = getattr(zi, "_htmltable_toc_sig", None)
    assert sig1 is not None
    zi.invalidate_caches()  # unchanged file: memoized, sig stays
    assert getattr(zi, "_htmltable_toc_sig", None) == sig1


_DAEMON_PROBE = r"""
import json
import sys

from html_table_spark.session import get_spark

spark = get_spark("daemon-probe")
spark.sparkContext.setLogLevel("ERROR")


def loaded(_):
    return sorted(m for m in sys.modules if m.startswith("html_table_spark"))


print("WORKER " + json.dumps(spark.sparkContext.parallelize([0], 1).map(loaded).collect()[0]))
spark.stop()
"""


def test_daemon_boots_once_without_the_kernel():
    """A session from ``get_spark`` boots its Python workers through
    ``fastdaemon``: runpy runs it once, without the RuntimeWarning it gives
    when the package import has already imported the module, and a worker
    forked from it holds the package (the zipimport patch) and no other
    package module, the kernel included (the daemon imports what its
    docstring says)."""
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2"}
    repo = Path(__file__).resolve().parents[1]
    proc = subprocess.run(
        [sys.executable, "-c", _DAEMON_PROBE], cwd=repo, env=env, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "RuntimeWarning" not in proc.stderr, proc.stderr[-3000:]
    [line] = [line for line in proc.stdout.splitlines() if line.startswith("WORKER ")]
    # the daemon module itself runs as __main__
    assert json.loads(line[len("WORKER "):]) == ["html_table_spark"]
