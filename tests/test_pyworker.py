"""The Python-worker zip re-read skip (skyhookdb_ceph_spark/_pyworker.py).

Each check runs in a fresh interpreter: the patch is process-wide, and
only a worker-marked process (PYTHON_WORKER_FACTORY_SECRET) installs it.
No Spark needed except for the last test.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import zipfile
from pathlib import Path

import pytest

REPO = str(Path(__file__).resolve().parents[1])
FAST = sys.version_info < (3, 13)

# Imports module ``m`` from the zip, counts zipimport._read_directory
# calls on it across importlib.invalidate_caches() calls, rewrites the
# zip with a different size, and reports what the importer saw.
_PROBE = textwrap.dedent(
    """
    import importlib, json, sys, zipfile, zipimport
    zpath = sys.argv[1]
    import m
    before = m.VALUE
    original = zipimport.zipimporter.invalidate_caches
    from skyhookdb_ceph_spark import _pyworker  # installs via the package
    patched = zipimport.zipimporter.invalidate_caches
    reads = []
    real_read = zipimport._read_directory
    def counting(path):
        reads.append(path)
        return real_read(path)
    zipimport._read_directory = counting
    def count(calls):
        reads.clear()
        for _ in range(calls):
            importlib.invalidate_caches()
        return reads.count(zpath)
    warm = count(1)
    repeat = count(5)
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("m.py", "VALUE = 22  # rewritten, larger archive\\n")
    changed = count(1)
    importlib.reload(m)
    print(json.dumps({
        "installed": _pyworker.installed(),
        "method_kept": patched is original,
        "reinstall": _pyworker.install(),
        "idempotent": zipimport.zipimporter.invalidate_caches is patched,
        "warm": warm, "repeat": repeat, "changed": changed,
        "before": before, "after": m.VALUE,
    }))
    """
)


def _probe(tmp_path: Path, worker: bool) -> dict:
    zpath = tmp_path / "mods.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("m.py", "VALUE = 1\n")
    env = {k: v for k, v in os.environ.items() if k != "PYTHON_WORKER_FACTORY_SECRET"}
    if worker:
        env["PYTHON_WORKER_FACTORY_SECRET"] = "test-secret"
    env["PYTHONPATH"] = os.pathsep.join([str(zpath), REPO])
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, str(zpath)],
        env=env, capture_output=True, text=True, timeout=120, check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def worker_probe(tmp_path_factory):
    return _probe(tmp_path_factory.mktemp("worker"), worker=True)


@pytest.mark.skipif(not FAST, reason="Python >= 3.13 re-reads zips lazily")
def test_worker_skips_rereading_an_unchanged_zip(worker_probe):
    r = worker_probe
    assert r["installed"] and not r["method_kept"]
    assert r["reinstall"] and r["idempotent"]
    assert r["warm"] == 1  # first call after install reads once
    assert r["repeat"] == 0  # unchanged archive: no re-read


@pytest.mark.skipif(not FAST, reason="Python >= 3.13 re-reads zips lazily")
def test_worker_rereads_a_rewritten_zip(worker_probe):
    r = worker_probe
    assert r["changed"] == 1
    assert (r["before"], r["after"]) == (1, 22)


def test_non_worker_process_is_untouched(tmp_path):
    r = _probe(tmp_path, worker=False)
    assert not r["installed"] and r["method_kept"] and not r["reinstall"]
    if FAST:
        assert r["repeat"] == 5  # the original method, one read per call
    assert (r["before"], r["after"]) == (1, 22)


def test_python_313_is_untouched(monkeypatch):
    import zipimport

    from skyhookdb_ceph_spark import _pyworker

    monkeypatch.setenv("PYTHON_WORKER_FACTORY_SECRET", "test-secret")
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    method = zipimport.zipimporter.invalidate_caches
    assert _pyworker.install() is False
    assert zipimport.zipimporter.invalidate_caches is method


def test_spark_python_workers_run_the_fast_path(spark):
    import pandas as pd

    def probe(batches):
        from skyhookdb_ceph_spark import _pyworker

        for _ in batches:
            yield pd.DataFrame({"installed": [_pyworker.installed()]})

    rows = spark.range(4).repartition(2).mapInPandas(
        probe, "installed boolean"
    ).collect()
    assert rows and all(r.installed == FAST for r in rows)
