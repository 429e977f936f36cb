"""functions/preload_daemon.py — the worker-daemon preload module.

The daemon body (numpy/pyarrow preload + pyspark.daemon.manager) only
runs inside JVM-spawned worker daemons; what is unit-testable is that
importing the module runs none of it, and the r17 sys.path surgery
that keeps ``importlib.invalidate_caches()`` — called once per task
by every Python worker — from re-parsing pyspark.zip's central
directory (~98 ms/task measured single-process).
"""

from __future__ import annotations

import os
import subprocess
import sys
import types

from sensorstream_scalable_sensor_data_pipeline_spark.functions.preload_daemon import (
    _prefer_unzipped_pyspark,
)


def _fake_layout(tmp_path, with_sibling: bool = True):
    """`<root>/python/lib/pyspark.zip` path string plus (optionally)
    the unzipped `<root>/python/pyspark/__init__.py` sibling."""
    python_dir = tmp_path / "python"
    zip_path = python_dir / "lib" / "pyspark.zip"
    if with_sibling:
        pkg = python_dir / "pyspark"
        pkg.mkdir(parents=True)
        (pkg / "__init__.py").write_text("")
    else:
        (python_dir / "lib").mkdir(parents=True)
    return str(zip_path), str(python_dir)


class _SysState:
    def __enter__(self):
        self.path = list(sys.path)
        self.cache = dict(sys.path_importer_cache)
        self.mods = dict(sys.modules)
        return self

    def __exit__(self, *exc):
        sys.path[:] = self.path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(self.cache)
        for k in list(sys.modules):
            if k not in self.mods:
                del sys.modules[k]


def test_zip_path_replaced_and_finders_evicted(tmp_path):
    zip_path, python_dir = _fake_layout(tmp_path)
    with _SysState():
        sys.path.insert(0, zip_path)
        sys.path_importer_cache[zip_path] = object()
        sys.path_importer_cache[os.path.join(zip_path, "pyspark")] = object()
        mod = types.ModuleType("_fake_pyspark_pkg")
        mod.__path__ = [os.path.join(zip_path, "pyspark")]
        sys.modules["_fake_pyspark_pkg"] = mod

        _prefer_unzipped_pyspark()

        assert zip_path not in sys.path
        assert python_dir in sys.path
        assert zip_path not in sys.path_importer_cache
        assert os.path.join(zip_path, "pyspark") not in sys.path_importer_cache
        # package __path__ repointed into the sibling directory, so a
        # lazy submodule import cannot re-create a zip finder
        assert mod.__path__ == [os.path.join(python_dir, "pyspark")]


def test_noop_without_unzipped_sibling(tmp_path):
    zip_path, _ = _fake_layout(tmp_path, with_sibling=False)
    with _SysState():
        sys.path.insert(0, zip_path)
        sys.path_importer_cache[zip_path] = sentinel = object()

        _prefer_unzipped_pyspark()

        assert zip_path in sys.path
        assert sys.path_importer_cache[zip_path] is sentinel


def test_unrelated_entries_untouched(tmp_path):
    zip_path, python_dir = _fake_layout(tmp_path)
    other = str(tmp_path / "someother.zip")
    with _SysState():
        sys.path.insert(0, other)
        sys.path.insert(0, zip_path)
        sys.path_importer_cache[other] = sentinel = object()

        _prefer_unzipped_pyspark()

        assert other in sys.path
        assert sys.path_importer_cache[other] is sentinel
        assert python_dir in sys.path


def test_import_has_no_side_effects():
    """Importing the module in a fresh interpreter loads neither the
    preload deps nor the daemon: that work belongs to ``python -m``."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    probe = (
        "import sys\n"
        "import sensorstream_scalable_sensor_data_pipeline_spark.functions"
        ".preload_daemon\n"
        "print(sorted(m for m in ('pandas', 'pyspark.daemon') if m in sys.modules))"
    )
    env = dict(os.environ, PYTHONPATH=repo)
    out = subprocess.run(
        [sys.executable, "-c", probe], env=env, cwd=repo,
        capture_output=True, text=True, check=True,
    )
    assert out.stdout.strip() == "[]", out.stdout
