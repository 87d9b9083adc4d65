"""``spark_sorted_spark/pyworker/zipcache_daemon.py``: the worker daemon
every local ``get_spark`` session runs. It patches
``zipimporter.invalidate_caches`` where the interpreter has it and
starts ``pyspark.daemon`` either way."""

import os
import runpy
import zipimport

import pytest

import spark_sorted_spark

_DAEMON = os.path.join(
    os.path.dirname(spark_sorted_spark.__file__), "pyworker", "zipcache_daemon.py"
)


@pytest.mark.parametrize("has_reread", [True, False])
def test_daemon_starts_with_and_without_invalidate_caches(monkeypatch, has_reread):
    started = []
    monkeypatch.setattr(runpy, "run_module", lambda name, **kw: started.append(name))
    original = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if has_reread:
        if original is None:
            pytest.skip("this interpreter's zipimporter has no invalidate_caches")
        # restored by monkeypatch after the test
        monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    elif original is not None:
        monkeypatch.delattr(zipimport.zipimporter, "invalidate_caches")
    runpy.run_path(_DAEMON)
    assert started == ["pyspark.daemon"]
    patched = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if has_reread:
        assert patched is not original
    else:
        assert patched is None
