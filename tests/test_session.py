"""Session helpers: the package zip shipped to Python workers and the
conf scopes that must leave the session as they found it."""

from __future__ import annotations

import os
import tempfile
import zipfile

from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark import (
    session,
)

_PKG_DIR = os.path.dirname(os.path.abspath(session.__file__))
_PKG_NAME = os.path.basename(_PKG_DIR)


def test_worker_zip_is_built_fresh(spark, tmp_path, monkeypatch):
    """A zip left at the old fixed per-PID path (a recycled PID, an
    older checkout) must not be shipped: workers get the current code."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    stale = tmp_path / f"spark_graft_pkg_{os.getpid()}.zip"
    with zipfile.ZipFile(stale, "w") as zf:
        zf.writestr(f"{_PKG_NAME}/session.py", "STALE = True\n")

    sc = spark.sparkContext
    shipped = []
    monkeypatch.setattr(sc, "_spark_graft_pyfiles_added", False, raising=False)
    monkeypatch.setattr(sc, "addPyFile", shipped.append)
    session.ensure_worker_imports(spark)

    assert len(shipped) == 1
    with open(os.path.join(_PKG_DIR, "session.py"), "rb") as fh:
        current = fh.read()
    with zipfile.ZipFile(shipped[0]) as zf:
        assert zf.read(f"{_PKG_NAME}/session.py") == current


def test_conf_scopes_restore_prior_state(spark):
    """Leaving a scope unsets keys that were unset before it (Spark's
    default applies again) and restores keys that were set explicitly."""
    provider = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.unset(provider)
    with session.rocksdb_state(spark):
        assert "RocksDB" in spark.conf.get(provider)
    assert spark.conf.get(provider, None) is None

    creation = "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"
    spark.conf.set(creation, "5MB")
    try:
        with session.runtime_bloom_filter(spark, creation_side_threshold="1MB"):
            assert spark.conf.get(creation) != "5MB"
        assert spark.conf.get(creation) == "5MB"
    finally:
        spark.conf.unset(creation)
