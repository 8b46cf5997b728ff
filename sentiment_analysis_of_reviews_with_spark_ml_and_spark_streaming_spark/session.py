"""SparkSession factory tuned for this engine.

Reference builds bare ``SparkContext('local[*]')`` sessions with zero
tuning (Yelp_Data_PreProcessing.py:41-42, Prediction_Pipe_Line.py:95).
We centralize one builder with the settings that matter at scale:

- AQE (runtime re-plan: partition coalescing, skew-join splitting,
  dynamic broadcast) — the single biggest lever for 100 TB joins/aggs.
- Arrow for any driver hand-off (``toPandas``; the reference collected
  an entire corpus un-Arrow'd, SURVEY.md §4.2 item 1).
- shuffle partitions sized to the local core count instead of the 200
  default; on a real cluster this is overridden per-job or left to AQE
  coalescing from a high initial value.
- UTC session timezone so timestamp semantics are engine-independent.
"""

from __future__ import annotations

import os
from contextlib import contextmanager, suppress

from pyspark.sql import SparkSession


def ensure_worker_imports(spark: SparkSession) -> None:
    """Make this package importable on Python workers regardless of the
    driver's cwd/PYTHONPATH.

    cloudpickle serializes module-level functions (mapInPandas /
    applyInPandas batch fns) BY REFERENCE — workers must re-import the
    module. An external driver that imports `__spark_entry__` via
    sys.path manipulation from some other cwd gives its workers no way
    to do that, so the engine self-registers: zip the package once per
    SparkContext and ``addPyFile`` it (shipped via SparkFiles, prepended
    to worker sys.path at task deserialization). Idempotent, ~ms cost,
    pure-JVM queries never notice.
    """
    sc = spark.sparkContext
    if getattr(sc, "_spark_graft_pyfiles_added", False):
        return
    import atexit
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    # a fresh, uniquely named zip per SparkContext: reusing a zip found
    # at a fixed path (a recycled PID) would ship another checkout's code
    fd, zpath = tempfile.mkstemp(prefix="spark_graft_pkg_", suffix=".zip")
    os.close(fd)
    atexit.register(_remove_quietly, zpath)
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_STORED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(root, fn)
                arc = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                zf.write(full, arc)
    sc.addPyFile(zpath)
    sc._spark_graft_pyfiles_added = True


def _remove_quietly(path: str) -> None:
    with suppress(OSError):
        os.remove(path)


@contextmanager
def _scoped_conf(spark: SparkSession, settings: dict[str, str]):
    """Set ``settings`` on the session conf for the ``with`` body, then
    put every key back: its prior explicit value, or unset if it had
    none (so Spark's own default applies again, not a pinned copy)."""
    saved = {k: spark.conf.get(k, None) for k in settings}
    try:
        for k, v in settings.items():
            spark.conf.set(k, v)
        yield spark
    finally:
        for k, old in saved.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def runtime_bloom_filter(
    spark: SparkSession,
    *,
    creation_side_threshold: str = "100MB",
    application_side_scan_threshold: str = "10GB",
):
    """Scope Catalyst's runtime bloom-filter semi-join reduction.

    For a fact ⋈ selectively-filtered dim where the dim exceeds the
    broadcast threshold (so DPP via broadcast reuse is off the table),
    Spark can build a bloom filter over the dim's join keys
    (``bloom_filter_agg``) and push ``might_contain`` onto the fact
    side BEFORE its shuffle — at 100 TB this is the difference between
    shuffling the full fact table and shuffling only rows that can
    possibly match. Injection is gated by size thresholds
    (``spark.sql.optimizer.runtime.bloomFilter.*``): the application
    side must scan more than ``application_side_scan_threshold``
    (default 10GB — why local runs never see it fire) and the creation
    side must stay under ``creation_side_threshold``.

    Results are EXACT regardless of the filter's false-positive rate:
    a bloom FP only admits a non-matching fact row into the exact join,
    which rejects it — the filter trades shuffle volume, never
    correctness (equivalence is asserted in
    tests/test_plan_hygiene.py::test_runtime_bloom_join_injected_and_exact).

    Conf scoping matters because injection happens at OPTIMIZATION
    time, i.e. when an action runs — so the action must execute inside
    this context, not merely have its DataFrame built here. Prior conf
    values are restored on exit.
    """
    return _scoped_conf(spark, {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": (
            creation_side_threshold
        ),
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": application_side_scan_threshold,
    })


def rocksdb_state(spark: SparkSession, *, unload_on_commit: bool = False):
    """Scope streaming state onto the RocksDB state store provider.

    The default HDFSBackedStateStoreProvider keeps EVERY store's full
    key-value map on the executor heap — at 100 TB-scale stateful
    streaming (dedup signature stores, sessionization, stream-stream
    join buffers) that is the first thing to OOM. RocksDB (bundled
    with Spark since 3.2) spills state to local SSD with a bounded
    block cache, supports changelog checkpointing, and is the only
    provider Databricks/EMR run large stateful jobs on.

    The provider is read PER QUERY at stream start from the session
    conf, so scoping works: queries .start()ed inside this context get
    RocksDB state, concurrent ones outside keep the default. State
    FORMAT is checkpoint-persistent — never flip providers under an
    existing checkpoint dir (Spark refuses); use fresh checkpoints.

    Semantics are provider-independent (asserted in
    tests/test_streaming_uplift.py::test_rocksdb_state_store_equivalence:
    same windowed aggregation, RocksDB vs default, identical rows).
    """
    return _scoped_conf(spark, {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
        # free the native memory of idle stores promptly in tests
        "spark.sql.streaming.stateStore.rocksdb.unloadOnCommit": (
            "true" if unload_on_commit else "false"
        ),
    })


def get_spark(
    app_name: str = "sentiment_reviews_spark_engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
