"""SparkSession factory with the engine's scale-oriented defaults.

Local mode here; on a real cluster the same conf rides along with
``spark-submit --py-files`` (north rule). AQE is on for runtime skew-join
splitting and shuffle-partition coalescing — the runtime half of the skew
strategy in operators/candidates.py.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def python_stage_width(spark: SparkSession) -> int:
    """Partition count for a Python (mapInPandas) stage: one task per core.

    Every Python task pays a fixed start-up cost in its worker, so extra
    waves of small tasks only add that cost. No Python stage buffers its
    partition (the candidate kernel streams sorted batches), so the width
    does not grow with the row count.
    """
    return spark.sparkContext.defaultParallelism


def skip_unchanged_zip_rereads() -> None:
    """Inside a Spark Python worker, stop ``importlib.invalidate_caches()``
    from re-reading zip archives that did not change.

    pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
    every task, and on CPython 3.11 each cached ``zipimporter`` then parses
    its archive's whole central directory again. A warm worker holds
    importers on pyspark.zip, py4j and the Spark jar (about 27k entries),
    which costs ~0.2 s per task. After this, an importer re-reads its
    archive only when the archive's ``(st_mtime_ns, st_size)`` differs from
    what that importer saw at its last read. Outside a worker, and on a
    second call, it does nothing.
    """
    import zipimport

    from pyspark import TaskContext

    cls = zipimport.zipimporter
    if TaskContext.get() is None or getattr(
        cls.invalidate_caches, "_skips_unchanged", False
    ):
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is not None and self.__dict__.get("_read_stamp") == stamp:
            return
        # stamp taken before the read: a write racing it shows up next call
        reread(self)
        self._read_stamp = stamp

    invalidate_caches._skips_unchanged = True
    cls.invalidate_caches = invalidate_caches


def get_spark(
    app_name: str = "smqtk_indexing_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # Workaround: Spark 4.1 Union.rewriteConstraints throws
        # NoSuchElementException on self-unions with swapped column aliases
        # (the connected-components symmetrize step). Constraint propagation
        # only feeds optional filter inference; correctness is unaffected.
        .config("spark.sql.constraintPropagation.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        # shuffle/spill to tmpfs in this sandbox (a real cluster has local
        # NVMe for this); avoids rotating-disk I/O variance in local mode
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
        # Finer file splits than the 128m default: Spark sizes scan splits
        # as min(maxPartitionBytes, bytes/defaultParallelism), i.e. EXACTLY
        # one wave per core — and this engine's scans feed CPU-bound Arrow
        # kernel passes where one wave is straggler-bound and any
        # broadcast-filtered scan inherits the coarse splits. 16m gives the
        # scheduler several waves per core at bench scale (measured
        # local[32] signature pass on the 800 MB corpus: 18.6 s -> 10.9 s
        # quiet-window). A 100 TB job should raise this (SPARK_GRAFT_MAX
        # env) to bound task count; the right value keeps ~2-4 waves/core.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        )
        # 64m broadcast threshold for AQE re-planning ONLY (Spark's 10m
        # default assumes ~1 GB executors). It was sized for a hot-bucket
        # size table the candidate stage no longer builds; what it still
        # covers is any join whose runtime build side lands between 10m
        # and 64m — the verify join's shingle side, update_dedup's
        # touched-bucket and prior-pair joins — and its effect on those
        # is unmeasured. Scoped to spark.sql.adaptive.* (ADVICE r5): the
        # STATIC threshold keeps Spark's default, because static planning
        # sizes relations from compressed on-disk estimates — a ~64 MB
        # parquet estimate can decompress to several hundred MB per
        # executor plus driver collect memory. AQE decides from exact
        # RUNTIME shuffle sizes, so only genuinely-small builds broadcast
        # and oversized ones fall back to shuffle joins automatically.
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            os.environ.get("SPARK_GRAFT_BCAST_THRESHOLD", "64m"),
        )
    )
    # shuffle compression codec: the candidate-stage bucket exchange is the
    # one unavoidable all-to-all; codec choice trades CPU for bytes on the
    # wire (overridable for A/B via SPARK_GRAFT_IO_CODEC)
    builder = builder.config(
        "spark.io.compression.codec", os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4")
    )
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    if env_conf:
        import json

        for k, v in json.loads(env_conf).items():
            builder = builder.config(k, str(v))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
