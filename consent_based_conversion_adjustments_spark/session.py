"""SparkSession builder.

Local defaults are ``local[32]`` and a 48g driver heap;
``SPARK_GRAFT_CPUS`` and ``SPARK_DRIVER_MEM`` override them. The same
settings are the right starting point on a real cluster: AQE handles runtime
re-planning (partition coalescing, skew-join splitting), Arrow accelerates
the few Pandas-UDF operators, and the broadcast threshold governs when the
consent ("build") side of the similarity join is shipped to executors.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "cocoa-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        # shuffle/broadcast/blockmgr scratch on tmpfs: the local disk in
        # virtualized CI hosts intermittently stalls writes for tens of
        # seconds (observed as whole-stage idle-CPU hangs); RAM-backed local
        # dirs remove that variance FOR SMALL RUNS (the sf0.1 bench shuffles
        # a few GB). Once shuffle volume is a nontrivial fraction of RAM it
        # inverts: tmpfs pages compete with the JVM heap and identical 64×
        # legs measured 261–746 s (PERF.md round 6) — the scale runners pin
        # SPARK_LOCAL_DIRS to disk, and on a real cluster local dirs belong
        # on local SSD, never RAM-backed.
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/cocoa-spark-local"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # let AQE convert a sort-merge join to a shuffled-hash join when
        # every build-side partition's hash map fits this bound — the big
        # lever for the dedup verify stage, whose per-doc token table
        # outgrows the broadcast threshold long before it stops fitting
        # per-partition maps (measured: full minhash_neardup over 59.8M
        # candidates in the beyond-broadcast regime 43.5 s -> 21.9 s).
        # Runtime-adaptive and bounded: oversized partitions keep SMJ, so
        # unlike a forced SHUFFLE_HASH hint this cannot OOM at scale.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        # the driver's events.parquet stores TIMESTAMP(NANOS) which the
        # vectorized reader rejects; read as long and convert in sources.io
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # availableNow runs append a trailing NO-DATA micro-batch whose only
        # effect is advancing the watermark and evicting state — a full
        # state-store commit cycle across every partition that emits
        # nothing for every sink shape this engine uses (eager-emit inner
        # stream-stream joins, dropDuplicatesWithinWatermark, and
        # foreachBatch stores whose results are batch-count-independent by
        # each query's documented determinism bound). An append-mode
        # WINDOWED AGGREGATION would need that batch to flush its final
        # windows — none exists in-repo; re-enable this if one is added.
        # Measured r14: the stream-stream join ran 2 micro-batch jobs of
        # ~5 s each at sf0.1, one of them the no-data batch.
        .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/cocoa-spark-warehouse"),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def scratch_dir(prefix: str) -> str:
    """Create a THROWAWAY scratch directory (ephemeral streaming
    checkpoints, per-run stores) under the same RAM-backed root policy —
    and for the same measured reason — as ``spark.local.dir`` above: the
    virtualized local disk intermittently stalls small writes for
    seconds, and a state-store commit writes dozens of tiny delta files
    per micro-batch (measured on the stream-stream join query: 18.4 s
    with /tmp checkpoints vs 6.7 s RAM-backed, nothing else changed).

    Only for state the caller deletes after the run — every in-repo call
    site rmtree's the directory when done, so checkpoint durability is
    moot by construction. Production streaming jobs pass an explicit
    ``checkpoint_dir`` / store path on durable storage instead (the
    restart contract needs it); ``COCOA_SCRATCH_DIR`` redirects the root
    (e.g. to real disk when RAM is tight), and an unusable root falls
    back to the system tempdir.

    Failure mode (ADVICE r13): the fallback fires only when the root is
    unusable at mkdir time. A RAM-backed root that exists but FILLS
    mid-run (tmpfs ENOSPC — state competing with the JVM heap for the
    same RAM) fails the query with no automatic fallback;
    ``COCOA_SCRATCH_DIR=/tmp`` (or any disk path) is the escape hatch.
    The in-repo callers only put small per-run state here (streaming
    checkpoints/stores, a few MB at bench scale), so probing free space
    up front would mostly measure the JVM's heap headroom instead.
    """
    import tempfile

    root = os.environ.get(
        "COCOA_SCRATCH_DIR", "/dev/shm/cocoa-spark-local/scratch"
    )
    try:
        os.makedirs(root, exist_ok=True)
        return tempfile.mkdtemp(prefix=prefix, dir=root)
    except OSError:
        return tempfile.mkdtemp(prefix=prefix)
