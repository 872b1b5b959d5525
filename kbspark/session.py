"""SparkSession factory.

Local mode is the test bed; the config block is written so the same code
deploys unchanged via spark-submit on a multi-executor cluster (AQE,
adaptive skew-join, Arrow batching are cluster-relevant, not local hacks).
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession


def get_spark(
    app: str = "kbspark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract) or the CPUs
    this process may run on. ``driver_memory`` defaults to half of the
    machine's physical RAM. ``shuffle_partitions`` defaults to ``cpus`` —
    on a real cluster this would be ~2-3x total cores; AQE coalesces the
    excess either way.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS",
                                      len(os.sched_getaffinity(0))))
    shuffle_partitions = shuffle_partitions or cpus
    if driver_memory is None:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        driver_memory = f"{ram // 2 // 2**20}m"

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Keep Arrow batches small: with kilobyte-scale text rows and many
        # concurrent python workers, large batches (the 10k default) put
        # gigabytes in flight JVM<->python and collapse throughput at high
        # core counts (measured: trivial 2.2GB pass at local[32] takes 20s+
        # with 20k batches vs ~5s with 1k batches). 1024 rows × ~4KB text
        # ≈ 4MB per batch per worker — smooth pipelining at 32 workers.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: Every DataFrame kbspark persists (frame entity dim, tagged table,
#: words table, shingle/block/member tables, EL spans). A
#: contract/driver session runs ~50 queries in one process;
#: without release the cached partitions of every query accumulate for
#: the session lifetime (ADVICE r02). Operators register their persists
#: here; ``release_tracked`` drops them all — called between contract
#: queries (kbspark.contract.register) once the previous query's action
#: has finished. Unpersist is an optimization-only change: every tracked
#: computation is deterministic, so late consumers just recompute.
_TRACKED_PERSISTS: list = []


def persist_tracked(df):
    """``df.persist()`` + registration for between-queries release."""
    out = df.persist()
    _TRACKED_PERSISTS.append(out)
    return out


def release_tracked() -> int:
    """Unpersist every tracked DataFrame; returns how many were
    released."""
    n = 0
    while _TRACKED_PERSISTS:
        df = _TRACKED_PERSISTS.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already gone — nothing to release
            pass
    return n


_CHECKPOINT_LOCK = threading.Lock()


def local_checkpoint_tracked(df):
    """``df.localCheckpoint()`` plus the ids of the RDD cache blocks the
    checkpoint pinned, as ``(checkpointed_df, [rdd_id, ...])``.

    Spark has no public unpersist for (local) checkpoints, so an
    iterative fixpoint that checkpoints every round accumulates
    O(rounds × |V|) cached blocks for its whole lifetime (ADVICE r03).
    Capturing the delta of ``getPersistentRDDs`` around the (eager)
    checkpoint lets the loop release the PREVIOUS round's blocks via
    ``release_rdd_ids`` once the new round is materialized.

    The before/after delta attributes every persist registered inside
    the window to THIS checkpoint, so concurrent persists (another
    driver thread, a background streaming job) would be mis-attributed
    and later unpersisted. ``_CHECKPOINT_LOCK`` serializes the capture
    window across driver threads (ADVICE r04); persists issued by Spark
    itself outside any ``local_checkpoint_tracked`` call remain the
    caller's responsibility — keep long-lived background jobs on their
    own SparkSession if they persist."""
    with _CHECKPOINT_LOCK:
        sc = df.sparkSession.sparkContext
        jmap = sc._jsc.getPersistentRDDs()
        before = set(jmap.keySet().toArray())
        out = df.localCheckpoint()
        after = sc._jsc.getPersistentRDDs().keySet().toArray()
        return out, [i for i in after if i not in before]


def release_rdd_ids(spark, ids) -> int:
    """Best-effort unpersist of checkpoint-cached RDD blocks by id
    (companion of ``local_checkpoint_tracked``); returns how many blocks
    were released. Never raises — a missing id just means the blocks are
    already gone."""
    n = 0
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for i in ids:
            r = jmap.get(i)
            if r is not None:
                r.unpersist(False)
                n += 1
    except Exception:
        pass
    return n


def reset_memos() -> int:
    """Release every tracked persist (``release_tracked``); returns how
    many were released.

    kbspark keeps no cross-call memo: each job derives its dims once and
    passes them down, and every table it persists goes through
    ``persist_tracked``. Benchmarks call this between repeated runs so
    each run starts with nothing cached."""
    return release_tracked()


def pin_session_conf(spark: SparkSession) -> SparkSession:
    """Pin runtime confs that correctness depends on, on a session we did
    not create (the driver hands us one in ``__spark_entry__.entry``).

    UTC matters because the DuckDB oracle reads parquet timestamps as
    naive-UTC; Arrow matters for every pandas-UDF stage.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    return spark
