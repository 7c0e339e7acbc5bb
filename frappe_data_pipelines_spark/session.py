"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the same config block is what we would
ship to a 1000-executor cluster (AQE on, skew-join handling on, adaptive
partition coalescing on). Shuffle partitions default small for local runs and
should be raised (or left to AQE) on a real cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def jvm_has_deep_stack(spark: SparkSession, min_bytes: int = 8 << 20) -> bool:
    """True if the RUNNING driver JVM was launched with a thread stack of
    at least ``min_bytes`` (default 8 MB). Authoritative — reads the JVM's
    actual launch arguments via the runtime MX bean, not the SparkConf
    (which still *shows* ``spark.driver.extraJavaOptions`` on a session
    that pre-existed getOrCreate, where the option was silently ignored).
    Used by ``streaming.ingest.stop_streaming_query`` to decide whether
    the -Xss32m mid-batch-interrupt backstop is really in place."""
    try:
        mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()  # noqa: SLF001
        for arg in mx.getInputArguments():
            s = str(arg)
            if not s.startswith("-Xss"):
                continue
            size, unit = s[4:], 1
            if size and size[-1] in "kKmMgG":
                unit = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}[size[-1].lower()]
                size = size[:-1]
            try:
                return int(size) * unit >= min_bytes
            except ValueError:
                return False
    except Exception:  # noqa: BLE001 — py4j / non-JVM session: assume absent
        return False
    return False


def _with_stack_size(opts: str, xss: str = "-Xss32m") -> str:
    """Append ``xss`` to a driver-java-options string unless the caller
    already pins a stack size — their -Xss wins."""
    if "-Xss" in opts:
        return opts
    return f"{opts} {xss}".strip()


def get_spark(
    app_name: str = "frappe-data-pipelines-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    AQE is enabled so runtime statistics re-plan joins (broadcast conversion,
    skew splitting, partition coalescing) — this is the scale story: the same
    logical plans run unchanged from sf0.001 to 100 TB because the physical
    strategy is chosen at runtime, not hard-coded here.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- adaptive execution: the cluster-scale knobs ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # spark.sql.optimizer.canChangeCachedPlanOutputPartitioning stays at
        # Spark's default (off), so AQE does not coalesce the final shuffle
        # of a persisted plan: a persisted 20-document frame keeps 32
        # partitions and each Python stage over it runs 32 tasks. Turning it
        # on cut those to 1-3 tasks (perfbench ingest batch p50 -44% instead
        # of -19%, local[4]), but the leaner set-up left serve's first reads
        # ~25% slower (JVM less warm; later reads were as fast), so it is
        # not set here.
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # --- Arrow for every pandas UDF / applyInPandas hop ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- parquet vectorized reader + pushdown are on by default; keep
        #     session tz fixed so timestamp semantics match the DuckDB oracle ---
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet carries TIMESTAMP(NANOS) which the vectorized reader
        # rejects; read as long and convert in sources.tables.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local mode runs every executor thread inside the driver JVM, so
        # the "driver" heap is the whole engine's heap — size accordingly
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # Stopping a stream mid-batch makes Spark classify the interrupted
        # batch's exception (StreamExecution.isInterruptionException) by
        # running a Scala regex over the exception MESSAGE — for an
        # interrupted py4j foreachBatch that message embeds the full Java
        # cause chain (can be 100s of KB) and java.util.regex recursion
        # overflows the stream thread's default 1 MB stack, killing the
        # thread instead of stopping cleanly (reproduced round 8 in
        # tools/stream_bench.py). A deeper default thread stack absorbs
        # it; streaming/ingest.stop_streaming_query avoids the interrupt
        # by stopping at trigger-idle. NOTE an explicit .config still
        # overrides spark-defaults.conf (builder semantics) — callers who
        # need extra driver flags pass them via SPARK_DRIVER_JAVA_OPTIONS
        # (appended here; an explicit -Xss in them wins over ours).
        # FRESH-JVM REQUIREMENT: extraJavaOptions only takes effect when
        # getOrCreate launches the JVM. If a SparkSession already exists
        # (tests, notebooks, an earlier get_spark with other args), this
        # config is silently ignored and the running JVM keeps its 1 MB
        # stacks — stop_streaming_query detects that (jvm_has_deep_stack)
        # and extends its idle wait rather than trusting the backstop.
        .config(
            "spark.driver.extraJavaOptions",
            _with_stack_size(os.environ.get("SPARK_DRIVER_JAVA_OPTIONS", "")),
        )
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
