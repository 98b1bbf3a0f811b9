"""SparkSession factory + runtime-conf hygiene (SURVEY.md §4.2, §7 step 1).

Two entry points:

* :func:`get_spark` — build a session for our own tests/bench (local[N]).
* :func:`configure` — idempotently apply the *runtime* confs any session
  needs for deterministic, DuckDB-hash-matching results.  The driver passes
  us its own SparkSession, so every query path calls ``configure(spark)``
  rather than assuming the session factory ran.

Determinism rules (SURVEY.md §5.2 item 4):
* session timezone UTC — `events.ts` / `o_orderdate` arithmetic must match
  DuckDB, which is timezone-naive over the same parquet.
* Arrow on — pandas_udf / toPandas paths are Arrow-batched, never row-ser.
* AQE on (Spark default) — runtime coalesce + skew-join handling; this is
  the 100-TB posture (BASELINE.json:6): plans must survive skew and
  small-partition fragmentation without hand-tuning.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime (session-level) confs — settable on a live session.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Parquet pushdown — free correctness-preserving scan reduction.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # `events.ts` is parquet TIMESTAMP(NANOS) (FIXTURES.md) which Spark's
    # reader rejects; read as raw nanos LONG, io.py converts to µs timestamp
    # (floor division — matches DuckDB's ns->µs truncation).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def configure(spark: SparkSession) -> SparkSession:
    """Idempotently apply runtime confs to an existing session, once per
    application (io.session_memo): nothing in the codebase mutates
    RUNTIME_CONFS keys mid-session, and re-applying them costs ~3 ms of
    py4j round trips."""
    from google_analytics_dataframes_spark.io import session_memo

    def apply() -> None:
        for k, v in RUNTIME_CONFS.items():
            try:
                spark.conf.set(k, v)
            except Exception:  # conf not runtime-settable on this build — skip
                pass

    session_memo(spark, "configure", None, (), apply)
    return spark


def get_spark(
    app_name: str = "google-analytics-dataframes-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's static confs.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or ``local[*]``.
    ``shuffle_partitions`` defaults to the core count — at sf<=0.1 AQE
    coalesces tiny post-shuffle partitions anyway; on a real cluster this is
    sized so a shuffle partition fits executor memory (SURVEY.md §4.2).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Long-lived-session hygiene (round 13): ContextCleaner reclaims
        # unreferenced persisted blocks / broadcasts only after a JVM GC
        # processes their weak references, and a suite that never fills
        # the heap never triggers one — Spark's default periodicGC of
        # 30 min is longer than the whole bench.  Measured at the 10x
        # synth: accumulated probe persists from ~300 distinct plans ran
        # in-suite queries at 2-5x their fresh-session cost (l7 13.8 s
        # in-suite vs 4.0 s standalone).  A minutely System.gc on this
        # heap is a few hundred ms — noise next to the eviction churn it
        # prevents.  Same posture on a real cluster: long-lived drivers
        # issuing many distinct plans set this low.
        .config("spark.cleaner.periodicGC.interval", "1min")
    )
    spark = builder.getOrCreate()
    return configure(spark)
