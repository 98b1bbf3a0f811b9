#!/usr/bin/env python
"""Round-12 same-window A/B probes (VERDICT r11 item #5).

Methodology (identical to tools/stream_probe_r10/r11): ONE process, ONE
SparkSession, variants interleaved A,B,A,B so ambient-load drift cancels
to first order; each variant warmed once untimed (staging cache +
codegen), then timed 3x; medians + raw triples reported; row parity
between variants asserted on every timed run.

Probes: st18 + st19 are the stream family's remaining floor (r11 driver:
5.35 + 4.64 s of the ~30 s family total).  Both are already at their
structural microbatch minimum (st18: 2 data batches — the typed-state
carry-over proof needs state written in batch 1 to be READ in batch 2;
st19: 2 data batches + the timer-flush no-data batch), so the probe
prices the remaining per-batch store costs:

  A  shipped configuration (RocksDB provider, sized state partitions).
  B  A + RocksDB changelog checkpointing
     (spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.
     enabled): commits upload the batch's changelog instead of
     snapshotting SST files per batch — the commit-cost lever this
     engine exposes for exactly this many-partitions x tiny-state shape.
  C  B + trackTotalNumberOfRows=false: drops the per-put row-count
     bookkeeping RocksDB does on every state mutation.

Usage: python tools/stream_probe_r12.py [SF_DIR]
"""

from __future__ import annotations

import json
import statistics
import sys
import time
import uuid
from contextlib import contextmanager

sys.path.insert(0, "/root/repo")

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

CHANGELOG_KEY = (
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
)
TRACKROWS_KEY = "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"


def main() -> None:
    from pyspark.sql import functions as F

    from google_analytics_dataframes_spark.queries.streaming_batch import (
        _few_state_partitions,
        _rocksdb_state_provider,
        _sized_state_partitions,
        _stage_stream_dir,
        _stage_stream_dir_with_flush,
    )
    from google_analytics_dataframes_spark.session import get_spark
    from google_analytics_dataframes_spark.streaming import jobs
    from google_analytics_dataframes_spark.streaming.tws_runtime import (
        armed_worker_env,
    )

    spark = get_spark(app_name="stream_probe_r12")

    @contextmanager
    def conf_patch(pairs):
        olds = {}
        for k, v in pairs.items():
            olds[k] = spark.conf.get(k, None)
            spark.conf.set(k, v)
        try:
            yield
        finally:
            for k, old in olds.items():
                if old is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, old)

    def run_st18() -> int:
        src = _stage_stream_dir(spark, SF_DIR, ordered=False)
        stream = jobs.read_event_stream(spark, src, files_per_trigger=1)
        with _rocksdb_state_provider(spark):
            with armed_worker_env(spark):
                tws = jobs.st18_typed_state_census(stream)
            with _few_state_partitions(
                spark,
                _sized_state_partitions(SF_DIR, spark.sparkContext.defaultParallelism),
            ):
                out = jobs.run_available_now(
                    tws, f"p18_{uuid.uuid4().hex[:8]}", output_mode="update"
                )
        return out.count()

    def run_st19() -> int:
        src = _stage_stream_dir_with_flush(spark, SF_DIR)
        stream = jobs.read_event_stream(spark, src, files_per_trigger=3)
        with _rocksdb_state_provider(spark):
            with armed_worker_env(spark):
                tws = jobs.st19_timer_sessionize(stream)
            with _few_state_partitions(
                spark,
                _sized_state_partitions(SF_DIR, spark.sparkContext.defaultParallelism),
            ):
                out = jobs.run_available_now_parquet(
                    tws, f"p19_{uuid.uuid4().hex[:8]}"
                )
        return out.filter(F.col("user_id") >= 0).count()

    def with_confs(fn, pairs):
        def run():
            with conf_patch(pairs):
                return fn()

        return run

    probes = {
        "st18": {
            "A(shipped)": run_st18,
            "B(+changelog ckpt)": with_confs(run_st18, {CHANGELOG_KEY: "true"}),
            "C(B +no row tracking)": with_confs(
                run_st18, {CHANGELOG_KEY: "true", TRACKROWS_KEY: "false"}
            ),
        },
        "st19": {
            "A(shipped)": run_st19,
            "B(+changelog ckpt)": with_confs(run_st19, {CHANGELOG_KEY: "true"}),
            "C(B +no row tracking)": with_confs(
                run_st19, {CHANGELOG_KEY: "true", TRACKROWS_KEY: "false"}
            ),
        },
    }

    results: dict = {"sf_dir": SF_DIR}
    for qname, variants in probes.items():
        rows_seen: dict = {}
        times: dict = {k: [] for k in variants}
        for label, fn in variants.items():  # untimed warm-up per variant
            rows_seen[label] = fn()
        for _ in range(3):  # interleaved timed runs
            for label, fn in variants.items():
                t0 = time.time()
                n = fn()
                times[label].append(round(time.time() - t0, 2))
                assert n == rows_seen[label], (qname, label, n, rows_seen[label])
        labels = list(variants)
        assert len({rows_seen[b] for b in labels}) == 1, (qname, rows_seen)
        results[qname] = {
            "rows": rows_seen[labels[0]],
            **{
                label: {"median": statistics.median(ts), "runs": ts}
                for label, ts in times.items()
            },
        }
        print(f"## {qname}: {json.dumps(results[qname])}", flush=True)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
