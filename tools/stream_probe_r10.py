#!/usr/bin/env python
"""Round-10 same-window A/B probe for the stream family's fixed costs
(VERDICT r9 items #2/#3/#6).

Methodology: ONE process, ONE SparkSession, variants interleaved A,B,A,B
(ambient-load drift cancels to first order), each variant warmed once
untimed (staging cache + codegen) then timed 3x; report the median and
the raw triples.  Matches the BASELINE.md convention that cross-window
isolated probes are never compared.

Probes:
  st14  files_per_trigger 2 (shipped) vs 3 — one fewer microbatch over
        the 5-file staging ([f0 f1][f2 f3][s] -> [f0 f1 f2][f3 s]),
        keeping >=2 data batches so cross-batch session carry-over is
        still exercised.
  st16  files_per_trigger 2 (shipped) vs 3 — 4 batches -> 3 over the
        7-file staging, mirroring st19's proven layout ([f0 f1 f2]
        [f3 s0 s1][s2]: the final batch still applies the watermark the
        second batch's sentinels advanced).
  st18  shipped census (getValue/get double as existence probes) vs the
        r8 legacy census (containsKey + getValue, exists + get — up to 6
        more state-server RPCs per key-batch), pricing the r9 RPC
        collapse that shipped unpriced.

Row-count parity between variants is asserted on every timed run.
"""

from __future__ import annotations

import json
import statistics
import sys
import time
import uuid

sys.path.insert(0, "/root/repo")

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"


def main() -> None:
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import LongType, StringType, StructField, StructType

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

    spark = get_spark(app_name="stream_probe_r10")
    spark.sparkContext.setLogLevel("ERROR")

    # ---- st18 legacy processor (the r8 form: probe-then-read RPC pairs) --
    def st18_census_legacy(events):
        kinds = ["click", "error", "purchase", "signup", "view"]
        map_key_schema = StructType([StructField("event_type", StringType())])
        map_value_schema = StructType([StructField("n", LongType())])
        total_schema = StructType([StructField("total", LongType())])
        output_schema = (
            "user_id bigint, clicks bigint, errors bigint, purchases bigint, "
            "signups bigint, views bigint, total bigint"
        )

        class LegacyCensusProcessor(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle) -> None:
                self._census = handle.getMapState(
                    "census", map_key_schema, map_value_schema
                )
                self._total = handle.getValueState("total", total_schema)

            def handleInputRows(self, key, rows, timerValues):
                batch_counts: dict = {}
                n_rows = 0
                for pdf in rows:
                    n_rows += len(pdf)
                    for et, n in pdf["event_type"].value_counts().items():
                        batch_counts[et] = batch_counts.get(et, 0) + int(n)
                for et, n in batch_counts.items():
                    prev = (
                        self._census.getValue((et,))[0]
                        if self._census.containsKey((et,))
                        else 0
                    )
                    self._census.updateValue((et,), (prev + n,))
                total = (
                    self._total.get()[0] if self._total.exists() else 0
                ) + n_rows
                self._total.update((total,))
                now = {k: v[0] for (k,), v in self._census.iterator()}
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        **{f"{k}s": [now.get(k, 0)] for k in kinds},
                        "total": [total],
                    }
                )

            def close(self) -> None:
                pass

        return events.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=LegacyCensusProcessor(),
            outputStructType=output_schema,
            outputMode="Update",
            timeMode="None",
        )

    # ---- variant runners (each returns emitted row count) ----------------
    def run_st14(fpt: int) -> int:
        src = _stage_stream_dir_with_flush(spark, SF_DIR)
        stream = jobs.read_event_stream(spark, src, files_per_trigger=fpt)
        with _few_state_partitions(spark):
            out = jobs.run_available_now_parquet(
                jobs.st3_session_stream(stream),
                f"probe14_{uuid.uuid4().hex[:8]}",
            )
        return out.filter(F.col("user_id") >= 0).count()

    def run_st16(fpt: int) -> int:
        src = _stage_stream_dir_with_flush(spark, SF_DIR, n_sentinels=3)
        stream = jobs.read_event_stream(spark, src, files_per_trigger=fpt)
        with _few_state_partitions(spark):
            out = jobs.run_available_now_parquet(
                jobs.st16_attribution_left_join(stream),
                f"probe16_{uuid.uuid4().hex[:8]}",
            )
        return out.filter(F.col("user_id") >= 0).count()

    def run_st18(legacy: bool) -> int:
        src = _stage_stream_dir(spark, SF_DIR, ordered=False)
        stream = jobs.read_event_stream(spark, src, files_per_trigger=1)
        with _rocksdb_state_provider(spark):
            with armed_worker_env(spark):
                tws = (
                    st18_census_legacy(stream)
                    if legacy
                    else jobs.st18_typed_state_census(stream)
                )
            with _few_state_partitions(
                spark,
                _sized_state_partitions(SF_DIR, spark.sparkContext.defaultParallelism),
            ):
                out = jobs.run_available_now(
                    tws, f"probe18_{uuid.uuid4().hex[:8]}", output_mode="update"
                )
        return out.groupBy("user_id").count().count()

    probes = {
        "st14": {"A(fpt=2, shipped)": lambda: run_st14(2), "B(fpt=3)": lambda: run_st14(3)},
        "st16": {"A(fpt=2, shipped)": lambda: run_st16(2), "B(fpt=3)": lambda: run_st16(3)},
        "st18": {"A(legacy RPCs)": lambda: run_st18(True), "B(collapsed, shipped)": lambda: run_st18(False)},
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
        assert rows_seen[labels[0]] == rows_seen[labels[1]], (qname, rows_seen)
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
