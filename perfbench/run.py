#!/usr/bin/env python3
"""Benchmark of the engine's report and data-engineering users (see BENCHMARK.json).

    python3 perfbench/run.py --workload ga_reports --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The run generates its inputs from the
seed, times passes of its workload for about ``--seconds`` seconds, checks
every output against DuckDB outside the timed path, and prints two JSON
lines: the run context, then the result ``{"correct", "attempted",
"failed", "metrics"}``.  ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones.  What the run writes goes under
``.perfbench_work/`` in the checkout, in a directory that is new for each
run and removed at the end.  The one exception is the engine's own
per-process scratch (streaming checkpoints and state stores), which the
engine puts on tmpfs when the host has it and removes when the process
exits; the benchmark leaves it there, as that is where the engine runs.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time
import traceback
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG_DIR = os.path.join(ROOT, "google_analytics_dataframes_spark")
WORK = os.path.join(ROOT, ".perfbench_work")
#: Driver heap.  Inputs are small; a fixed, modest heap keeps GC and the
#: peak-memory metric comparable between runs and hosts.
DRIVER_MEM = "3g"
MAX_CORES = 4
#: Session confs that change plans or background work, recorded per run.
PLAN_CONFS = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
              "spark.sql.adaptive.coalescePartitions.enabled",
              "spark.sql.adaptive.coalescePartitions.parallelismFirst",
              "spark.sql.adaptive.skewJoin.enabled",
              "spark.sql.autoBroadcastJoinThreshold")
STATIC_CONFS = ("spark.master", "spark.driver.memory", "spark.cleaner.periodicGC.interval")

END_TO_END = {"setup_s": "s", "pass_s": "s", "op_p50_ms": "ms",
              "items_per_s": "1/s", "retained_heap_mb": "MB"}


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def prepare_work_dir() -> tuple[str, dict]:
    """A fresh per-run directory, after removing those of dead runs, so
    every run starts from the same cache state."""
    os.makedirs(WORK, exist_ok=True)
    removed = 0
    for entry in os.listdir(WORK):
        if entry.startswith("run-") and entry[4:].isdigit() and not _pid_alive(int(entry[4:])):
            shutil.rmtree(os.path.join(WORK, entry), ignore_errors=True)
            removed += 1
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "data"):
        os.makedirs(os.path.join(run_dir, sub))
    return run_dir, {"run_dir": "fresh", "dead_run_dirs_removed": removed}


def point_spark_at(run_dir: str, cores: int) -> None:
    """Keep the JVM, Python workers and the engine's fixtures inside the
    run directory, and make the package importable by Python workers."""
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote('-Djava.io.tmpdir=' + tmp)} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def retained_heap_mb(jvm) -> float:
    """Driver heap still in use once garbage is collected: what the run
    left cached.  Python's collector runs first so py4j releases the JVM
    objects it still references; Spark's cleaner drops blocks and
    broadcasts only after a JVM collection has enqueued them, so it gets
    time between collections, until two in a row each free less than
    1 MB: a fixed three rounds left 10-20 MB of cleanable state in some
    runs, and one quiet round can come before the cleaner's next release.
    Peak RSS (kept as context) follows the collector's heap sizing and
    spreads too much between runs to gate on."""
    import gc

    gc.collect()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings = []
    for _ in range(12):
        jvm.System.gc()
        time.sleep(0.5)
        readings.append(heap.getHeapMemoryUsage().getUsed() / 2**20)
        if len(readings) >= 3 and readings[-3] - readings[-1] < 1.0:
            break
    return readings[-1]


class Ctx:
    """What the workloads share: the session, the registry, and DuckDB
    connections over each dataset directory."""

    def __init__(self, spark, registry, base_dir: str, run_dir: str):
        self.spark, self.registry = spark, registry
        self.base_dir, self.run_dir = base_dir, run_dir
        self._duck: dict[str, object] = {}

    def duck(self, sf_dir: str):
        con = self._duck.get(sf_dir)
        if con is None:
            import duckdb

            from perfbench.data import TABLES

            con = duckdb.connect()
            con.execute("SET threads TO 2")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')")
            self._duck[sf_dir] = con
        return con


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Runner:
    def __init__(self, ctx: Ctx, wl):
        self.ctx, self.wl = ctx, wl
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def fail(self, tag: str, why: str) -> None:
        self.failed += 1
        self.errors.append(f"{tag}: {why}")
        print(f"perfbench: FAIL {tag}: {why}", file=sys.stderr)

    def check(self, op, df=None) -> None:
        """Compare an op's rows with DuckDB (untimed).  ``df`` is the
        DataFrame the timed run built, collected here; without it the op is
        built and run again, which counts as one more attempt."""
        if df is None:
            self.attempted += 1
        try:
            problems = self.differences(op, df)
        except Exception:
            self.fail(op.tag, traceback.format_exc(limit=3))
            return
        if problems:
            self.fail(op.tag, "; ".join(problems))

    def differences(self, op, df=None) -> list[str]:
        from perfbench.check import compare

        got = (df if df is not None else op.build()).toPandas()
        con = self.ctx.duck(op.sf_dir)
        return compare(got, con.execute(op.expected(con)).fetchdf())

    def warmup(self) -> None:
        checked, plain = self.wl.warmup_ops()
        for op in plain:
            self.attempted += 1
            try:
                noop(op.build())
            except Exception:
                self.fail(op.tag, traceback.format_exc(limit=3))
        for op in checked:
            self.check(op)

    def run_pass(self, i: int, tracer=None) -> tuple[float, list, list]:
        """One timed pass: (wall seconds, [(tag, seconds)] per op, the ops
        that succeeded with their DataFrames)."""
        lat, done = [], []
        ops = self.wl.pass_ops(i)  # writes the pass's inputs, untimed
        t0 = time.perf_counter()
        for op in ops:
            self.attempted += 1
            s = time.perf_counter()
            try:
                if tracer is not None:
                    df = tracer.run_op(op.tag, op.build, noop)
                else:
                    df = op.build()
                    noop(df)
                done.append((op, df))
            except Exception:
                self.fail(op.tag, traceback.format_exc(limit=3))
            lat.append((op.tag, time.perf_counter() - s))
        return time.perf_counter() - t0, lat, done

    def timed(self, seconds: float, tracer=None) -> dict:
        """The workload's ``warm_passes``, run and checked but not timed,
        then passes until the next would end past ``seconds``, and at least
        two untraced ones, so ``pass_s`` is never a single sample.  With a
        tracer, passes alternate untraced / traced, starting untraced, and
        run at least until a traced pass has an untraced one after it."""
        plain, traced, lat = [], [], []
        to_check: dict[str, tuple] = {}

        def checks(done) -> None:
            for op, df in done:
                if op.tag in self.wl.check_timed:
                    self.check(op, df)
                else:
                    to_check.setdefault(op.tag, (op, df))

        warm = self.wl.warm_passes
        for i in range(warm):
            checks(self.run_pass(i)[2])
        start = time.perf_counter()
        i = warm
        while True:
            use = tracer if (tracer is not None and (i - warm) % 2 == 1) else None
            if use is not None:
                use.install()
            try:
                dt, op_lat, done = self.run_pass(i, use)
            finally:
                if use is not None:
                    use.collect()  # while the listeners are still registered
                    use.uninstall()
            if use is None:
                plain.append(dt)
                lat.extend(op_lat)
            else:
                traced.append(dt)
                for problem in use.account(op_lat):
                    self.fail("trace", problem)
            checks(done)
            i += 1
            elapsed = time.perf_counter() - start
            if len(plain) < 2 or (tracer is not None and not traced):
                continue
            if elapsed + median(plain + traced) > seconds:
                break
        for tag, (op, df) in to_check.items():
            if tag not in self.wl.checked_in_warmup:
                self.check(op, df)
        return {"plain": plain, "traced": traced, "lat": lat}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(PKG_DIR):
        print(f"perfbench: the engine package is missing at {PKG_DIR}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import data
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # Spark's Python workers write to the inherited stdout; keep that for
    # the result lines only.
    result_fd = os.dup(1)
    os.dup2(2, 1)

    run_dir, cache_state = prepare_work_dir()
    base_dir = os.path.join(WORK, f"base-v{data.BASE_VERSION}")
    cache_state["base_data"] = "reused" if os.path.exists(
        os.path.join(base_dir, "_DONE")) else "generated"
    data.write_base(base_dir)
    cores = min(MAX_CORES, os.cpu_count() or 1)
    with open("/proc/loadavg") as f:
        loadavg = f.read().split()[:3]
    point_spark_at(run_dir, cores)
    os.chdir(run_dir)

    spark = None
    try:
        t0 = time.perf_counter()
        from google_analytics_dataframes_spark.session import get_spark

        t1 = time.perf_counter()
        spark = get_spark(app_name="perfbench")
        t2 = time.perf_counter()
        from google_analytics_dataframes_spark.registry import registry

        reg = registry()
        t3 = time.perf_counter()
        noop(spark.range(1))
        setup_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")

        cache_state["engine_tmp_fixtures"] = ".perfbench_work/run-*/tmp"

        ctx = Ctx(spark, reg, base_dir, run_dir)
        wl = WORKLOADS[args.workload](ctx, args.seed)
        wl.prepare()
        runner = Runner(ctx, wl)
        t4 = time.perf_counter()
        runner.warmup()
        t5 = time.perf_counter()
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark, cores)
        res = runner.timed(args.seconds, tracer)
        # Known engine defects the workload steers around: run untimed and
        # reported, not counted, so each run shows whether they still hold.
        known_defects = {}
        for name, op in wl.known_defects().items():
            try:
                known_defects[name] = "reproduced" if runner.differences(op) else "fixed"
            except Exception as e:
                known_defects[name] = f"raised {type(e).__name__}"
        t6 = time.perf_counter()

        import duckdb
        import pyspark

        import google_analytics_dataframes_spark.io as io_mod

        # The engine's own choice: a per-process dir, on tmpfs when the host
        # has it, removed when the process exits.
        scratch = io_mod._SCRATCH_BASE
        cache_state["engine_scratch"] = (
            scratch.replace(str(os.getpid()), "<pid>") if scratch else "unused")
        jvm = spark.sparkContext._jvm
        peak_rss = vm_hwm_mb("self") + vm_hwm_mb(jvm.ProcessHandle.current().pid())
        retained = retained_heap_mb(jvm)
        sc_conf = spark.sparkContext.getConf()
        context = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cpus": cores, "nproc": os.cpu_count(), "master": spark.sparkContext.master,
            "loadavg_before_jvm": loadavg,
            "versions": {"pyspark": pyspark.__version__, "duckdb": duckdb.__version__},
            "confs": {**{k: spark.conf.get(k, None) for k in PLAN_CONFS},
                      **{k: sc_conf.get(k, None) for k in STATIC_CONFS}},
            "cache_state": cache_state,
            "pass_times_s": {"untraced": res["plain"], "traced": res["traced"]},
            "peak_rss_mb": peak_rss,
            "phase_s": {"prepare": t4 - t3, "warmup": t5 - t4, "timed_and_checks": t6 - t5},
            "errors": runner.errors[:5],
            "known_defects": known_defects,
        }
        from perfbench.stats import percentile, tail_percentile

        lat_ms = [x * 1000.0 for _tag, x in res["lat"]]
        pass_s = median(res["plain"])
        tail_p = tail_percentile(len(lat_ms))
        context["op_samples"] = len(lat_ms)
        if not args.trace:
            context["op_ms"] = [[t, round(x * 1000.0, 1)] for t, x in res["lat"]]
        if tail_p is not None:
            context[f"op_p{tail_p:g}_ms"] = percentile(lat_ms, tail_p)
        context[f"{wl.item}_per_s"] = wl.items_per_pass() / pass_s

        if args.trace:
            from perfbench.trace import LAYER_METRICS, SELF_TIME_TOLERANCE_PCT

            layer = tracer.layer_metrics(len(res["traced"]))
            layer["session.get_spark_ms"] = (t2 - t1) * 1000.0
            layer["registry.import_ms"] = (t3 - t2) * 1000.0
            # Each traced pass against the untraced pass right after it: the
            # first timed pass is still warming, so it is left out, and the
            # estimate errs high rather than low.
            plain, traced = res["plain"], res["traced"]
            layer["trace.overhead_ms"] = median(
                t - plain[k + 1] for k, t in enumerate(traced) if k + 1 < len(plain)) * 1000.0
            metrics = {k: {"value": layer.get(k, 0.0), "unit": u}
                       for k, (u, _moves) in LAYER_METRICS.items()}
            context["self_time_tolerance_pct"] = SELF_TIME_TOLERANCE_PCT
            with open(os.path.join(WORK, f"last_trace_{args.workload}.json"), "w") as f:
                json.dump({"context": context, "spans": tracer.spans_json()}, f)
        else:
            values = {"setup_s": setup_s, "pass_s": pass_s,
                      "op_p50_ms": percentile(lat_ms, 50.0),
                      "items_per_s": wl.items_per_pass() / pass_s,
                      "retained_heap_mb": retained}
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        result = {"correct": runner.failed == 0, "attempted": runner.attempted,
                  "failed": runner.failed, "metrics": metrics}
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)

    with os.fdopen(result_fd, "w") as out:
        out.write(json.dumps(context) + "\n")
        out.write(json.dumps(result) + "\n")
    return 0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


if __name__ == "__main__":
    sys.exit(main())
