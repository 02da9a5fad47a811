"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_hourly --seed 1 --seconds 20 --trace 0

Generates the workload's inputs from the seed, sets up the engine several
times (the median is setup_s), warms up, then runs units of work back to
back for --seconds and checks every output against an independent
recompute. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones (see README.md).

Everything the run writes lives in a per-run directory under
.perfbench_work/ at the checkout root (also its cwd, TMPDIR and Spark
local dir), removed when the run ends. A traced run leaves its spans in
.perfbench_work/spans-<workload>-<seed>.jsonl.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# untimed units before measuring: the JVM keeps getting faster over the
# first few units (JIT), so one warm-up unit is not enough
WARMUP_SECONDS = 8
# the package's default heap is 16g, more than a 15 GiB, 4-core machine
# shared with other processes can give; the inputs here need far less
DRIVER_MEMORY = "2g"
WORKLOADS = ("etl_hourly", "store_epochs")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Engine:
    """The Spark session under test, rebuilt in place for each setup round."""

    def __init__(self, work: str, cpus: int) -> None:
        self.work, self.cpus = work, cpus
        self.spark = None

    def build(self, event_log: str | None = None) -> tuple[float, float]:
        """(session build s, first job s). Stops any previous session; the
        JVM is launched once and reused."""
        from s3_to_redshift_with_airflow_spark.session import build_session

        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": f"{self.work}/local",
            # no hsperfdata file in /tmp: the run writes only inside the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
        }
        if event_log:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
            })
        t0 = time.perf_counter()
        self.spark = build_session(master=f"local[{self.cpus}]", extra_conf=conf)
        t1 = time.perf_counter()
        self.spark.range(1000).selectExpr("sum(id)").collect()
        return t1 - t0, time.perf_counter() - t1

    def jvm_peak_kb(self) -> int:
        with open(f"/proc/{self._proc().pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    def _proc(self):
        from pyspark import SparkContext

        return SparkContext._gateway.proc  # noqa: SLF001

    def close(self) -> None:
        """Stop the session and wait for the JVM (and its Python workers) to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        proc = self._proc()
        self.spark.stop()
        SparkContext._gateway.shutdown()  # noqa: SLF001
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a stuck JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=30)
        SparkContext._gateway = SparkContext._jvm = None  # noqa: SLF001
        self.spark = None


def loop(wl, spark, seconds: float, tracer, first: int) -> dict:
    """Closed loop: units of work back to back until the deadline, each
    followed by its read operations."""
    units, rates, reads, failed = [], [], [], 0
    i = first
    t_start = time.perf_counter()
    deadline = t_start + seconds
    while wl.remaining:
        tracer.op = i
        wl.stage(i)
        try:
            t0 = time.perf_counter()
            with tracer.span("bench.unit"):
                n = wl.unit(spark, i)
            units.append(time.perf_counter() - t0)
            rates.append(n / units[-1])
            reads += wl.reads(spark, i)
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            traceback.print_exc()
            failed += 1
            break
        i += 1
        if time.perf_counter() >= deadline:
            break
    return {"units": units, "rates": rates, "reads": reads, "failed": failed,
            "wall": time.perf_counter() - t_start, "next": i}


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def end_to_end(setups, res) -> dict:
    by_kind: dict[str, list[float]] = {}
    for kind, s in res["reads"]:
        by_kind.setdefault(kind, []).append(s)
    m = {
        "setup_s": (statistics.median(setups), "s"),
        "unit_s": (statistics.median(res["units"]), "s"),
        "rows_per_s": (statistics.median(res["rates"]), "rows/s"),
        "read_s_geomean": (geomean([statistics.median(v) for v in by_kind.values()]), "s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def per_layer(wl, tracer, log, res, setups, sessions, overhead, peak_mb) -> dict:
    from perfbench.tracing import spark_by_layer

    n = max(len(res["units"]), 1)
    self_t = tracer.self_times()
    by = spark_by_layer(tracer, log)
    z = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_write_bytes": 0,
         "executor_run_s": 0.0, "gc_s": 0.0, "task_skew": 1.0}
    sp = lambda layer, k: by.get(layer, z)[k]  # noqa: E731
    every = lambda k: sum(v[k] for v in by.values())  # noqa: E731
    st = lambda layer: self_t.get(layer, 0.0) / n  # noqa: E731
    epochs = ("dedup_gate.epoch", "bm25_segmented.epoch", "join_relation.epoch")
    m = {
        "session.cold_setup_s": (setups[0], "s"),
        "session.build_s": (statistics.median(s[0] for s in sessions), "s"),
        "session.first_job_s": (statistics.median(s[1] for s in sessions), "s"),
        "bench.self_s": (st("bench.unit") + st("bench.read"), "s"),
        "pipeline.self_s": (st("pipeline"), "s"),
        "readers.call_s": (st("readers"), "s"),
        "relational.plan_s": (st("relational"), "s"),
        "kpi.plan_s": (st("kpi"), "s"),
        "validation.s": (st("validation"), "s"),
        "validation.jobs": (sp("validation", "jobs") / n, "count"),
        "validation.tasks": (sp("validation", "tasks") / n, "count"),
        "writers.s": (st("writers"), "s"),
        "writers.jobs": (sp("writers", "jobs") / n, "count"),
        "writers.shuffle_bytes": (sp("writers", "shuffle_write_bytes") / n, "bytes"),
        "jdbc_upsert.s": (st("jdbc_upsert"), "s"),
        "jdbc_read.s": (st("jdbc_read"), "s"),
        "spark.jobs": (every("jobs") / n, "count"),
        "spark.stages": (every("stages") / n, "count"),
        "spark.tasks": (every("tasks") / n, "count"),
        "spark.shuffle_write_bytes": (every("shuffle_write_bytes") / n, "bytes"),
        "spark.executor_run_s": (every("executor_run_s") / n, "s"),
        "spark.gc_s": (every("gc_s") / n, "s"),
        "spark.task_skew": (max([v["task_skew"] for v in by.values()] or [1.0]), "ratio"),
        "dedup_gate.epoch_s": (st("dedup_gate.epoch"), "s"),
        "bm25_segmented.epoch_s": (st("bm25_segmented.epoch"), "s"),
        "join_relation.epoch_s": (st("join_relation.epoch"), "s"),
        "epoch.jobs": (sum(sp(e, "jobs") for e in epochs) / n, "count"),
        "serve.read_s": (st("serve.read"), "s"),
        "serve.search_s": (st("serve.search"), "s"),
        "serve.jobs": ((sp("serve.read", "jobs") + sp("serve.search", "jobs")) / n, "count"),
        "trace.self_sum_ratio": (sum(self_t.values()) / res["wall"], "ratio"),
        "trace.overhead_s": (overhead, "s"),
        "process.peak_rss_mb": (peak_mb, "MB"),
    }
    counted = {"readers.files": "count", "extract.dedup_ratio": "ratio",
             "jdbc_upsert.rows": "count", "catalyst.analysis_ms": "ms",
             "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
             "stream.add_batch_ms": "ms", "stream.wal_commit_ms": "ms",
             "stream.query_planning_ms": "ms", "dedup_gate.accept_ratio": "ratio",
             "store.files": "count", "store.bytes": "bytes", "serve.files_scanned": "count"}
    counts = wl.layer_counts(n)
    for k, u in counted.items():
        m[k] = (counts.get(k, 0.0), u)
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def bench(args, work: str, inputs: str) -> dict:
    from perfbench import workloads
    from perfbench.tracing import Tracer, read_event_log

    tracer = Tracer()
    cpus = len(os.sched_getaffinity(0))
    wl = {
        "etl_hourly": lambda: workloads.EtlHourly(inputs, work, tracer),
        "store_epochs": lambda: workloads.StoreEpochs(inputs, work, tracer),
    }[args.workload]()
    engine = Engine(work, cpus)
    try:
        setups, sessions = [], []
        for rnd in range(wl.setup_rounds):
            t0 = time.perf_counter()
            sessions.append(engine.build())
            wl.seed(engine.spark, rnd)
            setups.append(time.perf_counter() - t0)
        # warm-up units get negative ids, so their batches never share a key
        # with timed ones
        loop(wl, engine.spark, WARMUP_SECONDS, tracer, -1000)
        if not args.trace:
            res = loop(wl, engine.spark, args.seconds, tracer, 0)
        else:
            # half untraced, then the same loop traced in a session with the
            # event log on: the difference of their medians is the overhead
            plain = loop(wl, engine.spark, args.seconds / 2, tracer, 0)
            engine.build(event_log=f"{work}/eventlog")
            tracer.enabled = True
            wl.patch_layers()
            res = loop(wl, engine.spark, args.seconds / 2, tracer, plain["next"])
            tracer.enabled = False
            tracer.unpatch()
            res["failed"] += plain["failed"]
            res["attempted_plain"] = len(plain["units"]) + len(plain["reads"])
            peak_mb = (engine.jvm_peak_kb() + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024
        failed_units, failed_reads = wl.check(engine.spark)
    finally:
        engine.close()
    failed = res["failed"] + failed_units + failed_reads
    attempted = len(res["units"]) + len(res["reads"]) + res["failed"] + res.get("attempted_plain", 0)
    if args.trace:
        spans = os.path.join(WORK_ROOT, f"spans-{args.workload}-{args.seed}.jsonl")
        tracer.dump(spans)
        print(f"spans written to {spans}", file=sys.stderr)
        overhead = statistics.median(res["units"]) - statistics.median(plain["units"])
        log = read_event_log(f"{work}/eventlog")
        metrics = per_layer(wl, tracer, log, res, setups, sessions, overhead, peak_mb)
    else:
        metrics = end_to_end(setups, res)
    print(f"units={[round(u, 3) for u in res['units']]} reads={len(res['reads'])} "
          f"setups={[round(s, 3) for s in setups]}", file=sys.stderr)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import s3_to_redshift_with_airflow_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package under test is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import gen

    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    inputs = f"{work}/inputs"
    for d in ("inputs", "tmp", "local", "eventlog"):
        os.makedirs(f"{work}/{d}")
    os.environ.update({
        "TMPDIR": f"{work}/tmp",
        "SPARK_LOCAL_DIRS": f"{work}/local",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
    })
    tempfile.tempdir = f"{work}/tmp"
    os.chdir(work)  # Derby and Spark write derby.log / spark-warehouse into the cwd
    try:
        print(f"inputs sha256 {gen.generate(inputs, args.workload, args.seed)}", flush=True)
        result = bench(args, work, inputs)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass  # holds span files, or another run is using it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
