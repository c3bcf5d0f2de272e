"""Repository benchmark: one closed-loop client, one process, local[N].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads are defined in ``workloads.py``. A run:

1. computes the DuckDB oracle answers (cached per checkout, outside
   ``setup_s``);
2. starts a SparkSession whose warehouse, local dirs and temp dirs live in
   a fresh directory under ``perfbench/.runs`` (deleted at exit), then runs
   the workload's warm-up ops; both together are ``setup_s``;
3. runs ``ceil(--seconds / PASS_SECONDS)`` seeded passes of the workload's
   op set, one op at a time; every read is checked against the oracle and
   every failure or wrong answer is counted, never retried.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` the run measures the same passes untraced, then replays
the first pass traced, reports per-layer self times (see ``spans.py``) and
the tracing overhead, and writes its spans and the AQE-final plans to
``perfbench/results/``. The testdata scale-factor directories are read, never
written.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The engine gets one vCPU fewer than the host has (at most 3), which leaves
# the JVM's compiler and GC threads and the Python client a vCPU of their own:
# the queries are small enough at sf0.1 that local[3] runs a pass no slower
# than local[4] on a 4-vCPU host.
CPUS_MAX = 3
# A fixed-size heap (-Xms = -Xmx): the JVM's adaptive sizing otherwise grows
# the heap differently from run to run, and with it when collections land.
HEAP = "3g"
# --seconds sets the measured work, not a deadline: a run measures
# ceil(seconds / PASS_SECONDS) whole passes. A steady pass of either workload
# takes about this long on a quiet 4-vCPU host. A fixed pass count keeps the
# measured work, and the point on the JIT warm-up curve it is taken at, the
# same in every run and after a later change makes passes faster.
PASS_SECONDS = 10


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _steal_pct(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    return 100.0 * delta[7] / max(1, sum(delta))


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Runner:
    def __init__(self, spark, workload, tracer=None) -> None:
        self.spark = spark
        self.workload = workload
        self.tracer = tracer
        self.layer = {"jobs": 0, "shuffle_bytes": 0, "spill_bytes": 0, "output_rows": 0,
                      "bytes_written": 0, "files_written": 0}
        self.plans: dict[str, str] = {}

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def execute(self, op, op_id: str) -> tuple[float, bool]:
        """Run one op; return (latency, answer was correct)."""
        sc = self.spark.sparkContext
        if self.tracer:
            self.tracer.op_id = op_id
            sc.setJobGroup(op_id, op.label)
        df = None
        t0 = time.perf_counter()
        try:
            with self._span("op"):
                if op.kind == "write":
                    with self._span(op.layer):
                        op.write()
                    ok = True
                else:
                    with self._span(op.layer):
                        df = op.build()
                    if self.tracer:
                        with self._span("plans.plan"):
                            df._jdf.queryExecution().executedPlan()  # noqa: SLF001
                    with self._span("exec"):
                        value = op.fetch(df)
                    ok = value == op.expected
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            print(f"op {op_id} failed: {type(exc).__name__}: {exc}".splitlines()[0],
                  file=sys.stderr)
            ok, df = False, None
        latency = time.perf_counter() - t0
        print(f"op {op_id} {op.kind} {latency:.3f}s {'ok' if ok else 'WRONG'}", file=sys.stderr)
        if self.tracer:
            self._after_traced(op, op_id, df)
        return latency, ok

    def _after_traced(self, op, op_id: str, df) -> None:
        """Layer counters that need extra work: kept outside op latency."""
        from data_engineering_zoomcamp_my_test_spark.plans.metrics import run_with_metrics
        from data_engineering_zoomcamp_my_test_spark.plans.sql import explain_str

        sc = self.spark.sparkContext
        self.layer["jobs"] += len(sc.statusTracker().getJobIdsForGroup(op_id))
        sc.setJobGroup(f"{op_id}-probe", "metrics probe")
        if op.kind == "write":
            from workloads import part_files

            size, count = part_files(op.target)
            self.layer["bytes_written"] += size
            self.layer["files_written"] += count
        elif df is not None:
            with self._span("plans.metrics"):
                m = run_with_metrics(df)
            self.layer["shuffle_bytes"] += m.get("shuffle bytes written", 0)
            self.layer["spill_bytes"] += m.get("spill size", 0)
            self.layer["output_rows"] += m.get("number of output rows", 0)
            if op.layer == "operators.build":
                self.plans[op.label] = explain_str(df)
        self.tracer.op_id = None

    def run_ops(self, ops, tag: str) -> list[tuple[str, str, float, bool]]:
        return [(op.kind, op.label, *self.execute(op, f"{tag}-{i}-{op.label}"))
                for i, op in enumerate(ops)]

    def measure(self, passes: int):
        """Run ``passes`` whole passes; return records, stored ratios, wall."""
        records, stored = [], []
        t0 = time.perf_counter()
        for n in range(passes):
            records += self.run_ops(self.workload.pass_ops(self.spark, n), f"p{n}")
            stored.append(self.workload.stored_ratio())
        return records, stored, time.perf_counter() - t0


def _summary(records, wall: float) -> dict[str, float]:
    """Throughput over every measured op; the latency figures of a kind are
    taken over its ops of each op's best latency across the passes."""
    def lat(kind: str) -> list[float]:
        best: dict[str, float] = {}
        for k, label, t, _ in records:
            if k == kind:
                best[label] = min(t, best.get(label, t))
        return list(best.values())

    out = {
        "throughput_ops_s": len(records) / wall,
        "read_geomean_s": statistics.geometric_mean(lat("read")),
        "read_p50_s": statistics.median(lat("read")),
        "read_p75_s": statistics.quantiles(lat("read"), n=4, method="inclusive")[2],
    }
    for kind in ("readback", "write"):
        if lat(kind):
            out[f"{kind}_p50_s"] = statistics.median(lat(kind))
    return out


# The JSON result carries these. read_geomean_s weighs every read the same,
# as TPC-H's power metric does, and averages out the single-query noise that
# read_p50_s and read_p75_s each take from the one or two reads they fall
# between. readback_p50_s, write_p50_s and bytes_stored_per_input_byte exist
# on ingest-adhoc only, and peak_rss_mb follows how much heap the JVM touched
# before it collected more than the workload. Their run-to-run spread is
# above any usable bound, or they lack a workload, so they are text only.
E2E_UNITS = {"setup_s": "s", "throughput_ops_s": "1/s", "read_geomean_s": "s"}
TEXT_UNITS = {"read_p50_s": "s", "read_p75_s": "s", "readback_p50_s": "s", "write_p50_s": "s",
              "peak_rss_mb": "MB"}


def main(argv: list[str]) -> int:
    args = _parse(argv)
    # SIGTERM unwinds through the finally blocks that stop the JVM and
    # delete the run directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(1, ROOT)
    try:
        import __spark_entry__
        from workloads import PACKAGE, WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    testdata = os.path.dirname(__spark_entry__._SF0001)  # noqa: SLF001 - the repo's data root
    # Engine knobs come from the environment; pin them to their defaults.
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]

    os.makedirs(os.path.join(HERE, ".runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=os.path.join(HERE, ".runs"))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    tempfile.tempdir = None
    spark = None
    try:
        workload = WORKLOADS[args.workload](testdata, run_dir, args.seed)
        for d in workload.input_dirs():
            if not os.path.isdir(d):
                print(f"perfbench: testdata directory {d} is missing", file=sys.stderr)
                return 2
        workload.prepare()
        spark, result = _run(args, workload, run_dir, tmp, PACKAGE)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    for line in result.pop("text"):
        print(line)
    print(json.dumps(result))
    return 0


def _stop(spark) -> None:
    """Stop the session and the Spark JVM, and wait for the JVM to exit
    (``spark.stop()`` alone leaves the JVM running until Python exits)."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None  # noqa: SLF001


def _run(args, workload, run_dir: str, tmp: str, package: str):
    from data_engineering_zoomcamp_my_test_spark.session import EngineConfig, get_spark

    cpus = min(CPUS_MAX, max(1, len(os.sched_getaffinity(0)) - 1))
    t0 = time.perf_counter()
    spark = get_spark(EngineConfig(
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        app_name=f"perfbench-{workload.name}",
        driver_memory=HEAP,
        extra={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP}",
        },
    ))
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    runner = Runner(spark, workload)
    warm = runner.run_ops(workload.pass_ops(spark, -1), "warm")
    setup_s = time.perf_counter() - t0
    warm_failed = sum(not ok for *_, ok in warm)

    cpu0 = _cpu_times()
    passes = max(1, math.ceil(args.seconds / PASS_SECONDS))
    records, stored, wall = runner.measure(passes)
    steal = _steal_pct(cpu0, _cpu_times())
    failed = sum(not ok for *_, ok in records)
    e2e = {"setup_s": setup_s, **_summary(records, wall)}
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    e2e["peak_rss_mb"] = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
    text = [f"{k} {v:.6g} {E2E_UNITS.get(k) or TEXT_UNITS[k]}" for k, v in e2e.items()]
    if stored[0] is not None:
        text.append(f"bytes_stored_per_input_byte {statistics.median(stored):.6g} B/B")
    text.append(f"error_rate {failed / len(records):.6g} ({failed} of {len(records)} measured "
                f"ops, {passes} passes, {wall:.3f} s, local[{cpus}], steal {steal:.2f}%)")
    attempted, failed = len(records) + len(warm), failed + warm_failed
    if args.trace:
        metrics, traced_records = _traced(
            spark, workload, passes, wall, records, start_s, setup_s - start_s, steal,
            package, args)
        attempted += len(traced_records)
        failed += sum(not ok for *_, ok in traced_records)
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    return spark, {"text": text, "correct": failed == 0, "attempted": attempted,
                   "failed": failed, "metrics": metrics}


def _traced(spark, workload, passes, untraced_wall, untraced_records,
            start_s, warmup_s, steal, package, args):
    """Replay the first pass once more with spans on; report layer figures.

    One traced pass keeps a traced run inside the time budget: its
    ``run_with_metrics`` probes execute every read a second time. Tracing
    overhead compares it with the last untraced pass, the nearest point on
    the JIT warm-up curve."""
    from data_engineering_zoomcamp_my_test_spark import lineage
    from data_engineering_zoomcamp_my_test_spark.sources import tables

    from spans import Tracer, instrument

    tracer = Tracer()
    runner = Runner(spark, workload, tracer)
    cpu0 = _cpu_times()
    with instrument(tracer, package, {
        "sources.load_table": tables.load_table,
        "sources.register_tables": tables.register_tables,
        "lineage.cut": lineage.cut,
    }):
        records, _, _ = runner.measure(1)
    steal_traced = _steal_pct(cpu0, _cpu_times())
    last_untraced = untraced_records[-len(records):]
    overhead = sum(r[2] for r in records) / sum(r[2] for r in last_untraced) - 1

    self_s, calls = tracer.self_times(), tracer.calls()
    layer = runner.layer
    values = {
        "session.start_s": (start_s, "s"),
        "session.warmup_s": (warmup_s, "s"),
        "sources.load_table.calls": (calls.get("sources.load_table", 0), "count/pass"),
        "sources.load_table.s": (self_s.get("sources.load_table", 0.0), "s/pass"),
        "sources.register_tables.s": (self_s.get("sources.register_tables", 0.0), "s/pass"),
        "plans.plan_s": (self_s.get("plans.plan", 0.0), "s/pass"),
        "operators.build_s": (self_s.get("operators.build", 0.0), "s/pass"),
        "lineage.cut.calls": (calls.get("lineage.cut", 0), "count/pass"),
        "lineage.cut.s": (self_s.get("lineage.cut", 0.0), "s/pass"),
        "plans.metrics.exec_s": (self_s.get("plans.metrics", 0.0), "s/pass"),
        "plans.metrics.jobs": (layer["jobs"], "count/pass"),
        "plans.metrics.shuffle_bytes": (layer["shuffle_bytes"], "B/pass"),
        "plans.metrics.spill_bytes": (layer["spill_bytes"], "B/pass"),
        "plans.metrics.output_rows": (layer["output_rows"], "rows/pass"),
        **{f"sinks.{fn}.s": (self_s.get(f"sinks.{fn}", 0.0), "s/pass")
           for fn in ("save_table", "upsert_table", "land_sorted", "compact_parquet")},
        "sinks.bytes_written": (layer["bytes_written"], "B/pass"),
        "sinks.files_written": (layer["files_written"], "count/pass"),
        "host.cpus": (len(os.sched_getaffinity(0)), "count"),
        "host.steal_pct": ((steal + steal_traced) / 2, "%"),
        "trace.overhead_pct": (100.0 * overhead, "%"),
    }
    record = {
        "workload": workload.name, "seed": args.seed, "untraced_passes": passes,
        "untraced_wall_s": untraced_wall, "host_steal_pct": values["host.steal_pct"][0],
        "metrics": {k: v for k, (v, _) in values.items()},
        "plans": runner.plans, "spans": tracer.spans,
    }
    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"trace-{workload.name}-seed{args.seed}.json"), "w") as f:
        json.dump(record, f)
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}, records


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
