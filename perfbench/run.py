"""icelake benchmark: one workload, one closed-loop client, one process.

    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 5 --trace 0

Runs from the root of a checkout of the repository against
``local[nproc]``. Set-up (Spark session, generated inputs, the
workload's start state and warm-up ops) is billed to
``setup_s``; the loop then runs whole rounds of the op
sequence until ``--seconds`` have passed. Every op's result is checked
against an oracle; a wrong result counts as a failed op.

Output: a ``{"report": ...}`` line with per-op-kind latencies (and
their sample counts), the run's parameters and the software versions,
then as the last line ``{"correct", "attempted", "failed", "metrics"}``
— the end-to-end metrics with ``--trace 0``, the per-layer metrics of
the traced run with ``--trace 1``. The traced run also writes its
spans to ``.perfbench_out/``.

Everything the run writes lives under ``.perfbench_run/<tmp>/`` in the
checkout and is removed at exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import re  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

from workloads import WORKLOADS, dir_files  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


@dataclass
class OpRecord:
    idx: int
    kind: str
    phase: str
    start: float
    end: float
    ok: bool
    error: str | None = None
    keys: set = field(default_factory=set)
    is_query: bool = False
    #: CPU time the Python driver and the JVM spent in the op
    cpu_ms: float = 0.0
    #: filled by the traced run only
    commits: int = 0
    metadata_bytes: int = 0
    data_bytes: int = 0
    jobs: int = 0
    tasks: int = 0
    files_read_ratio: float | None = None
    rows_in: int = 0
    rows_kept: int = 0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Context:
    def __init__(self, spark, warehouse: str, tracer):
        self.spark = spark
        self.warehouse = warehouse
        self.tracer = tracer


def quantile(values: list[float], q: float) -> float:
    """``q``-quantile with the 'exclusive' interpolation of
    ``statistics.quantiles``; the median for q=0.5."""
    if len(values) == 1:
        return values[0]
    if q == 0.5:
        return statistics.median(values)
    return statistics.quantiles(values, n=100)[round(q * 100) - 1]


def cpu_times() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot from
    ``/proc/stat``; (0, 0) where it is missing."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times()`` samples: a run with a high share ran on a contended
    host, and its timings are not comparable with a quiet run's."""
    return 100.0 * (after[0] - before[0]) / max(1, after[1] - before[1])


def process_cpu_s(jvm_pid: int | None) -> float:
    """User + system CPU seconds of this process (the Python driver)
    and of the JVM, all threads. Time the hypervisor gave to other
    guests is not in it."""
    t = os.times()
    total = t.user + t.system
    if jvm_pid is not None:
        with open(f"/proc/{jvm_pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    return total


def peak_rss_mb(jvm_pid: int | None) -> float:
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if jvm_pid is not None:
        try:
            with open(f"/proc/{jvm_pid}/status") as f:
                m = re.search(r"^VmHWM:\s+(\d+) kB", f.read(), flags=re.M)
            kb += int(m.group(1)) if m else 0
        except OSError:
            pass
    return kb / 1024.0


class Runner:
    def __init__(self, ctx, workload, traced: bool, jvm_pid: int | None):
        self.ctx = ctx
        self.workload = workload
        self.traced = traced
        self.jvm_pid = jvm_pid
        self.records: list[OpRecord] = []

    def execute(self, op, phase: str) -> OpRecord:
        tracer, sc = self.ctx.tracer, self.ctx.spark.sparkContext
        idx = len(self.records)
        group = f"perfbench-op-{idx}"
        if self.traced:
            sc.setJobGroup(group, op.kind)
            before = dir_files(self.workload.table.location)
        tracer.phase, tracer.op = phase, idx
        c0 = process_cpu_s(self.jvm_pid)
        t0 = time.perf_counter()
        value = df = error = None
        try:
            value, df = op.run()
        except Exception as e:  # a failed op is counted, the run goes on
            error = f"{type(e).__name__}: {e}"[:500]
        t1 = time.perf_counter()
        cpu_ms = (process_cpu_s(self.jvm_pid) - c0) * 1000.0
        tracer.op = None
        ok = False
        if error is None:
            try:
                ok = bool(op.check(value))
                if not ok:
                    error = "result differs from the oracle"
            except Exception as e:
                error = f"check: {type(e).__name__}: {e}"[:500]
        rec = OpRecord(idx, op.kind, phase, t0, t1, ok, error, op.keys, op.is_query, cpu_ms)
        if self.traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
            with tracer.paused():
                self._bookkeep(rec, op, value, df, before, group)
        self.records.append(rec)
        if phase == "setup" and not ok:
            raise RuntimeError(f"set-up op {op.kind} failed: {error}")
        return rec

    def _bookkeep(self, rec, op, value, df, before, group) -> None:
        """Traced run only: Spark jobs/tasks of the op's job group,
        files the op wrote, files a query read, rows an operator kept."""
        tracker = self.ctx.spark.sparkContext.statusTracker()
        for job_id in tracker.getJobIdsForGroup(group):
            job = tracker.getJobInfo(job_id)
            rec.jobs += 1
            for sid in job.stageIds if job else ():
                stage = tracker.getStageInfo(sid)
                rec.tasks += stage.numTasks if stage else 0
        after = dir_files(self.workload.table.location)
        for p, size in after.items():
            if p in before:
                continue
            sub = os.path.relpath(p, self.workload.table.location).split(os.sep, 1)[0]
            if sub == "metadata":
                rec.metadata_bytes += size
                rec.commits += bool(re.fullmatch(r"v\d+\.metadata\.json", os.path.basename(p)))
            elif sub == "data":
                rec.data_bytes += size
        if op.table is not None and df is not None and rec.ok:
            rec.files_read_ratio = len(df.inputFiles()) / max(1, op.table.files().count())
        if op.kept is not None and rec.ok:
            rec.rows_in = op.rows_in
            rec.rows_kept = op.kept(value, df)

    def loop(self, seconds: float) -> tuple[list[OpRecord], float, list[float]]:
        """A warm-up of one op of each of the workload's ``WARMUP``
        kinds, billed to set-up: the first op of a kind runs up to three
        times as long (JIT, codegen caches, Python worker pool). Then
        whole rounds until ``seconds`` have passed: a run's mix of op
        kinds is the same on a fast and a slow machine. Returns the loop
        ops, the loop's wall time, and the stored-bytes ratio sampled
        after every op."""
        for kind in self.workload.WARMUP:
            self.execute(self.workload.make(kind), "setup")
        self.setup_end = time.perf_counter()
        self.cpu_loop = [cpu_times()]
        ops, ratios = [], []
        t0 = time.perf_counter()
        while True:
            for kind in self.workload.ROUND:
                ops.append(self.execute(self.workload.make(kind), "loop"))
                ratios.append(self.workload.events.stored_ratio())
            if time.perf_counter() - t0 >= seconds:
                break
        loop_s = time.perf_counter() - t0
        self.cpu_loop.append(cpu_times())
        return ops, loop_s, ratios


def spark_conf(workdir: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')} -XX:-UsePerfData",
    }


def stop_spark(spark) -> None:
    """Stop Spark, then the JVM the PySpark gateway started, and wait
    for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, workdir: str) -> tuple[dict, dict]:
    from iceberg_rs_spark.session import get_spark

    import layers
    from spans import Tracer

    cpu_start = cpu_times()
    nproc = len(os.sched_getaffinity(0))
    tracer = Tracer(enabled=bool(args.trace))
    t0 = time.perf_counter()
    spark = get_spark(cpus=nproc, extra_conf=spark_conf(workdir))
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = getattr(getattr(spark.sparkContext, "_gateway", None), "proc", None)
    jvm_pid = jvm_pid.pid if jvm_pid is not None else None
    try:
        if args.trace:
            layers.install(tracer, spark)
        ctx = Context(spark, os.path.join(workdir, "warehouse"), tracer)
        workload = WORKLOADS[args.workload](ctx, args.seed)
        runner = Runner(ctx, workload, bool(args.trace), jvm_pid)
        workload.setup(lambda op: runner.execute(op, "setup"))
        loop_ops, loop_s, ratios = runner.loop(args.seconds)
        setup_s = runner.setup_end - T_PROCESS
        verify = workload.verify_op(loop_ops)
        verify_failed = 0
        if verify is not None:
            verify_failed = 0 if runner.execute(verify, "verify").ok else 1
        gauges = layers.gauges(tracer, workload.table) if args.trace else {}
        versions = {
            "python": platform.python_version(),
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        }
        rss = peak_rss_mb(jvm_pid)
    finally:
        tracer.uninstall()
        stop_spark(spark)

    lat = [r.ms for r in loop_ops]
    failed = sum(not r.ok for r in loop_ops) + verify_failed
    attempted = len(loop_ops) + (verify is not None)
    e2e = {
        "setup_s": (setup_s, "s"),
        "cpu_ms_per_op": (sum(r.cpu_ms for r in loop_ops) / len(loop_ops), "ms"),
        "stored_bytes_per_user_byte": (statistics.median(ratios), "ratio"),
    }
    by_kind: dict[str, list[float]] = {}
    for r in loop_ops:
        by_kind.setdefault(r.kind, []).append(r.ms)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "versions": versions,
        "params": workload.params(),
        "session_start_s": session_s,
        "loop_s": loop_s,
        "failed_op_ratio": failed / attempted,
        "setup_ops_ms": {
            k: round(sum(r.ms for r in runner.records if r.phase == "setup" and r.kind == k))
            for k in dict.fromkeys(r.kind for r in runner.records if r.phase == "setup")
        },
        "errors": [f"{r.kind}#{r.idx}: {r.error}" for r in runner.records if r.error][:10],
        "ops": {
            k: {
                "n": len(v),
                "ms_p50": quantile(v, 0.5),
                **({"ms_p90": quantile(v, 0.9)} if len(v) >= 10 else {}),
            }
            for k, v in sorted(by_kind.items())
        },
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        # wall-clock figures: under host load their spread over ten
        # runs exceeds any regression bound (README, Steadiness)
        "ops_per_s": {"value": len(loop_ops) / loop_s, "unit": "1/s"},
        "op_ms_p50": {"value": quantile(lat, 0.5), "unit": "ms", "n": len(lat)},
        "op_ms_p90": {"value": quantile(lat, 0.9), "unit": "ms", "n": len(lat)},
        "loop_ops_ms": [[r.kind, round(r.ms, 1)] for r in loop_ops],
        "peak_rss_mb": {"value": rss, "unit": "MB"},
        "host_steal_pct": {
            "setup": steal_pct(cpu_start, runner.cpu_loop[0]),
            "loop": steal_pct(*runner.cpu_loop),
        },
    }
    metrics = e2e
    if args.trace:
        per_layer = layers.per_layer(tracer, runner.records, session_s, gauges)
        report["bookkeeping_s"] = tracer.paused_s
        report["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        path = os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-seed{args.seed}.json")
        tracer.dump(path)
        report["trace_file"] = os.path.relpath(path, ROOT)
        metrics = {k: per_layer[k] for k in layers.PER_LAYER}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return report, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import iceberg_rs_spark.session  # noqa: F401
        import iceberg_rs_spark.sources.icelake  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    # SIGTERM unwinds like an exception, so the finally below cleans up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(ROOT, ".perfbench_run")
    os.makedirs(base, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(workdir, sub))
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    try:
        report, result = run(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
