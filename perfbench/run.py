"""Benchmark of record for the delta_rs_spark engine.

    python3 perfbench/run.py --workload log_replay --seed 1 --seconds 5 --trace 0

One closed-loop client in one driver process: each operation starts only
after the previous one returned, against a Spark session on
``local[<cores>]``. A run generates its tables and operations from
``--seed`` (see ``gen.py``), builds the tables through the engine, warms the
JVM with one operation of every kind in the workload's mix and plain
collects, then runs the mix for ``--seconds``.
Apart from the window, every operation kind runs until it has its quota
of samples (``gen.MIN_SAMPLES``), so each workload reports every metric.
The probe kinds (``gen.PROBE_KINDS``: open and time travel) follow every
unit of another kind throughout, so their samples cover the whole run.
Every answer is checked; a wrong answer or an exception counts as a failed
operation and its latency is kept. ``setup_s`` is the engine's set-up only:
the Spark session start, the table builds and the warm-up, not the
generation of the inputs and answers.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (``tracing.py``) and writes its spans under
``.perfbench_out/``. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it,
``REPORT {...}``, holds every figure of the run (``overhead.py`` compares
the two modes with it).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import time
import traceback
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

WARM_COLLECTS = 3  # plain Spark collects on top of one operation of each kind
DRIVER_MEM = "2g"


def _environment(work: Path) -> None:
    """Fix the settings a run depends on, before Spark or the engine load.
    Spark's Python workers import ``delta_rs_spark`` (footer statistics on
    write), so the checkout must be on their ``PYTHONPATH`` too."""
    cpus = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(tmp),
        PYTHONPATH=os.pathsep.join(
            [str(ROOT), *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
        ),
    )
    sys.path.insert(0, str(ROOT))


def _spark_conf(work: Path) -> dict[str, str]:
    return {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
    }


def _rss_mb(field: str) -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"{field} missing from /proc/self/status")


def _read_bytes() -> int:
    """Bytes this process has read through read() calls (``rchar``): on an
    object store, the bytes an operation would fetch."""
    with open("/proc/self/io") as f:
        for line in f:
            if line.startswith("rchar:"):
                return int(line.split()[1])
    raise RuntimeError("rchar missing from /proc/self/io")


def _reset_peak_rss() -> None:
    """Restart the kernel's peak-RSS count at the current RSS, so the peak
    covers the measured operations and not data generation."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass  # the peak then also covers set-up


def _settle(spark) -> None:
    """Collect the JVM's garbage now, so that a collection (which takes
    every core) does not land in the operations measured next."""
    spark.sparkContext._jvm.System.gc()


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=60)


class Runner:
    """Runs, times and checks operations, keeping every sample."""

    def __init__(self, bench, tracer=None):
        self.bench = bench
        self.tracer = tracer
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.read: dict[str, list[int]] = defaultdict(list)  # bytes read per measured op
        self.tries: dict[str, int] = defaultdict(int)  # measured attempts per kind
        self.kinds: dict[int, str] = {}  # measured op id -> kind
        self.attempted = 0
        self.failed = 0
        self.failed_kinds: dict[str, int] = defaultdict(int)
        self._ids = 0

    def run(self, op, measured: bool = True) -> None:
        """Run ``op``; a measured one adds its latency to the samples of
        its kind, whether it returned, raised or answered wrong."""
        self.attempted += 1
        self.tries[op.kind] += measured
        op_id = self._ids
        self._ids += 1
        tracing = self.tracer is not None and measured
        try:
            call = self.bench.start(op)
            if tracing:
                self.bench.spark.sparkContext.setJobGroup(f"op{op_id}", op.kind)
                self.tracer.op = op_id
            read0 = _read_bytes()
            t0 = time.perf_counter()
            try:
                result = call()
            finally:
                elapsed = time.perf_counter() - t0
                if tracing:
                    self.tracer.op = None
                if measured:
                    self.samples[op.kind].append(elapsed * 1000.0)
                    self.read[op.kind].append(_read_bytes() - read0)
                    self.kinds[op_id] = op.kind
            if tracing:
                self._job_counts(op_id)
            self.bench.check(op, self.bench.answer(op, result))
        except Exception:
            self.failed += 1
            self.failed_kinds[op.kind] += 1
            print(f"operation {op.kind} failed:\n{traceback.format_exc()}", file=sys.stderr)

    def _job_counts(self, op_id: int) -> None:
        """Tasks run and input bytes read by the operation's Spark jobs."""
        sc = self.bench.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        tasks = read = 0
        for job in tracker.getJobIdsForGroup(f"op{op_id}"):
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                data = store.lastStageAttempt(stage)
                tasks += data.numCompleteTasks()
                read += data.inputBytes()
        self.tracer.op = op_id
        self.tracer.count("dataplane.tasks", tasks)
        self.tracer.count("dataplane.bytes_read", read)
        self.tracer.op = None
        sc.setJobGroup("setup", "untraced")


def fill(runner: Runner, stream, quotas: dict[str, int], kinds, max_tries: int = 2) -> None:
    """Run operations of ``kinds`` until each has its quota of samples: in
    rounds of one unit (``OpStream.unit``, with its probes) per kind still
    short, so kinds interleave and every lookup follows its write. A kind
    gives up after ``max_tries`` times its quota of attempts, so one whose
    preparation keeps failing cannot hold the run."""
    def short(kind: str) -> bool:
        return (kind in quotas and len(runner.samples[kind]) < quotas[kind]
                and runner.tries[kind] < max_tries * quotas[kind])

    while any(short(k) for k in kinds):
        for kind in kinds:
            # checked before each unit: a write's unit may have filled the
            # lookup quota already
            if short(kind):
                for op in stream.unit(kind, probes=True):
                    runner.run(op)


def _metrics(runner: Runner, bench, profile, setup_s: float, session_ms: float,
             peak_rss_mb: float) -> tuple[dict, dict, dict]:
    """End-to-end metrics, the metrics reported but not bounded, and the
    per-kind latency summary. A kind without samples (only after failures)
    reads 0."""
    import percentiles as stats

    s = runner.samples

    def p50(kind: str) -> float:
        return stats.p50(s[kind]) if s[kind] else 0.0

    def tail(kind: str) -> float:
        return stats.tail(s[kind])[0] if s[kind] else 0.0

    def read_kib(kind: str) -> float:
        return stats.p50(runner.read[kind]) / 1024.0 if runner.read[kind] else 0.0

    # one round of the write mix: one append, one merge, one delete
    per_kind = {k: sum(v) / len(v) for k, v in bench.bytes_written.items() if v}
    user = {k: sum(v) / len(v) for k, v in bench.user_bytes.items() if v}
    bounded = {
        "setup_s": (setup_s, "s"),
        "driver_peak_rss_mb": (peak_rss_mb, "MB"),
        "open_read_kib": (read_kib("open"), "KiB"),
        "time_travel_read_kib": (read_kib("time_travel"), "KiB"),
        "bytes_written_per_user_byte": (
            sum(per_kind.values()) / sum(user.values()) if sum(user.values()) else 0.0, "ratio"),
    }
    # a kind's median, not its mean, so that one slow sample of a kind that
    # runs few times does not move the figure
    ms_per_op = sum(w * p50(k) for k, w in profile.mix().items())
    reported = {
        "open_p50_ms": (p50("open"), "ms"),
        "time_travel_p50_ms": (p50("time_travel"), "ms"),
        "ops_per_s": (1000.0 / ms_per_op if ms_per_op else 0.0, "ops/s"),
        "error_rate": (runner.failed / runner.attempted, "failed/attempted"),
        "open_tail_ms": (tail("open"), "ms"),
        "refresh_p50_ms": (p50("refresh"), "ms"),
        **{f"{k}_p50_ms": (p50(k), "ms") for k in
           ("scan_full", "scan_pruned", "scan_skip", "append", "merge", "delete", "lookup")},
        "append_tail_ms": (tail("append"), "ms"),
    }
    # every kind's median and tail; the tail is the highest percentile with
    # ten samples beyond it, given with its rank
    kinds = {}
    for k, v in s.items():
        if not v:
            continue
        t, pct = stats.tail(v)
        kinds[k] = {"n": len(v), "p50_ms": stats.p50(v), "mean_ms": sum(v) / len(v),
                    "tail_ms": t, "tail_pct": pct, "read_kib": read_kib(k),
                    "samples_ms": [round(x, 3) for x in v]}
    detail = {
        "reported": {k: v for k, (v, _u) in reported.items()},
        "session_start_ms": session_ms,
        "failed_kinds": dict(runner.failed_kinds),
        "bytes_written": {k: list(v) for k, v in bench.bytes_written.items()},
        "user_bytes": {k: list(v) for k, v in bench.user_bytes.items()},
        "kinds": kinds,
    }
    return bounded, reported, detail


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import gen

    if args.workload not in gen.WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(gen.WORKLOADS)}")
    if not (ROOT / "delta_rs_spark" / "__init__.py").is_file():
        print(f"engine package delta_rs_spark not found under {ROOT}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _environment(work)
    bench = None
    try:
        stream = gen.OpStream(args.workload, args.seed)
        import engine
        import tracing
        from delta_rs_spark.session import get_spark

        bench = engine.Bench(work / "tables", stream)
        bench.prepare()
        # set-up time: the engine's session start, table builds and warm-up
        t_setup = time.perf_counter()
        phases: dict[str, float] = {}
        bench.setup(lambda: get_spark("perfbench", extra_conf=_spark_conf(work)), phases)
        spark = bench.spark
        t0 = time.perf_counter()
        tracer = tracing.Tracer() if args.trace else None
        runner = Runner(bench, tracer)
        # a Spark operation's first run compiles code its later runs reuse.
        # Only the mix's kinds warm up: the others run cold, once each, in
        # the measured phase, so that every layer reports; their steady
        # figures come from the workload whose mix they are in.
        mix = stream.profile.mix()
        for kind in mix:
            if kind != "lookup":
                for op in stream.unit(kind):
                    runner.run(op, measured=False)
        for _ in range(WARM_COLLECTS):
            spark.range(200_000).selectExpr("sum(id)").collect()
        bench.align_checkpoint()
        phases["warmup"] = time.perf_counter() - t0
        setup_s = time.perf_counter() - t_setup
        session_ms = phases["session"] * 1000.0
        tables = bench.sizes()

        if tracer is not None:
            tracer.install(spark)
        stream.restart_cycles()
        _reset_peak_rss()
        # set-up objects are never garbage: keep the collector off them
        gc.collect()
        gc.freeze()
        quotas = gen.MIN_SAMPLES

        # the kinds outside the mix run before it, straight after the
        # warm-up, so that the mix's own kinds share no time with them; the
        # probes follow every unit of both phases
        _settle(spark)
        t_window = time.perf_counter()
        fill(runner, stream, quotas, [k for k in gen.KINDS if k not in mix])
        _settle(spark)
        t_mix = time.perf_counter()
        while time.perf_counter() - t_mix < args.seconds:
            for op in stream.next_unit():
                runner.run(op)
        fill(runner, stream, quotas, list(mix))
        # a time travel by timestamp costs and reads about twice one by
        # version: end on whole cycles of draws, so every run has the same
        # mix of them
        while runner.tries["time_travel"] % gen.TIME_TRAVEL_CYCLE:
            for op in stream.unit("time_travel"):
                runner.run(op)
        elapsed = time.perf_counter() - t_window
        peak_rss = _rss_mb("VmHWM")
        if tracer is not None:
            tracer.uninstall()

        e2e, reported, detail = _metrics(runner, bench, stream.profile, setup_s, session_ms,
                                         peak_rss)
        detail["setup_phases_s"] = phases
        detail["tables"] = tables
        if tracer is not None:
            measured = set(runner.kinds)
            layer = tracer.layer_metrics(measured, len(measured), elapsed)
            layer["session.start_ms"] = (session_ms, "ms")
            detail["layer_self_ms_by_kind"] = tracer.layer_self_by_kind(runner.kinds)
            out = ROOT / ".perfbench_out"
            out.mkdir(exist_ok=True)
            tracer.write(out / f"spans-{args.workload}-seed{args.seed}.jsonl.gz")
            metrics = layer
        else:
            metrics = e2e
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if bench is not None and bench.spark is not None:
            _stop_spark(bench.spark)
        shutil.rmtree(work, ignore_errors=True)

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "end_to_end": {k: v for k, (v, _u) in e2e.items()},
        **detail,
    }
    if args.trace:
        report["per_layer"] = {k: v for k, (v, _u) in metrics.items()}
    for name, (value, unit) in metrics.items():
        print(f"{name:40s} {value:14.4f} {unit}")
    if not args.trace:
        print("# reported, not bounded (see perfbench/README.md)")
        for name, (value, unit) in reported.items():
            print(f"{name:40s} {value:14.4f} {unit}")
    print("REPORT " + json.dumps(report))
    print(
        json.dumps(
            {
                "correct": runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
