"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload graph_crud_mix --seed 1 --seconds 15 --trace 0

Run from the repository root. The run makes its inputs from the seed,
starts one ``local[nproc]`` Spark session, sets the workload up
``SETUP_REPS`` times (``setup_s`` = session start + median set-up),
runs the workload's warm-up passes, then timed passes until ``--seconds``
is used up (at least the workload's ``min_passes``), and finally checks
every timed operation's output. Throughput and CPU per op are medians over the timed passes, so a
burst of load from elsewhere on the host moves them less.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records spans
around every call into a layer, attaches each Spark job to its span, and
prints the per-layer metrics instead. The last line of stdout is the
result; everything else (Spark's log, the environment record) goes to
stderr. Per-run details and the span file are kept in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPS = 3

CRUD_KINDS = ("read", "write", "traverse")


def per_layer_spec() -> list[dict]:
    """Every per-layer metric, in output order, with unit and direction."""
    from spans import COUNTERS, LAYERS
    from workloads import ANALYTICS_ENTRIES

    units = {"calls": "count", "ms": "ms", "jobs": "count", "stages": "count",
             "tasks": "count", "executor_ms": "ms", "driver_only_ms": "ms",
             "stage_wait_ms": "ms", "shuffle_mb": "MB", "input_mb": "MB", "gc_ms": "ms"}
    spec = [
        {"name": f"{layer}.{c}", "unit": units[c],
         "better": "higher" if c == "calls" else "lower"}
        for layer in LAYERS for c in COUNTERS
    ]
    spec += [
        {"name": "graph.traversal.jobless_frac", "unit": "frac", "better": "higher"},
        {"name": "graph.api.job_flushes", "unit": "frac", "better": "lower"},
    ]
    for e in ANALYTICS_ENTRIES:
        spec += [
            {"name": f"relational.{e}.ms", "unit": "ms", "better": "lower"},
            {"name": f"relational.{e}.jobs", "unit": "count", "better": "lower"},
        ]
    spec += [
        {"name": f"crud.{k}_p50_ms", "unit": "ms", "better": "lower"} for k in CRUD_KINDS
    ]
    spec += [
        {"name": "proc.py_cpu_s", "unit": "s", "better": "lower"},
        {"name": "proc.jvm_cpu_s", "unit": "s", "better": "lower"},
        {"name": "proc.jit_cpu_s", "unit": "s", "better": "lower"},
        {"name": "proc.workers_cpu_s", "unit": "s", "better": "lower"},
        {"name": "proc.py_rss_mb", "unit": "MB", "better": "lower"},
        {"name": "proc.jvm_rss_mb", "unit": "MB", "better": "lower"},
        {"name": "trace.ops_per_s", "unit": "1/s", "better": "higher"},
        {"name": "trace.harvest_s", "unit": "s", "better": "lower"},
    ]
    return spec


END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
}


def parse_args(argv=None):
    from workloads import SIZES, WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full",
                   help="input size; 'tiny' is for the benchmark's self-test")
    return p.parse_args(argv)


def _start_spark(cpus: int, work: Path, trace: bool):
    from graphdatabases_spark import get_spark

    conf = {
        "spark.memory.offHeap.size": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # A fixed heap and young generation: without them G1 resizes the
        # heap adaptively and the JVM's peak RSS wanders by +-20% between
        # identical runs. Fixed compiler threads: see procstat.
        "spark.driver.extraJavaOptions": (
            f"-Xms2g -Xmn256m -XX:-UseDynamicNumberOfCompilerThreads "
            # no /tmp/hsperfdata_<user> file
            f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
        ),
    }
    if trace:  # keep every job and stage of the run in the status store
        conf.update({"spark.ui.retainedJobs": "1000000",
                     "spark.ui.retainedStages": "1000000"})
    spark = get_spark(
        app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
        driver_memory="2g", extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM and the workers it forked to exit."""
    from procstat import alive, descendants

    gw = spark.sparkContext._gateway
    proc = gw.proc
    forked = descendants(proc.pid)
    spark.stop()
    gw.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while forked and time.monotonic() < deadline:
        forked = [p for p in forked if alive(p)]
        time.sleep(0.1)


def run_ops(ops, tracer) -> float:
    t_pass = time.perf_counter()
    for op in ops:
        with tracer.op(op.name):
            t0 = time.perf_counter()
            try:
                op.run(tracer)
            except Exception as e:  # a failed op is counted, the run goes on
                op.error = repr(e)[:500]
                traceback.print_exc(file=sys.stderr)
            op.latency_s = time.perf_counter() - t0
    return time.perf_counter() - t_pass


class _Background(threading.Thread):
    """Runs ``fn`` in a thread; ``join`` re-raises what it raised."""

    def __init__(self, fn):
        super().__init__(daemon=True)
        self.fn, self.exc = fn, None
        self.start()

    def run(self):
        try:
            self.fn()
        except BaseException as e:  # handed to the joining thread
            self.exc = e

    def join(self, timeout=None):
        super().join(timeout)
        if self.exc is not None:
            raise self.exc


def _git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _calibration(spark, cpus: int) -> dict:
    """bench.py's two environment probes, one sample each."""
    t0 = time.perf_counter()
    spark.range(0, 300_000_000, 1, cpus).selectExpr("sum(id % 1000003) AS s").collect()
    jvm = time.perf_counter() - t0
    t0 = time.perf_counter()
    sum(i * i for i in range(10_000_000))
    return {"jvm_agg_300m": jvm, "python_loop_10m": time.perf_counter() - t0}


def run(args, work: Path) -> dict:
    (work / "tmp").mkdir(parents=True)
    # Keep every scratch file of Python, the JVM and Spark inside the run's
    # work directory.
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    tempfile.tempdir = None
    sys.path.insert(0, str(ROOT))

    import pyspark

    import graphdatabases_spark  # noqa: F401  (fails fast outside a checkout)
    from procstat import ProcStat
    from spans import Tracer
    from workloads import WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    marks = {"start": time.perf_counter()}
    tracer = Tracer(None, enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](None, tracer, args.seed, args.size, str(work / "data"))
    wl.make_inputs()

    t0 = time.time()
    spark = _start_spark(cpus, work, bool(args.trace))
    session_s = time.time() - t0
    tracer.record("session", t0, t0 + session_s)
    tracer.spark = wl.spark = spark
    try:
        proc = ProcStat(spark.sparkContext._gateway.proc.pid)
        setup_times = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup()
            setup_times.append(time.perf_counter() - t0)

        # Warm-up: untimed passes, so every plan shape has been compiled
        # (and JIT-compiled) and every lazy cache filled before timing.
        tracer.phase = "warm"
        marks["setup"] = time.perf_counter()
        oracles = _Background(wl.prepare_checks)
        for w in range(wl.warm_passes):
            run_ops(wl.plan_pass(-w), tracer)
        oracles.join()
        marks["warm"] = time.perf_counter()

        tracer.phase = "timed"
        passes: list[list] = []
        pass_cpu: list[float] = []  # Python + JVM CPU-seconds of each pass
        elapsed = 0.0
        proc.reset_peaks()
        cpu0 = prev = proc.cpu()
        while True:
            tracer.pass_no = len(passes) + 1
            ops = wl.plan_pass(tracer.pass_no)
            dt = run_ops(ops, tracer)
            now = proc.cpu()
            pass_cpu.append(now["py"] + now["jvm"] - prev["py"] - prev["jvm"])
            prev = now
            passes.append(ops)
            elapsed += dt
            # Stop at the pass boundary nearest to the time budget.
            if len(passes) >= wl.min_passes and elapsed >= args.seconds - dt / 2:
                break
        cpu = {k: prev[k] - cpu0[k] for k in cpu0}
        py_rss, jvm_rss = proc.rss()

        marks["timed"] = time.perf_counter()
        for k, ops in enumerate(passes, start=1):
            wl.finish_pass(k, ops)
        all_ops = [op for ops in passes for op in ops]
        for op in all_ops:
            if op.error is None:
                try:
                    op.ok = bool(op.check(op.result))
                except Exception:
                    traceback.print_exc(file=sys.stderr)
            if not op.ok:
                print(f"FAILED {op.name}: {op.error or 'wrong result'}", file=sys.stderr)
        failed = sum(not op.ok for op in all_ops)

        marks["verify"] = time.perf_counter()
        n_ops, n_ok = len(all_ops), len(all_ops) - failed
        per_pass = len(passes[0])
        # The median pass, op by op: every pass issues the same op kinds in
        # the same order, so position i of each pass is the same request.
        median_pass_s = sum(
            statistics.median(ops[i].latency_s for ops in passes) for i in range(per_pass)
        )
        e2e = {
            "setup_s": session_s + statistics.median(setup_times),
            "ops_per_s": per_pass * (n_ok / n_ops) / median_pass_s,
            "cpu_s_per_op": statistics.median(pass_cpu) / per_pass,
            "peak_rss_mb": py_rss + jvm_rss,
        }
        env = {
            "workload": args.workload, "seed": args.seed, "size": args.size,
            "seconds": args.seconds, "trace": args.trace, "nproc": cpus,
            "pyspark": pyspark.__version__,
            "java": spark._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0], "commit": _git_commit(),
            "passes": len(passes), "timed_s": elapsed, "median_pass_s": median_pass_s,
            "pass_cpu_s": pass_cpu,
            "session_s": session_s, "setup_reps_s": setup_times,
            # wall time of each phase of this run, for sizing the benchmark
            "phase_s": {b: marks[b] - marks[a] for a, b in
                        zip(marks, list(marks)[1:])},
        }
        detail = {"env": env, "end_to_end": e2e,
                  "ops": [{"name": op.name, "kind": op.kind, "ms": op.latency_s * 1000.0,
                           "ok": op.ok} for op in all_ops]}
        metrics = e2e
        units = dict(END_TO_END)
        if args.trace:
            t0 = time.perf_counter()
            tracer.harvest()
            harvest_s = time.perf_counter() - t0
            env["calibration"] = _calibration(spark, cpus)
            per_layer = _per_layer(tracer, wl.name, passes, cpu, (py_rss, jvm_rss),
                                   e2e["ops_per_s"], harvest_s)
            detail["per_layer"] = per_layer
            tracer.write(str(ROOT / ".perfbench_out" / f"{args.workload}-seed{args.seed}-spans.json"))
            metrics = per_layer
            units = {m["name"]: m["unit"] for m in per_layer_spec()}
    finally:
        _stop_spark(spark)

    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    with open(out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json", "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps({"env": env}), file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": n_ops,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def _per_layer(tracer, workload, passes, cpu, rss, ops_per_s, harvest_s) -> dict:
    """Counters of the median timed pass (set-up layers: per set-up call).

    Medians, not means: now and then Spark's adaptive execution runs one
    broadcast of a traversal twice, and one such pass must not move a
    run's job and stage counts.
    """
    from spans import COUNTERS, LAYERS, SETUP_LAYERS
    from workloads import ANALYTICS_ENTRIES

    n_pass = len(passes)

    def median_pass(span_filter=None) -> dict[str, dict]:
        per_pass = [
            tracer.layer_totals("timed", lambda s, k=k: s.get("pass") == k and (
                span_filter is None or span_filter(s)))
            for k in range(1, n_pass + 1)
        ]
        return {
            layer: {c: statistics.median(t.get(layer, {}).get(c, 0.0) for t in per_pass)
                    for c in COUNTERS}
            for layer in LAYERS
        }

    timed = median_pass()
    setup = tracer.layer_totals("setup")
    out: dict[str, float] = {}
    for layer in LAYERS:
        if layer in SETUP_LAYERS:
            tot = setup.get(layer, {})
            div = max(tot.get("calls", 0), 1)  # per set-up call
        else:
            tot, div = timed[layer], 1
        for c in COUNTERS:
            out[f"{layer}.{c}"] = tot.get(c, 0.0) / div

    timed_spans = [s for s in tracer.spans if s.get("phase") == "timed"]
    trav = [s for s in timed_spans if s["name"] == "graph.traversal"]
    out["graph.traversal.jobless_frac"] = (
        sum(tracer.job_count(s) == 0 for s in trav) / len(trav) if trav else 0.0
    )
    flushes = [s for s in timed_spans if s["name"] == "graph.api" and s.get("kind") == "write"]
    out["graph.api.job_flushes"] = (
        sum(tracer.job_count(s) > 0 for s in flushes) / len(flushes) if flushes else 0.0
    )
    for e in ANALYTICS_ENTRIES:
        tot = median_pass(lambda s, e=e: s.get("op") == e)
        calls = tot["relational.call"]["calls"]
        for c in ("ms", "jobs"):
            v = sum(t[c] for t in tot.values())
            out[f"relational.{e}.{c}"] = v / calls if calls else 0.0
    ops = [op for p in passes for op in p]
    for k in CRUD_KINDS:
        lat = [op.latency_s * 1000.0 for op in ops if op.kind == k]
        out[f"crud.{k}_p50_ms"] = (
            statistics.median(lat) if lat and workload == "graph_crud_mix" else 0.0
        )
    for k in ("py", "jvm", "jit", "workers"):
        out[f"proc.{k}_cpu_s"] = cpu[k] / n_pass
    out["proc.py_rss_mb"], out["proc.jvm_rss_mb"] = rss
    out["trace.ops_per_s"] = ops_per_s
    out["trace.harvest_s"] = harvest_s
    return out


def main(argv=None) -> int:
    sys.path.insert(0, str(HERE))
    args = parse_args(argv)
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    # Keep stdout for the result line alone: anything else written to fd 1
    # (by Python, Spark or the JVM it launches) lands on stderr.
    result_fd = os.dup(1)
    os.dup2(2, 1)
    try:
        result = run(args, work)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
