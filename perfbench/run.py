#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout of the repository. It makes its inputs
from the seed under ``.perfbench/work`` (deleted at exit), builds a Spark
session with the package's ``get_spark`` on ``local[<cores>]``, warms up on
inputs generated with another seed, then runs operations one after another
(one client, closed loop) until ``--seconds`` of operation time have
passed, finishing the current pass. Every result is checked outside the
timed span; a wrong or raised result counts as failed.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (spans around every layer call, Spark status-store
and Catalyst readings). The names and units of both come from
``BENCHMARK.json``. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Each run also writes a record with its provenance (cores, seed, commit,
steal share, versions), every metric and the per-operation times under
``.perfbench/results/`` (the record of a traced run also holds its spans);
``compare.py`` reads those records.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext
from datetime import datetime, timezone
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "large_csv_etl_spark"
sys.path.insert(0, str(HERE))


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full", help="input size; tiny is for selftest.py")
    ap.add_argument("--record-dir", default=None, help="where to write the run record (default .perfbench/results/<workload>)")
    ap.add_argument(
        "--corrupt-first",
        action="store_true",
        help="self-test only: alter the first operation's result before it is "
        "checked, which must count that operation as failed",
    )
    return ap.parse_args(argv)


def source_digest() -> str:
    """sha256 over the package's Python sources: identifies the code under
    test when the checkout is not a git repository."""
    h = hashlib.sha256()
    for p in sorted((ROOT / PACKAGE).rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def cpu_model() -> str | None:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return None


def versions(spark) -> dict:
    import duckdb
    import numpy
    import pyarrow
    import pyspark

    return {
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait until every process this
    run started has ended."""
    import procstat
    from pyspark import SparkContext

    started = set(procstat.tree()) - {os.getpid()}
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        started = {p for p in started if os.path.exists(f"/proc/{p}")}
        if not started:
            return
        time.sleep(0.1)
    for pid in started:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0]
    q = statistics.quantiles(values, n=4)
    return q[0], q[2]


def layer_metrics(tracer, ops, monitor, wl, cores, setup) -> dict:
    """Per-layer metrics of a traced run: per-operation means unless the
    name says otherwise."""
    n = len(ops)
    bd = [o["breakdown"] for o in ops]

    def mean(key):
        return sum(b[key] for b in bd) / n

    wall = sum(b["wall_s"] for b in bd)

    def share(key):
        return sum(b[key] for b in bd) / wall

    cat = [o["catalyst"] for o in ops]
    self_times = tracer.self_times()
    return {
        "session.get_spark_s": setup["get_spark_s"],
        "session.warmup_s": setup["warmup_s"],
        "session.release_blocks_s": sum(o["release_s"] for o in ops) / n,
        "op.wall_s": wall / n,
        "op.nonjob_s": mean("nonjob_s"),
        "op.job_s": mean("job_s"),
        "queries.build_python_share": share("build_python_s"),
        "queries.build_job_share": share("build_job_s"),
        "queries.collect_share": share("collect_s"),
        "queries.build_jobs": mean("build_jobs"),
        "io.load_table_share": share("load_table_s"),
        "io.load_table_calls": mean("load_table_calls"),
        "io.write_table_share": share("write_table_s"),
        "pipeline.validate_share": share("validate_s"),
        "pipeline.post_write_share": (
            sum(b["post_write_s"] for b in bd) / sum(b["run_s"] for b in bd)
            if any(b["run_s"] for b in bd)
            else 0.0
        ),
        "streaming.share": share("streaming_s"),
        "io.stored_bytes_per_input_byte": wl.extra().get("stored_bytes_per_input_byte", 0.0),
        "op.output_rows": sum(o["rows"] for o in ops) / n,
        "catalyst.analysis_s": sum(c.get("analysis", 0.0) for c in cat) / n,
        "catalyst.optimization_s": sum(c.get("optimization", 0.0) for c in cat) / n,
        "catalyst.planning_s": sum(c.get("planning", 0.0) for c in cat) / n,
        "catalyst.plan_s": sum(sum(c.values()) for c in cat) / n,
        "spark.jobs": mean("jobs"),
        "spark.stages": mean("stages"),
        "spark.tasks": mean("tasks"),
        "spark.slot_utilization": sum(b["executor_run_s"] for b in bd) / (wall * cores),
        "spark.executor_run_s": mean("executor_run_s"),
        "spark.executor_cpu_s": mean("executor_cpu_s"),
        "spark.shuffle_read_mb": mean("shuffle_read_bytes") / 2**20,
        "spark.shuffle_write_mb": mean("shuffle_write_bytes") / 2**20,
        "spark.spill_mb": mean("spill_bytes") / 2**20,
        "spark.gc_s": mean("gc_s"),
        "proc.driver_python_cpu_s": monitor.cpu["driver"] / n,
        "proc.jvm_cpu_s": monitor.cpu["jvm"] / n,
        "proc.worker_python_cpu_s": monitor.cpu["worker"] / n,
        "trace.overhead_s": tracer.overhead_s / n,
        "trace.unexplained_share": share("unexplained_s"),
        "trace.self_s": self_times,
    }


def run(args) -> dict:
    import procstat
    from spans import Tracer, catalyst_phases
    from workloads import WORKLOADS

    # local[N] with N the CPUs this process may run on, so an affinity mask
    # (taskset) sets the core count of a scaling run; the record carries N
    # and compare.py refuses to compare runs made with different counts.
    cores = len(os.sched_getaffinity(0))
    spec = WORKLOADS[args.workload]
    stamp = datetime.now(timezone.utc).strftime("%Y%m%dT%H%M%S")
    work = ROOT / ".perfbench" / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # Everything the program, Spark and the JVMs write goes under the work
    # directory, inside the checkout (UsePerfData off, for Spark's launcher
    # JVM too: HotSpot writes its perf-counter file under /tmp whatever
    # java.io.tmpdir says).
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    spark = wl = None
    try:
        wl = spec(str(work), args.seed, args.size)  # inputs: before the clock

        steal0 = procstat.host_jiffies()
        cpu0 = procstat.cpu_by_kind(procstat.tree())
        t0 = time.perf_counter()
        tracer = Tracer() if args.trace else None

        def span(name):
            return tracer.span(name) if tracer else nullcontext()

        with span("session.get_spark"):
            from large_csv_etl_spark.session import get_spark, release_blocks

            spark = get_spark(
                app_name=f"perfbench-{args.workload}",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                },
            )
            spark.sparkContext.setLogLevel("ERROR")
        t_session = time.perf_counter()
        wl.start(spark)
        if tracer:
            tracer.patch_layers()

        def release():
            with span("session.release_blocks"):
                release_blocks(spark)

        with span("session.warmup"):
            wl.warmup(spark, release)
        setup_wall_s = time.perf_counter() - t0
        # set-up is reported as process-tree CPU: the wall time of the same
        # work follows the host's steal share (README.md, End-to-end metrics)
        cpu1 = procstat.cpu_by_kind(procstat.tree())
        setup_cpu = {k: cpu1[k] - cpu0[k] for k in cpu0}
        setup = {"get_spark_s": t_session - t0, "warmup_s": time.perf_counter() - t_session}
        if tracer:
            tracer.read_jobs(spark.sparkContext)  # warm-up jobs are not ops

        monitor = procstat.TreeMonitor()
        ops = []
        loop_wall = 0.0
        passes = 0
        corrupt = args.corrupt_first
        while loop_wall < args.seconds or len(ops) < spec.min_ops:
            passes += 1
            for name in wl.next_pass():
                monitor.begin()
                t_a = time.perf_counter()
                result, rows, df, error = None, 0, None, None
                with (tracer.op(name) if tracer else nullcontext()) as op_span:
                    try:
                        result, rows, df = wl.run(spark, name, tracer)
                    except Exception as exc:  # a failed op is counted, not fatal
                        error = f"{type(exc).__name__}: {exc}"
                t_b = time.perf_counter()
                release()
                t_c = time.perf_counter()
                monitor.end()
                loop_wall += t_c - t_a
                rec = {"name": name, "wall_s": t_b - t_a, "release_s": t_c - t_b, "rows": rows}
                # -- outside the timed span from here --
                if tracer:
                    tracer.read_jobs(spark.sparkContext)
                    rec["breakdown"] = tracer.op_breakdown(op_span["id"])
                    t_cat = time.perf_counter()
                    rec["catalyst"] = {}
                    if df is not None:
                        rec["catalyst"] = catalyst_phases(df)
                    else:
                        for sp in tracer.descendants(op_span["id"]):
                            for k, v in sp.get("catalyst", {}).items():
                                rec["catalyst"][k] = rec["catalyst"].get(k, 0.0) + v
                    tracer.overhead_s += time.perf_counter() - t_cat
                if error is None:
                    if corrupt:
                        result, corrupt = wl.corrupt(result), False
                    try:
                        problems = wl.problems(name, result)
                    except Exception as exc:
                        problems = [f"check raised {type(exc).__name__}: {exc}"]
                    wl.after_op()
                else:
                    problems = [error]
                rec["problems"] = problems
                ops.append(rec)
                if problems:
                    print(f"perfbench: {name} FAILED: {'; '.join(problems)[:2000]}", file=sys.stderr)
        steal1 = procstat.host_jiffies()
        peak_rss_mb = monitor.peak_rss_mb()
        vers = versions(spark)
    finally:
        try:
            if wl is not None:
                wl.close()
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    walls = sorted(o["wall_s"] for o in ops)
    failed = sum(1 for o in ops if o["problems"])
    p50 = statistics.median(walls)
    measured = {
        "setup_s": sum(setup_cpu.values()),
        "setup_wall_s": setup_wall_s,
        "ops_per_s": len(ops) / loop_wall,
        "latency_p50_s": p50,
        "cpu_s_per_op": sum(monitor.cpu.values()) / len(ops),
        "peak_rss_mb": peak_rss_mb,
    }
    d_steal, d_total = steal1[0] - steal0[0], steal1[1] - steal0[1]
    record = {
        "workload": args.workload,
        "provenance": {
            "seed": args.seed,
            "cores": cores,
            "size": args.size,
            "seconds": args.seconds,
            "trace": args.trace,
            "commit": git_commit(),
            "source_sha256": source_digest(),
            "steal_share": d_steal / d_total if d_total else 0.0,
            "cpu_model": cpu_model(),
            "versions": vers,
            "utc": stamp,
        },
        "measured": measured,
        "info": {
            "attempted": len(ops),
            "failed": failed,
            "failed_ratio": failed / len(ops),
            "passes": passes,
            "setup_cpu_by_kind_s": setup_cpu,
            "input_rows": wl.input_rows,
            "rows_per_s": wl.input_rows / p50,
            "latency_q1_s": quartiles(walls)[0],
            "latency_q3_s": quartiles(walls)[1],
            "latency_max_s": walls[-1],
            **wl.extra(),
        },
        "ops": [{k: v for k, v in o.items() if k != "breakdown"} for o in ops],
    }
    if args.trace:
        per_layer = layer_metrics(tracer, ops, monitor, wl, cores, setup)
        per_layer["host.steal_share"] = record["provenance"]["steal_share"]
        per_layer["proc.peak_rss_mb"] = peak_rss_mb
        per_layer["op.ops_per_s"] = measured["ops_per_s"]
        per_layer["op.latency_p50_s"] = p50
        record["per_layer"] = per_layer
        record["trace_spans"] = tracer.spans
        record["op_breakdowns"] = [dict(o["breakdown"], name=o["name"]) for o in ops]
    return record


def write_record(record: dict, args) -> Path:
    p = record["provenance"]
    out_dir = Path(args.record_dir) if args.record_dir else ROOT / ".perfbench" / "results" / args.workload
    out_dir.mkdir(parents=True, exist_ok=True)
    # the stamp, pid and run settings make every name unique: a scaling or
    # traced run never overwrites a baseline run
    name = (
        f"{p['utc']}-{os.getpid()}-{args.workload}-seed{args.seed}-c{p['cores']}"
        f"-{args.size}-trace{args.trace}.json"
    )
    path = out_dir / name
    path.write_text(json.dumps(record, indent=1, default=str) + "\n")
    return path


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no {PACKAGE} package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    # a terminated run still stops its JVM and deletes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    record = run(args)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = record["per_layer"] if args.trace else record["measured"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        print(f"perfbench: metrics not computed: {missing}", file=sys.stderr)
        return 3
    path = write_record(record, args)
    info = record["info"]
    print(f"perfbench: record {path.relative_to(ROOT) if path.is_relative_to(ROOT) else path}")
    print("perfbench provenance: " + json.dumps(record["provenance"], sort_keys=True))
    print("perfbench info: " + json.dumps(info, sort_keys=True))
    result = {
        "correct": info["failed"] == 0,
        "attempted": info["attempted"],
        "failed": info["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
