"""rad_ecg_spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload query_suite --seed 1 --seconds 1 --trace 0

Run from the repository root. The run starts one Spark session at
``local[<cores>]`` in this process, builds the workload's input from
``--seed`` (setup: the input is built three times and the median is
reported), then runs passes of timed, checked public calls back to back
until ``--seconds`` have elapsed (at least one). The last line of stdout
is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` first makes
one untraced run as a child process (for ``trace.overhead_frac``), then
a traced run with job groups, StatusTracker counts and the event log on,
and reports the per-layer metrics. Everything the run writes stays under
``.perfbench/`` in the working directory: scratch data (removed at the
end), ``result-*.json`` details and, when traced, ``trace-*.json`` spans
and counters. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".perfbench")
SETUP_REPEATS = 3

# per-layer metric names -> units; BENCHMARK.json's per_layer mirrors this
PIPELINE_STAGES = (
    "verify_extract", "dedup", "extract_build_graph",
    "pagerank", "components", "labelprop", "triangles",
)
COUNTER_UNITS = {
    "jobs": "count", "stages": "count", "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "gc_s": "s", "executor_cpu_s": "s",
}


def per_layer_units() -> dict[str, str]:
    from workloads import NAMED_QUERIES, QUERY_NAMES

    u = {
        "session.start_s": "s", "sources.input_s": "s",
        "jvm.peak_rss_mb": "MB", "python_workers.peak_rss_mb": "MB",
        "trace.overhead_frac": "frac",
    }
    u.update({f"pipeline.{s}_s": "s" for s in PIPELINE_STAGES})
    u.update({f"pipeline.{k}": v for k, v in COUNTER_UNITS.items()})
    u.update({
        "pipeline.pagerank_iterations": "count", "pipeline.labelprop_iterations": "count",
        "pipeline.kept_frac": "frac", "checkpoint.bytes_mb": "MB",
        "pipeline.output_mb": "MB", "skew.hub_src_frac": "frac",
    })
    u.update({f"queries.{q}.wall_s": "s" for q in QUERY_NAMES})
    for q in NAMED_QUERIES:
        u.update({
            f"queries.{q}.jobs": "count", f"queries.{q}.stages": "count",
            f"queries.{q}.shuffle_mb": "MB", f"queries.{q}.spill_mb": "MB",
        })
    u.update({
        "queries.jobs": "count", "queries.stages": "count",
        "queries.shuffle_read_mb": "MB", "queries.shuffle_write_mb": "MB",
        "queries.gc_s": "s",
    })
    return u


END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "peak_rss_mb": "MB"}


def host_stamp() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        steal_ticks = int(f.readline().split()[8])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "load1": load1,
        # cumulative CPU time the hypervisor gave to other guests: its
        # growth over a run separates a noisy host from a slow engine
        "cpu_steal_s": steal_ticks / os.sysconf("SC_CLK_TCK"),
    }


def spark_env(work: str) -> None:
    """Keep Spark's and the JVM's scratch files inside the working dir
    and let the PySpark workers import the engine from the checkout."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )


def spark_conf(host: dict, work: str, trace: bool) -> dict:
    # an eighth of RAM, at most 2 GiB: the inputs are small, and the
    # Python workers of <nproc> tasks and the shuffle files' page cache
    # share the rest of the host. The heap is fixed and touched at start
    # (-Xms = -Xmx, AlwaysPreTouch): heap growth follows GC timing, and
    # left free it swings peak RSS by 10% between identical runs.
    heap_mb = min(2048, host["mem_total_mb"] // 8)
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.driver.defaultJavaOptions": f"-Xms{heap_mb}m -XX:+AlwaysPreTouch",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        })
    return conf


def stop_session(spark) -> None:
    """Stop the session, then its JVM, and wait until the JVM has
    exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = None
    SparkContext._jvm = None
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        # the JVM's gateway server exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=60)


def untraced_child(args) -> dict:
    """One untraced run of the same workload and seed, as its own
    process, so the traced run can state its overhead."""
    cmd = [
        sys.executable, os.path.abspath(__file__), "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", "0", "--size", args.size,
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=170, cwd=ROOT)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"untraced child run exited {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _median_by_key(rows: list[dict]) -> dict[str, float]:
    keys = {k for r in rows for k in r}
    return {k: statistics.median(r[k] for r in rows if k in r) for k in sorted(keys)}


def layer_counters(workload: str, tracer, counters: dict[int, dict]) -> dict[int, dict]:
    """pass id -> the per-layer counter metrics of that pass's spans."""
    from workloads import NAMED_QUERIES

    passes: dict[int, dict] = {}
    for s in tracer.leaves():
        c = counters.get(s["id"])
        if c is None:
            continue
        row = passes.setdefault(s["pass"], {})
        name = s["name"]
        if workload == "query_suite":
            q = name.split(".", 1)[1]
            if q in NAMED_QUERIES:
                row.update({
                    f"{name}.jobs": c["jobs"], f"{name}.stages": c["stages"],
                    f"{name}.shuffle_mb": c["shuffle_write_mb"],
                    f"{name}.spill_mb": c["spill_mb"],
                })
            for k in ("jobs", "stages", "shuffle_read_mb", "shuffle_write_mb", "gc_s"):
                row[f"queries.{k}"] = row.get(f"queries.{k}", 0.0) + c[k]
        else:
            row.update({f"{name}.{k}": v for k, v in c.items()})
    return passes


def measure(args, work: str, trace: bool) -> dict:
    """Session, repeated setup, reference answers, then the timed passes."""
    from memsampler import MemSampler
    from tracer import Tracer, read_event_log
    from workloads import WORKLOADS, Ops

    spark_env(work)
    from rad_ecg_spark.session import get_spark

    host = host_stamp()
    tracer = Tracer(enabled=trace)
    m = {"host_start": host, "tracer": tracer}
    spark = None
    try:
        with tracer.span("session.get_spark", tag=False) as sp:
            spark = get_spark(
                app_name=f"perfbench-{args.workload}",
                master=f"local[{host['nproc']}]",
                shuffle_partitions=host["nproc"],
                extra_conf=spark_conf(host, work, trace),
            )
            spark.sparkContext.setLogLevel("ERROR")
        m["session_start_s"] = sp["wall_s"]
        tracer.bind(spark)

        wl = WORKLOADS[args.workload](args.seed, work, size=args.size)
        m["setup_walls_s"] = []
        for _ in range(SETUP_REPEATS):
            with tracer.span("sources.make_input", tag=False) as sp:
                m["input"] = wl.make_input(spark)
            m["setup_walls_s"].append(sp["wall_s"])
        with tracer.span("checks.prepare", tag=False) as sp:
            m["reference"] = wl.prepare(spark)
        m["prepare_s"] = sp["wall_s"]

        rows, walls, attempted, failed, errors = [], [], 0, 0, []
        t_measure = time.monotonic()
        with MemSampler() as mem:
            while True:
                ops = Ops(tracer, len(walls))
                with tracer.span("pass", len(walls), tag=False) as sp:
                    layer_values = wl.run_pass(spark, ops)
                walls.append(sp["wall_s"])
                rows.append({
                    **{f"{k}.wall_s": v for k, v in ops.walls.items()}, **layer_values,
                })
                attempted += ops.attempted
                failed += ops.failed
                errors += ops.errors
                if time.monotonic() - t_measure >= args.seconds:
                    break
        # after the sampler has stopped: the Python workers this work
        # starts are not part of any pass
        for i, row in enumerate(rows):
            row.update(wl.after_pass(spark, i))
    finally:
        if spark is not None:
            stop_session(spark)
    if trace:
        counters = read_event_log(os.path.join(work, "eventlog"), tracer.spans)
        m["counters"] = counters
        by_pass = layer_counters(args.workload, tracer, counters)
        rows = [{**row, **by_pass.get(i, {})} for i, row in enumerate(rows)]
    m.update({
        "host_end": host_stamp(), "pass_walls_s": walls, "per_pass": rows,
        "attempted": attempted, "failed": failed, "errors": errors, "mem": mem,
    })
    return m


def run(args) -> dict:
    """One benchmark run; returns the result line's object."""
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    trace = bool(args.trace)
    child = untraced_child(args) if trace else None
    work = os.path.join(OUT, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        m = measure(args, work, trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    mem, tracer = m.pop("mem"), m.pop("tracer")
    e2e = {
        "setup_s": m["session_start_s"] + statistics.median(m["setup_walls_s"]),
        "wall_s": statistics.median(m["pass_walls_s"]),
        "peak_rss_mb": mem.peak_total_mb,
    }
    attempted, failed = m["attempted"], m["failed"]
    detail = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "seed_used": args.workload != "web_pipeline", "trace": trace,
        "seconds": args.seconds, **m, "memory_samples": mem.samples,
        "peak_jvm_mb": mem.peak_jvm_mb, "peak_python_workers_mb": mem.peak_workers_mb,
        "error_rate": failed / max(attempted, 1), "end_to_end": e2e,
    }
    if trace:
        units = per_layer_units()
        values = {k: 0.0 for k in units}
        values.update({k: v for k, v in _median_by_key(m["per_pass"]).items() if k in units})
        values.update({
            "session.start_s": m["session_start_s"],
            "sources.input_s": statistics.median(m["setup_walls_s"]),
            "jvm.peak_rss_mb": mem.peak_jvm_mb,
            "python_workers.peak_rss_mb": mem.peak_workers_mb,
            "trace.overhead_frac": e2e["wall_s"] / child["metrics"]["wall_s"]["value"] - 1,
        })
        attempted += child["attempted"]
        failed += child["failed"]
        detail.update({
            "untraced_child": child, "attempted": attempted, "failed": failed,
            "counters": {str(k): v for k, v in m["counters"].items()}, "per_layer": values,
        })
        tracer.dump(
            os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "counters": detail["counters"]},
        )
        metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    name = f"result-{args.workload}-{args.seed}-trace{int(trace)}.json"
    with open(os.path.join(OUT, name), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
        f.write("\n")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["web_pipeline", "query_suite"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full",
                   help="input sizes; 'tiny' is for the benchmark's own tests")
    args = p.parse_args(argv)
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
