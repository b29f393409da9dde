"""stockpy_spark benchmark: one command, one client in a closed loop.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

``--workload all`` runs every workload in turn and prints a summary.

Run from the root of a checkout. Workloads: sql_analytics, llm_curation,
etl_daily_batch (see BENCHMARK.json for why each). A run:

1. starts a ``local[<cores>]`` session (set-up);
2. generates the workload's inputs from the seed three times, keeping
   the last (set-up; the median of the three is reported), then computes
   the DuckDB answers (excluded from every timing);
3. runs one warm-up pass (set-up);
4. runs passes until ``--seconds`` have elapsed, at least one, checking
   every operation's output after its timed call.

With ``--trace 0`` the last line of stdout is the end-to-end metrics;
with ``--trace 1`` the measured passes are traced and the last line is
the per-layer metrics, including the tracing overhead.
The spans of a traced run are written to ``.perfbench_work/traces/``.
Everything the run writes stays under ``.perfbench_work/`` in the
checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PLAN_STAGES = ["land", "extract", "register_raw", "transform", "register_refined", "readback"]


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str, cores: int) -> None:
    """Point every temp, scratch and worker path of this process, the
    JVM it launches and the Python workers at ``work`` and the checkout."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # every JVM, the launcher included: no perf-data file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    # Python workers start from a fresh interpreter and must import
    # stockpy_spark from the checkout whatever the working directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    sys.path[:0] = [ROOT, HERE]


def start_session(work: str, cores: int):
    from collector import RETAINED_CONF
    from stockpy_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        **RETAINED_CONF,
    }
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def run_passes(wl, spark, tracer, seconds: float, check: bool, k0: int):
    """Passes until ``seconds`` have elapsed, at least one."""
    out = []
    t0 = time.perf_counter()
    while not out or time.perf_counter() - t0 < seconds:
        out.append(wl.run_pass(spark, tracer, k0 + len(out), check))
    return out


def layer_metrics(tr, passes, totals, listener, cores: int, overhead_s: float) -> dict:
    """Per-layer figures of the traced passes, each a mean per pass."""
    from spans import self_seconds

    n = len(passes)

    def spans(layer):
        return tr.layer_spans(layer)

    def secs(layer):
        return sum(s.seconds for s in spans(layer)) / n

    def count(layer, attr):
        return sum(getattr(s.counters, attr) for s in spans(layer)) / n

    m: dict[str, float] = {}
    m["registry.build_s"] = secs("registry")
    m["registry.build_jobs"] = count("registry", "jobs")
    m["sources.read_s"] = secs("sources")
    m["sources.read_jobs"] = count("sources", "jobs")
    m["sources.writers.write_s"] = secs("sources.writers")
    m["sources.writers.write_jobs"] = count("sources.writers", "jobs")
    m["sources.writers.bytes_written_mb"] = sum(p.written_bytes for p in passes) / n / 1e6
    m["sources.writers.files_written"] = sum(p.written_files for p in passes) / n
    in_bytes = sum(p.input_bytes for p in passes)
    m["sources.writers.stored_bytes_per_input_byte"] = (
        sum(p.written_bytes for p in passes) / in_bytes if in_bytes else 0.0)
    m["sources.writers.files_per_partition"] = sum(p.files_per_partition for p in passes) / n
    m["sources.catalog.calls"] = len(spans("sources.catalog")) / n
    m["sources.catalog.s"] = secs("sources.catalog")
    m["pipelines.build_s"] = secs("pipelines")
    for st in PLAN_STAGES:
        m[f"plans.stage_s.{st}"] = sum(s.seconds for s in spans("plans") if s.name == st) / n
    m["plans.self_s"] = sum(self_seconds(s, tr.children(s)) for s in spans("plans")) / n
    m["streaming.query_s"] = secs("streaming")
    batches = listener.batches
    m["streaming.batches"] = len(batches) / n
    m["streaming.batch_p50_s"] = statistics.median(b[1] for b in batches) if batches else 0.0
    busy = sum(b[1] for b in batches)
    m["streaming.input_rows_per_s"] = sum(b[0] for b in batches) / busy if busy else 0.0
    m["streaming.state_rows"] = sum(b[2] for b in batches) / n
    ops = spans("operators")
    exec_s = sum(s.seconds for s in ops)
    run_ms = sum(s.counters.executor_run_ms for s in ops)
    m["operators.exec_s"] = exec_s / n
    m["operators.task_busy_s"] = run_ms / 1000.0 / n
    m["operators.busy_frac"] = run_ms / 1000.0 / (exec_s * cores) if exec_s else 0.0
    m["operators.shuffle_write_mb"] = totals.shuffle_write_bytes / 1e6 / n
    m["operators.shuffle_read_mb"] = totals.shuffle_read_bytes / 1e6 / n
    m["operators.spill_mb"] = totals.spill_bytes / 1e6 / n
    out_rows = {k: v for p in passes for k, v in p.out_rows.items()}
    rows_in = sum(s.counters.input_records for s in ops if s.id in out_rows)
    rows_out = sum(out_rows.values())
    m["operators.input_rows_per_output_row"] = rows_in / rows_out if rows_out else 0.0
    m["scheduler.jobs"] = totals.jobs / n
    m["scheduler.stages"] = totals.stages / n
    m["scheduler.skipped_stages"] = totals.skipped_stages / n
    m["scheduler.tasks"] = totals.tasks / n
    m["scheduler.failed_tasks"] = totals.failed_tasks / n
    m["trace.run_s"] = statistics.median(p.wall_s for p in passes)
    m["trace.overhead_s"] = overhead_s / n
    return m


def run_all(args: argparse.Namespace, names: list[str]) -> int:
    """Run every workload in its own process and print each metric by
    name and unit, with the share of operations that failed."""
    import subprocess

    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if p.returncode:
            print(f"{name}: exited with {p.returncode}")
            return p.returncode
        res = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"{name}: correct={res['correct']} "
              f"failed_frac={res['failed'] / res['attempted']:.3f}")
        for k, m in res["metrics"].items():
            print(f"  {k} {m['value']:.4f} {m['unit']}")
    return 0


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "stockpy_spark")):
        print(f"perfbench: no stockpy_spark package under {ROOT}", file=sys.stderr)
        return 2
    # BENCHMARK.json declares the workloads and every metric with its unit
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload == "all":
        return run_all(args, names)
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {names}",
              file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(work, cores)

    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]()
    spark = start_session(work, cores)
    boot_s = time.perf_counter() - T_START
    try:
        gen_s = []
        for i in range(3):
            inputs = os.path.join(work, f"inputs{i}")
            t = time.perf_counter()
            input_bytes = wl.generate(inputs, args.seed)
            gen_s.append(time.perf_counter() - t)
            if i:
                shutil.rmtree(os.path.join(work, f"inputs{i - 1}"))
        wl.prepare(inputs)

        from collector import StatusCollector, stream_listener
        from spans import Tracer

        warm = Tracer(f"{args.workload}-{args.seed}-warm")
        t = time.perf_counter()
        wl.run_pass(spark, warm, 0, check=False)
        warm_s = time.perf_counter() - t
        setup_s = boot_s + statistics.median(gen_s) + warm_s

        run_id = f"{args.workload}-{args.seed}"
        if args.trace:
            collector = StatusCollector(spark)
            listener = stream_listener()
            spark.streams.addListener(listener)
            tr = Tracer(run_id + "-traced", collector)
            before = collector.read()
            collector.read_seconds = 0.0
            passes = run_passes(wl, spark, tr, args.seconds, True, 1)
            overhead_s = collector.read_seconds
            totals = collector.read() - before
            metrics = layer_metrics(tr, passes, totals, listener, cores, overhead_s)
            os.makedirs(os.path.join(work_root, "traces"), exist_ok=True)
            tr.dump(os.path.join(work_root, "traces", f"{run_id}.json"))
        else:
            passes = run_passes(wl, spark, Tracer(run_id), args.seconds, True, 1)
            metrics = {
                "run_s": statistics.median(p.wall_s for p in passes),
                "op_p50_s": statistics.median(s for p in passes for _, s in p.ops),
                "setup_s": setup_s,
            }
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = (vm_hwm_kb(jvm_pid) + vm_hwm_kb(os.getpid())) / 1024.0
        if args.trace:
            metrics["process.peak_rss_mb"] = rss_mb
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    declared = spec["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics {sorted(set(metrics) ^ set(units))} "
                           "differ from those BENCHMARK.json declares")
    failures = [f for p in passes for f in p.failures]
    for f in failures:
        print(f"FAILED {f}", file=sys.stderr)
    attempted = sum(p.attempted for p in passes)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "passes": len(passes),
        "input_bytes": input_bytes, "setup_parts_s": {
            "boot": boot_s, "generate": gen_s, "warmup": warm_s},
        "ops": [[(n, round(s, 3)) for n, s in p.ops] for p in passes],
        "peak_rss_mb": rss_mb,
        "failed_frac": len(failures) / attempted if attempted else 1.0,
    }))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
