"""Lake benchmark: one closed-loop client on one Spark driver.

    python3 perfbench/run.py --workload lake_query --seed 1 --seconds 20 \
        --trace 0

Runs from the root of a checkout; everything it writes lives under
``.perfbench_runs/`` there and is removed at the end, except the span file
of a traced run (``.perfbench_out/``).  The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics.  See
``perfbench/README.md`` for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="sets the op count: round(seconds x the "
                         "workload's ROUNDS_PER_S) whole rounds")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(run_root: str) -> None:
    """Point every scratch location of Spark, the JVM and Python into the
    run root, and size the local master to this machine."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(run_root, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_root, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_root, "tmp")
    # Spark's Python workers import the package (Python data sources)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    java_opts = (f"-Djava.io.tmpdir={run_root}/tmp -XX:-UsePerfData "
                 f"-Dderby.system.home={run_root}/tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--conf "spark.driver.extraJavaOptions={java_opts}" '
        f"--conf spark.sql.warehouse.dir={run_root}/warehouse pyspark-shell")


def execute(tracer, op, log):
    """Run one op; returns ``(record, ok)``.  An op that raises counts as
    failed and the run goes on."""
    try:
        with tracer.op(op.name, op.lazy) as rec:
            with tracer.timed(rec, "call"):
                res = op.call()
            if op.lazy:
                with tracer.timed(rec, "action"):
                    res_rows = res.collect()
                tracer.catalyst(rec, res)
                res = res_rows
        ok = bool(op.check(res))
        if not ok:
            print(f"WRONG RESULT {op.name}", file=log)
        return rec, ok
    except Exception:  # noqa: BLE001 — a failing op is counted, not fatal
        print(f"FAILED {op.name}", file=log)
        traceback.print_exc(file=log)
        return None, False


def stop_jvm(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to end
    (it outlives ``spark.stop()`` otherwise)."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 — already gone
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — did not exit on EOF
            proc.kill()
            proc.wait(timeout=60)


def run(args, log=sys.stderr) -> dict:
    """One benchmark run in a fresh session; returns the result object."""
    from workloads import WORKLOADS

    wl_cls = WORKLOADS[args.workload]
    run_root = os.path.join(REPO, ".perfbench_runs",
                            f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    prepare_env(run_root)
    from datalake_ingestion_system_spark.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    jvm_s = time.perf_counter() - t0
    try:
        return measure(spark, wl_cls, args, run_root, jvm_s, log)
    finally:
        stop_jvm(spark)
        shutil.rmtree(run_root, ignore_errors=True)


def measure(spark, wl_cls, args, run_root, jvm_s, log,
            corrupt: bool = False, scale: float = 1.0) -> dict:
    """Set up, warm up, time the schedule, check, report.  ``corrupt``
    skews every expected value after set-up (the self-test's proof that a
    wrong result is counted); ``scale`` multiplies the input sizes (the
    self-test's smoke run uses a tiny one)."""
    import benchmetrics as M
    from tracing import Tracer, layer_table

    wl = wl_cls(spark, scale)
    rounds = wl.n_rounds(args.seconds)
    warm = wl.warmup()
    a = time.perf_counter()
    wl.generate(os.path.join(run_root, "inputs"), args.seed, rounds)
    inputs_s = time.perf_counter() - a
    a = time.perf_counter()
    wl.build(os.path.join(run_root, "build"))
    build_s = time.perf_counter() - a
    setup_s = jvm_s + build_s
    wl.corrupt = corrupt

    tracer = Tracer(spark, bool(args.trace), wl.lake_roots())
    attempted = failed = 0
    a = time.perf_counter()
    for name in warm:
        _, ok = execute(tracer, wl.make_op(name), log)
        attempted += 1
        failed += not ok
    warmup_s = time.perf_counter() - a
    tracer.spans.clear()
    tracer.overhead_s = 0.0

    schedule = wl.schedule(args.seed, rounds)
    files_before = M.tree_files(wl.lake_roots())
    gc0 = tracer.gc_ms() if args.trace else 0.0
    records = []
    cpu0 = M.cpu_jiffies()
    t_start = time.perf_counter()
    for name in schedule:
        rec, ok = execute(tracer, wl.make_op(name), log)
        attempted += 1
        failed += not ok
        if rec is not None:
            records.append(rec)
    wall = time.perf_counter() - t_start
    steal = M.steal_pct(cpu0, M.cpu_jiffies())
    gc_ms = (tracer.gc_ms() - gc0) if args.trace else 0.0
    files_after = M.tree_files(wl.lake_roots())

    a = time.perf_counter()
    try:
        finals = wl.final_checks()
    except Exception:  # noqa: BLE001 — counted like a failing op
        traceback.print_exc(file=log)
        finals = [("final-state read", False)]
    for what, ok in finals:
        attempted += 1
        if not ok:
            failed += 1
            print(f"WRONG FINAL STATE: {what}", file=log)
    final_checks_s = time.perf_counter() - a

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    peak_rss_mb = (M.vm_hwm_kb(jvm_pid) + M.self_maxrss_kb()) / 1024.0

    by_type: dict[str, list[float]] = {}
    for r in records:
        by_type.setdefault(r.name, []).append(r.latency_s)
    written = M.bytes_created(files_before, files_after)
    e2e = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(records) / wall, "1/s"),
        "op_p50_gmean_s": (M.op_p50_gmean(by_type), "s"),
        "stored_mb": (sum(files_after.values()) / 1e6, "MB"),
    }
    # printed, not gated: see README.md ("Metrics left out of the gate")
    extra = {
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "failed_frac": (M.failed_frac(failed, attempted), "ratio"),
        "bytes_written_per_op": (written / max(len(records), 1), "B"),
        "jvm_start_s": (jvm_s, "s"),
        "fixture_build_s": (build_s, "s"),
        "inputs_s": (inputs_s, "s"),
        "warmup_s": (warmup_s, "s"),
        "timed_ops": (len(records), "count"),
        "timed_wall_s": (wall, "s"),
        "final_checks_s": (final_checks_s, "s"),
        "steal_pct": (steal, "%"),
    }
    print(f"== {args.workload} seed={args.seed} ops={len(schedule)} "
          f"trace={args.trace}")
    for k, (v, u) in {**e2e, **extra}.items():
        print(f"  {k:24s} {v:14.6g} {u}")
    print("  per op type: n  p50_s  tail")
    for name in sorted(by_type):
        lat = by_type[name]
        t = M.tail(lat)
        tail_s = f"p{t[0]:g}={t[1]:.4f}s" if t else "none (<20 samples)"
        print(f"    {name:34s} {len(lat):4d} "
              f"{statistics.median(lat):8.4f} {tail_s}")
    all_lat = [r.latency_s for r in records]
    t = M.tail(all_lat)
    if t:
        print(f"    {'(all ops)':34s} {len(all_lat):4d} "
              f"{statistics.median(all_lat):8.4f} p{t[0]:g}={t[1]:.4f}s")

    if args.trace:
        overhead_s = tracer.overhead_s
        swept, n_att, n_failed = layer_sweep(spark, wl_cls, args, run_root,
                                             tracer, log, scale)
        attempted += n_att
        failed += n_failed
        layers = layer_table(records + swept, all_op_types())
        layers["spark.gc_ms_per_op"] = gc_ms / max(len(records), 1)
        print("  per-layer (median per op; other workloads' ops from one "
              "traced round after this workload's):")
        for k, v in layers.items():
            print(f"    {k:54s} {v:12.6g}")
        op_time = sum(r.latency_s for r in records)
        print(f"  tracing overhead: {overhead_s:.3f} s bookkeeping "
              f"over {len(records)} ops = "
              f"{100 * overhead_s / max(wall, 1e-9):.2f}% of the "
              f"timed wall ({op_time:.3f} s in calls and actions)")
        out_dir = os.path.join(REPO, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(
            out_dir, f"spans-{args.workload}-{args.seed}.json"))
        result_metrics = {k: {"value": v, "unit": _layer_unit(k)}
                          for k, v in layers.items()}
    else:
        result_metrics = {k: {"value": v, "unit": u}
                          for k, (v, u) in e2e.items()}
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed, "metrics": result_metrics}


def layer_sweep(spark, wl_cls, args, run_root, tracer, log, scale):
    """Build every other workload once and run each of its op types twice,
    untraced then traced, so that a traced run measures every per-layer
    metric; returns ``(records, attempted, failed)``."""
    from workloads import WORKLOADS
    records, attempted, failed = [], 0, 0
    for other in WORKLOADS.values():
        if other is wl_cls:
            continue
        ow = other(spark, scale)
        # inputs for one round: enough for two ops of every type
        ow.generate(os.path.join(run_root, other.name, "inputs"), args.seed,
                    1)
        ow.build(os.path.join(run_root, other.name, "build"))
        tracer.lake_roots = ow.lake_roots()
        for enabled in (False, True):
            tracer.enabled = enabled
            for name in ow.warmup()[:len(ow.OP_TYPES)]:
                rec, ok = execute(tracer, ow.make_op(name), log)
                attempted += 1
                failed += not ok
                if enabled and rec is not None:
                    records.append(rec)
    return records, attempted, failed


def all_op_types() -> list[tuple[str, bool]]:
    from workloads import WORKLOADS
    return [t for w in WORKLOADS.values() for t in w.OP_TYPES]


_UNITS = {"call_s": "s", "action_s": "s", "exec_cpu_s": "s",
          "catalyst_ms": "ms", "jobs": "count", "tasks": "count",
          "shuffle_mb": "MB", "bytes_written": "B", "gc_ms_per_op": "ms"}


def _layer_unit(name: str) -> str:
    return _UNITS[name.rsplit(".", 1)[1]]


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    sys.path.insert(0, REPO)
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        import datalake_ingestion_system_spark.session  # noqa: F401
    except ImportError as e:
        print(f"cannot import the lake package from {REPO}: {e}",
              file=sys.stderr)
        return 2
    result = run(args)
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
