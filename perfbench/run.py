"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Builds the workload's inputs from
the seed, starts one SparkSession on ``local[<cores>]`` through the
engine's own ``session.get_spark``, runs the workload's single-client
closed loop for at least ``--seconds`` (stopping at a cycle boundary),
checks every result, and prints one JSON object as the last line of
stdout.  A human-readable report goes to stderr.  With ``--trace 1``
the untraced window is followed by up to two pairs of cycles, an
untraced reference cycle and a traced one in each, and the JSON
carries the per-layer metrics and the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ["registry_reports", "run_ingest"]


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """Highest-percentile value with at least ten samples beyond it:
    (value, percentile, samples beyond).  With ten or fewer samples no
    percentile qualifies and there is no value (None)."""
    v = sorted(values)
    n = len(v)
    if n < 11:
        return None
    r = n - 11
    return v[r], 100.0 * r / (n - 1), n - 1 - r


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python driver plus its JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    try:
        pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except (OSError, ValueError):
        pass
    return (py_kb + jvm_kb) / 1024.0


def loop(workload, rec, seconds: float, cycles: int | None = None) -> tuple[list, float, int]:
    """Closed loop over whole cycles until ``seconds`` have passed and
    the workload's ``MIN_CYCLES`` have run (or exactly ``cycles``
    cycles).  Returns (op records, wall s, cycles)."""
    first = len(rec.ops)
    t0 = time.perf_counter()
    n = 0
    while True:
        ops = workload.cycle()
        if not ops:  # inputs exhausted: the window ends early
            break
        for slot, (kind, name, fn, check) in enumerate(ops):
            op, result = rec.run_op(kind, name, fn)
            op.slot = slot
            if op.ok:
                err = check(result)
                if err:
                    op.ok, op.error = False, err
        n += 1
        if cycles is not None:
            if n >= cycles:
                break
        elif n >= workload.MIN_CYCLES and time.perf_counter() - t0 >= seconds:
            break
    return rec.ops[first:], time.perf_counter() - t0, n


def ops_per_s(ops) -> float:
    """Completed operations per second of a typical cycle: the cycle's
    operations over the sum, across its slots, of each slot's median
    latency over the window's cycles (with one cycle: the summed
    latency), scaled by the share of operations that succeeded."""
    by_slot: dict[int, list[float]] = {}
    for o in ops:
        by_slot.setdefault(o.slot, []).append(o.latency_s)
    cycle_s = sum(statistics.median(v) for v in by_slot.values())
    ok = sum(1 for o in ops if o.ok) / len(ops) if ops else 0.0
    return ok * len(by_slot) / cycle_s if cycle_s else 0.0


def install_catalog_wrapper(rec) -> None:
    """Traced runs only: count and time catalog.load_table wherever the
    engine's modules imported it."""
    from data_management_python_spark import catalog  # noqa: PLC0415

    orig = catalog.load_table

    def load_table(spark, sf_dir, name):
        rec.count("catalog.load_table_calls")
        with rec.span("catalog.load_table"):
            return orig(spark, sf_dir, name)

    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "") or "").startswith("data_management_python_spark") \
                and getattr(mod, "load_table", None) is orig:
            mod.load_table = load_table


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext  # noqa: PLC0415

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "data_management_python_spark", "store.py")) \
            or not os.path.isfile(os.path.join(ROOT, "tools", "selfcheck.py")):
        _fail(f"the engine sources are not under {ROOT}; run from a full checkout")
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    cores = os.cpu_count() or 1
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    # everything the run writes stays inside the checkout
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # both JVMs (spark-submit's launcher and the Spark driver) keep their
    # temp files in the checkout and write no /tmp/hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"

    from perfbench.trace import Recorder  # noqa: PLC0415
    from perfbench.workloads import WORKLOADS  # noqa: PLC0415

    spark = None
    try:
        t_setup = time.perf_counter()
        from data_management_python_spark.session import get_spark  # noqa: PLC0415

        # SPARK_GRAFT_CPUS sets local[<cores>]; every other setting is
        # the engine's own
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            },
        )
        get_spark_s = time.perf_counter() - t_setup
        spark.sparkContext.setLogLevel("ERROR")
        rec = Recorder(spark, tracing=False)
        wl = WORKLOADS[args.workload](spark, rec, work, args.seed)
        wl.setup()
        setup_s = time.perf_counter() - t_setup
        rec.mark_jobs()

        ops, wall, n_cycles = loop(wl, rec, args.seconds)
        traced = None
        if args.trace:
            # up to TRACED_PAIRS pairs of cycles, alternating an untraced
            # reference cycle and a traced one; every cycle of a
            # workload does the same work, and both see the same warm
            # state
            install_catalog_wrapper(rec)
            traced = {"ops": [], "wall": 0.0, "ref_wall": 0.0}
            for _ in range(min(n_cycles, TRACED_PAIRS)):
                _, ref_wall, ref_n = loop(wl, rec, 0, cycles=1)
                rec.tracing = True
                t_ops, t_wall, t_n = loop(wl, rec, 0, cycles=1)
                rec.tracing = False
                if not (ref_n and t_n):  # inputs exhausted
                    break
                traced["ref_wall"] += ref_wall
                traced["ops"] += t_ops
                traced["wall"] += t_wall
            rec.dump(os.path.join(ROOT, ".bench_work", f"spans-{args.workload}-{args.seed}.json"))
        verify_fails = wl.verify()
        rss = peak_rss_mb(spark)
        layer = wl.layer_metrics()
        store_ratio = None
        if wl.store_root and wl.user_bytes:
            on_disk = sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, fs in os.walk(wl.store_root) for f in fs
            )
            store_ratio = on_disk / wl.user_bytes
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    all_ops = rec.ops
    for op_id, reason in verify_fails:
        if op_id is not None:
            all_ops[op_id].ok, all_ops[op_id].error = False, reason
    unattributed = [r for op_id, r in verify_fails if op_id is None]
    attempted = len(all_ops)
    failed = min(attempted, sum(1 for o in all_ops if not o.ok) + len(unattributed))

    ok = [o for o in ops if o.ok]
    reads = [o.latency_s for o in ok if o.kind == "read"]
    writes = [o.latency_s for o in ok if o.kind == "write"]
    e2e = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (ops_per_s(ops), "ops/s"),
        "read_p50_s": (statistics.median(reads) if reads else None, "s"),
        "read_tail_s": ((tail(reads) or [None])[0], "s"),
        "write_p50_s": (statistics.median(writes) if writes else None, "s"),
        "write_tail_s": ((tail(writes) or [None])[0], "s"),
        "failed_op_ratio": (failed / attempted, "fraction"),
        "peak_rss_mb": (rss, "MB"),
        "store_bytes_per_user_byte": (store_ratio, "ratio"),
    }

    err = sys.stderr
    print(f"== {args.workload} seed={args.seed} seconds={args.seconds} "
          f"cores={cores} cycles={n_cycles} window_wall={wall:.3f}s", file=err)
    for name, (value, unit) in e2e.items():
        shown = "n/a (too few or no such operations)" if value is None else f"{value:.6g} {unit}"
        print(f"  {name:28s} {shown}", file=err)
    for label, vals in (("read", reads), ("write", writes)):
        if tail(vals):
            _v, pct, beyond = tail(vals)
            print(f"  {label}_tail = p{pct:.1f} of {len(vals)} samples, "
                  f"{beyond} beyond it", file=err)
    for kind in sorted({o.name for o in ops}):
        sel = [o for o in ops if o.name == kind]
        print(f"  op {kind}: n={len(sel)} p50={statistics.median(o.latency_s for o in sel):.4f}s "
              f"jobs/stages/tasks per op (median) = "
              f"{statistics.median(o.jobs for o in sel):g}/"
              f"{statistics.median(o.stages for o in sel):g}/"
              f"{statistics.median(o.tasks for o in sel):g}", file=err)
    print("  setup phases: session %.3fs, " % get_spark_s
          + ", ".join(f"{k} {v:.3f}s" for k, v in wl.phases.items()), file=err)
    print(f"  attempted={attempted} failed={failed}", file=err)
    for o in all_ops:
        if not o.ok:
            print(f"  FAILED op {o.op} ({o.name}): {o.error}", file=err)
    for r in unattributed:
        print(f"  FAILED end-of-run check: {r}", file=err)

    if args.trace:
        metrics = per_layer(rec, traced, ops, get_spark_s, layer)
    else:
        metrics = {
            name: {"value": value, "unit": unit}
            for name, (value, unit) in e2e.items()
            if name in GATED
        }
        missing = [n for n in GATED if metrics[n]["value"] is None]
        if missing:
            _fail(f"no value for {missing} on {args.workload}")
    for name, m in metrics.items():
        if args.trace:
            print(f"  {name:48s} {m['value']:.6g} {m['unit']}", file=err)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


# end-to-end metrics gated in BENCHMARK.json: every workload defines
# them.  The write-side metrics and the storage ratio are printed where
# they exist; peak_rss_mb is printed, its run-to-run spread (JVM heap
# growth follows GC timing) is too wide to gate.
GATED = ["setup_s", "ops_per_s", "read_p50_s", "read_tail_s"]
# pairs of reference and traced cycles a traced run adds at most
TRACED_PAIRS = 2

LAYER_SPANS = [
    "catalog.load_table",
    "plans.relational.fn", "plans.relational.collect",
    "plans.tpch.fn", "plans.tpch.collect",
    "plans.analytics.fn", "plans.analytics.collect",
    "plans.graph.fn", "plans.graph.collect",
    "plans.cosmx_queries.fn", "plans.cosmx_queries.collect",
    "llmdata.queries.fn", "llmdata.queries.collect",
    "store.fetch_by", "store.exists", "store.store_records",
    "store.store_with_attributes", "store.transaction_commit",
    "streaming.discover_new_runs", "streaming.ingest_batch",
    "sources.read_samplesheet", "sources.read_runinfo", "sources.read_demux_stats",
    "sources.list_fastq_files", "sources.count_fastq_reads_many",
    "validation.metadata",
    "plans.demux_pipeline.build_work_units",
    "plans.demux_pipeline.register_fastq_outputs",
    "qc.barcode_qc",
]
LAYER_COUNTS = {
    "operators.session_cache.hits": "count",
    "operators.session_cache.hit_ratio": "ratio",
    "operators.session_cache.build_s": "s",
    "store.files_written": "count",
    "store.bytes_written": "bytes",
    "store.write_amplification": "ratio",
    "store.files_live": "count",
    "validation.violations_flagged": "count",
}


def per_layer(rec, traced, untraced_ops, get_spark_s, layer) -> dict:
    """Per-layer metrics of the traced cycles: mean self seconds per
    call of each layer span, Spark work per operation of the untraced
    window, layer counters, and the tracing overhead (traced minus
    untraced wall time of the alternating reference cycles)."""
    t_ops = traced["ops"]
    n = len(t_ops) or 1
    selft = rec.self_times()
    out = {"session.get_spark_s": {"value": get_spark_s, "unit": "s"}}
    out["catalog.load_table_calls"] = {
        "value": rec.counters.get("catalog.load_table_calls", 0) / n, "unit": "count"}
    for name in LAYER_SPANS:
        total, calls = selft.get(name, (0.0, 0))
        out[f"{name}_s"] = {"value": total / calls if calls else 0.0, "unit": "s"}
    for key in ("jobs", "stages", "tasks"):
        total = sum(getattr(o, key) for o in untraced_ops)
        out[f"spark.{key}_per_op"] = {
            "value": total / len(untraced_ops) if untraced_ops else 0.0, "unit": "count"}
    for key, unit in LAYER_COUNTS.items():
        out[key] = {"value": float(layer.get(key, 0.0)), "unit": unit}
    out["store.writer_conflicts"] = {
        "value": float(sum(1 for o in rec.ops if o.error and "ConcurrentWriterError" in o.error)),
        "unit": "count"}
    out["trace.overhead_s"] = {"value": traced["wall"] - traced["ref_wall"], "unit": "s"}
    return out


if __name__ == "__main__":
    sys.exit(main())
