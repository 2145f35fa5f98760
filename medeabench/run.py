"""Run one benchmark workload and print its metrics as one JSON line.

    python3 medeabench/run.py --workload nightly --seed 1 --seconds 10 --trace 0

Load shape: a closed loop with one client.  One driver process runs
ops back to back on ``local[nproc]``.  A run:

1. generates the workload's input from ``--seed`` (pyarrow, untimed);
2. sets up once: session start, schema compile, Python worker start
   and the first, cold op (``setup_s``);
3. warms up with two ops, then runs ops for ``--seconds`` (at least
   three); every op's output is checked, untimed.  The end-to-end
   figures come from the first three measured ops alone, so a faster
   program, which fits more ops into ``--seconds``, is not also timed
   on later, warmer ops.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
traced and bare ops and prints the per-layer metrics.  The last stdout
line is the result; the run record goes to stderr and, with the
spans, to ``medeabench/_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WARMUP_OPS = 2
MIN_OPS = 3
DRIVER_MEMORY = "1g"


def _conf(work: str) -> dict:
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap: no heap growth while ops warm up
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
        "spark.ui.showConsoleProgress": "false",
    }


def stop_spark(spark) -> None:
    """Stop the session, end its JVM and Python workers, and wait."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    jvm = gw.proc
    procs = tracing.descendants(jvm.pid)
    spark.stop()
    gw.shutdown()
    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        jvm.wait(60)
    except Exception:
        jvm.kill()
        jvm.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 20
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def kernel_microbench(graph, docs: list[str], passes: int = 5) -> dict:
    """Single-thread driver calls of the kernel's parse and walk over a
    fixed seeded sample; median per-doc time over ``passes``."""
    from medea_spark.kernel import validate_value
    from medea_spark.kernel.validator import parse_json

    parse, walk = [], []
    for _ in range(passes):
        t0 = time.perf_counter()
        values = [parse_json(d) for d in docs]
        t1 = time.perf_counter()
        for v in values:
            validate_value(graph, v)
        t2 = time.perf_counter()
        parse.append((t1 - t0) / len(docs))
        walk.append((t2 - t1) / len(docs))
    return {
        "kernel.parse_us_per_doc": statistics.median(parse) * 1e6,
        "kernel.walk_us_per_doc": statistics.median(walk) * 1e6,
        "kernel.doc_bytes_mean": statistics.mean(len(d.encode()) for d in docs),
    }


class Runner:
    """Runs ops of one workload and keeps a record of each."""

    def __init__(self, name: str, wl, work: str) -> None:
        self.name, self.wl, self.work = name, wl, work
        self.ops: list[dict] = []  # phase, traced, ok, seconds; traced: status, layers, spans

    def run_op(self, ctx, phase: str, traced: bool, window=None) -> dict:
        ctx.op_no += 1
        ctx.tracer.op = ctx.op_no
        ctx.tracer.enabled = traced
        ctx.spark.catalog.clearCache()
        rec = {"phase": phase, "traced": traced, "ok": False}
        jvm = ctx.spark.sparkContext._gateway.proc.pid
        c0, host0 = tracing.cpu_s(jvm) + sum(os.times()[:2]), tracing.cpu_times()
        w0, t0 = time.time(), time.perf_counter()
        try:
            with ctx.tracer.span(f"op.{self.name}"):
                out = self.wl.op(ctx)
                if window is not None:
                    rec["status"] = window.read(w0, time.time())
            rec["seconds"] = time.perf_counter() - t0
            rec["cpu_s"] = tracing.cpu_s(jvm) + sum(os.times()[:2]) - c0
            rec["steal"] = tracing.steal_share(host0, tracing.cpu_times())
            problems = self.wl.check(out, ctx)
            if traced:
                rec["layers"] = self.wl.layers(out, ctx)
                rec["spans"] = {
                    s.name: s.end - s.start for s in ctx.tracer.spans if s.op == ctx.op_no
                }
            rec["ok"] = not problems
            for p in problems:
                print(f"medeabench: op {ctx.op_no} ({phase}): {p}", file=sys.stderr)
        except Exception:
            rec["seconds"] = time.perf_counter() - t0
            print(f"medeabench: op {ctx.op_no} ({phase}) raised:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
        shutil.rmtree(os.path.join(self.work, "ops"), ignore_errors=True)
        self.ops.append(rec)
        return rec


def run(args, work: str) -> tuple[dict, dict]:
    import inputs
    import oracle
    from workloads import WORKLOADS, Ctx

    from medea_spark.compiler import load_schema
    from medea_spark.engine import get_spark, make_validation_udf

    nproc = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload]
    rows = args.rows or wl.rows
    cpu0, load0 = tracing.cpu_times(), tracing.loadavg()
    inp = inputs.make_inputs(args.seed, rows, wl.vendored_share, os.path.join(work, "data"))
    exp = oracle.Expected(inp)
    expected = wl.expect(exp)
    tracer = tracing.Tracer(enabled=bool(args.trace))
    runner = Runner(args.workload, wl, work)

    t0 = time.perf_counter()
    with tracer.span("engine.session"):
        spark = get_spark(app_name="medeabench", cores=nproc, extra_conf=_conf(work))
    try:
        with tracer.span("compiler.load_schema"):
            graph = load_schema(os.path.join(HERE, "corpus.medea"))
        with tracer.span("engine.worker_warmup"):
            from pyspark.sql import functions as F

            docs = spark.range(nproc, numPartitions=nproc).select(F.lit("{}").alias("c"))
            docs.select(make_validation_udf(graph)(F.col("c"))).collect()
        ctx = Ctx(spark, graph, inp, exp, expected, work, tracer)
        runner.run_op(ctx, "cold", traced=bool(args.trace))
        setup_s = time.perf_counter() - t0
        setup_spans = {
            "engine.session_s": tracer.seconds("engine.session", None),
            "compiler.compile_ms": tracer.seconds("compiler.load_schema", None) * 1e3,
            "engine.worker_warmup_s": tracer.seconds("engine.worker_warmup", None),
        }

        for _ in range(WARMUP_OPS):
            runner.run_op(ctx, "warmup", traced=False)

        window = tracing.StatusWindow(spark) if args.trace else None
        start = time.perf_counter()
        n = 0
        while n < MIN_OPS or time.perf_counter() - start < args.seconds:
            traced = bool(args.trace) and n % 2 == 1
            runner.run_op(ctx, "measured", traced=traced, window=window if traced else None)
            n += 1

        jvm_pid = spark.sparkContext._gateway.proc.pid
        jvm_rss, worker_rss = tracing.peak_rss_mb(jvm_pid)
        micro = kernel_microbench(graph, inp.sample) if args.trace else {}
        versions = tracing.versions(spark)
    finally:
        stop_spark(spark)

    measured = [o for o in runner.ops if o["phase"] == "measured"]
    ok = sum(o["ok"] for o in measured)
    failed = sum(not o["ok"] for o in runner.ops)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "rows": rows,
        "table_bytes": inp.table_bytes,
        "nproc": nproc,
        "source_sha256": tracing.source_hash(ROOT),
        "versions": versions,
        "loadavg_start": load0,
        "loadavg_end": tracing.loadavg(),
        "steal_share": tracing.steal_share(cpu0, tracing.cpu_times()),
        "setup_s": setup_s,
        "ops": [
            {k: o.get(k) for k in ("phase", "traced", "ok", "seconds", "cpu_s", "steal")}
            for o in runner.ops
        ],
    }
    if args.trace:
        metrics = layer_metrics(measured, setup_spans, micro, inp, nproc)
        record["layers"] = metrics
        record["write_reconcile"] = [  # (status-store output bytes, bytes on disk)
            (o["status"]["output_bytes"], o["layers"]["fs_executor_bytes"])
            for o in measured
            if "fs_executor_bytes" in o.get("layers", {})
        ]
    else:
        timed = measured[:MIN_OPS]  # the same op indices, whatever --seconds allows
        metrics = {
            "files_per_s": (rows * len(timed) / sum(o["seconds"] for o in timed), "1/s"),
            "setup_s": (setup_s, "s"),
            "ok_rate": (ok / len(measured), "ratio"),
            "jvm_peak_rss_mb": (jvm_rss, "MB"),
            "worker_peak_rss_mb": (worker_rss, "MB"),
        }
    result = {
        "correct": failed == 0,
        "attempted": len(runner.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    tracer.dump(os.path.join(HERE, "_work", f"spans-{args.workload}-{args.seed}-{args.trace}.json"))
    return result, record


def layer_metrics(measured, setup_spans, micro, inp, nproc) -> dict:
    traced = [o for o in measured if o["traced"] and "layers" in o]
    bare = [o["seconds"] for o in measured if not o["traced"]]
    if not traced:
        raise RuntimeError("no traced op completed; see the errors above")

    def med(f) -> float:
        return statistics.median(f(o) for o in traced)

    def st(key: str) -> float:
        return med(lambda o: o["status"][key])

    def layer(key: str) -> float:
        return med(lambda o: o["layers"].get(key, 0.0))

    def span(name: str) -> float:
        return med(lambda o: o["spans"].get(name, 0.0))

    rows = inp.n_rows
    return {
        "compiler.compile_ms": (setup_spans["compiler.compile_ms"], "ms"),
        "engine.session_s": (setup_spans["engine.session_s"], "s"),
        "engine.worker_warmup_s": (setup_spans["engine.worker_warmup_s"], "s"),
        "kernel.parse_us_per_doc": (micro["kernel.parse_us_per_doc"], "us"),
        "kernel.walk_us_per_doc": (micro["kernel.walk_us_per_doc"], "us"),
        "kernel.doc_bytes_mean": (micro["kernel.doc_bytes_mean"], "B"),
        "engine.python_bytes_sent_per_file": (st("py_sent") / rows, "B/file"),
        "engine.python_bytes_returned_per_file": (st("py_returned") / rows, "B/file"),
        "engine.jobs": (st("jobs"), "count"),
        "engine.stages": (st("stages"), "count"),
        "engine.tasks": (st("tasks"), "count"),
        "engine.executor_run_s": (st("run_s"), "s"),
        "engine.executor_cpu_s": (st("cpu_s"), "s"),
        "engine.core_utilization": (
            med(lambda o: o["status"]["run_s"] / (o["seconds"] * nproc)), "ratio"
        ),
        "engine.scan_amplification": (st("input_bytes") / inp.table_bytes, "ratio"),
        "engine.shuffle_bytes_per_file": (st("shuffle_write_bytes") / rows, "B/file"),
        "engine.spill_bytes": (st("spill_bytes"), "B"),
        "engine.failed_tasks": (st("failed_tasks"), "count"),
        "engine.kernel_task_max_over_p50": (st("kernel_task_max_over_p50"), "ratio"),
        "engine.skew_detect_s": (span("engine.detect_skewed_keys"), "s"),
        "checkpoint.waves": (layer("checkpoint.waves"), "count"),
        "checkpoint.wave_s_p50": (layer("checkpoint.wave_s_p50"), "s"),
        "checkpoint.wave_s_max": (layer("checkpoint.wave_s_max"), "s"),
        "checkpoint.done_lookup_s": (layer("checkpoint.done_lookup_s"), "s"),
        "checkpoint.write_bytes_per_file": (layer("checkpoint.write_bytes_per_file"), "B/file"),
        "checks.column_stats_s": (span("checks.column_stats"), "s"),
        "checks.uniqueness_s": (span("checks.uniqueness_report"), "s"),
        "checks.referential_s": (span("checks.referential_report"), "s"),
        "checks.drift_s": (span("checks.drift_decision"), "s"),
        "checks.suite_s": (span("checks.run_check_suite"), "s"),
        "trace.overhead_pct": (
            (med(lambda o: o["seconds"]) / statistics.median(bare) - 1) * 100, "%"
        ),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=None, help="override the workload's row count")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import medea_spark.checkpoint
        import medea_spark.checks  # noqa: F401
        import medea_spark.engine  # noqa: F401
    except ImportError as e:
        print(f"medeabench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(medea_spark.checkpoint.__file__).startswith(ROOT + os.sep):
        print(f"medeabench: the program was imported from outside {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"medeabench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    os.makedirs(os.path.join(HERE, "_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"run-{args.workload}-{args.seed}-", dir=os.path.join(HERE, "_work"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    tempfile.tempdir = os.environ["TMPDIR"] = tmp
    # every JVM, the launcher's too, keeps its temp files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    try:
        result, record = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    line = json.dumps(record)
    print(f"medeabench-record {line}", file=sys.stderr)
    with open(os.path.join(HERE, "_work", "runs.jsonl"), "a") as fh:
        fh.write(line + "\n")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
