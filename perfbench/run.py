"""dashing-spark benchmark: one command, two closed-loop workloads.

    python3 perfbench/run.py --workload sketch_dist --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The benchmark generates its inputs
from ``--seed`` into ``.perfbench/`` under the checkout, starts Spark on
``local[4]`` with a 2 GiB driver, sets up (session start, input
generation and load, warm-up) twice (once with ``--trace 1``, which
reports no ``setup_s``), then runs the workload's operations back to
back for ``--seconds`` seconds, checking every output against exact
answers. The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json.
``--trace 1`` starts the session with the event log on, runs
``min_ops`` operations untraced as a reference, then the loop with a
job group per span, and prints the per-layer metrics of BENCHMARK.json,
including ``trace.overhead_frac``. A per-layer metric of a layer the workload
makes no call into reads 0.

See README.md beside this file for the metric map and predictions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback
import uuid

from tracing import CORES, MemorySampler, Tracer, process_tree, stage_records

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "2g"
SETUP_REPS = 2
#: seconds to wait for the JVM and each process under it to exit
SHUTDOWN_TIMEOUT = 30.0


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def spark_conf(work: str, event_dir: str | None) -> dict:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.sql.shuffle.partitions": str(2 * CORES),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_session(work: str, event_dir: str | None = None):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.master(f"local[{CORES}]").appName("perfbench")
    for k, v in spark_conf(work, event_dir).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return False


def shutdown_jvm() -> None:
    """Stop the session, close the JVM's stdin (which ends it) and wait
    until the JVM and every process under it have exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    tree = process_tree(proc.pid)
    try:
        gw.shutdown()
    except Exception as exc:  # the JVM is going away regardless
        log(f"gateway shutdown: {exc!r}")
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=SHUTDOWN_TIMEOUT)
    except Exception:
        proc.kill()
        proc.wait(timeout=SHUTDOWN_TIMEOUT)
    deadline = time.time() + SHUTDOWN_TIMEOUT
    while any(_alive(p) for p in tree) and time.time() < deadline:
        time.sleep(0.1)
    for p in tree:
        if _alive(p):
            os.kill(p, signal.SIGKILL)
    SparkContext._gateway = None
    SparkContext._jvm = None


def measure(wl, spark, tracer, seconds: float):
    """The closed loop: next operation only after the previous one has
    completed, been checked and been reset. Returns (records,
    attempted, failed)."""
    recs, attempted, failed = [], 0, 0
    t_end = time.perf_counter() + seconds
    # past the deadline, stop once min_ops operations completed, or at
    # once if any failed (a failing program must not loop forever)
    while time.perf_counter() < t_end or (len(recs) < wl.min_ops and not failed):
        rec = None
        try:
            rec = wl.run_op(spark, tracer)
            errs = wl.check(rec)
        except Exception as exc:  # counted as a failed operation
            errs = ["".join(traceback.format_exception_only(type(exc), exc)).strip()]
        attempted += 1
        if errs:
            failed += 1
            log(f"{wl.name}: operation failed: {'; '.join(errs)}")
        if rec is not None:
            recs.append(rec)
            op = rec["op"]
            parts = ", ".join(
                f"{c.name}={c.seconds:.2f}" for c in tracer.children(op)
            )
            log(f"{wl.name}: op {op.seconds:.2f}s ({parts})")
        wl.reset(rec)
    return recs, attempted, failed


def run(args) -> dict:
    # fail fast, before any Spark process starts, in a directory that
    # holds no program to measure
    sys.path.insert(0, ROOT)
    import dashing_spark  # noqa: F401

    spec = load_spec()
    from workloads import WORKLOADS, median

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    run_id = uuid.uuid4().hex[:8]
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{run_id}")
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, sub))
    # every temporary file of this process, the JVM and the Python
    # workers lands inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # for the launcher and driver JVMs: temp files in the checkout, and
    # no hsperfdata file under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    wl = WORKLOADS[args.workload](args.seed, work)
    try:
        event_dir = os.path.join(work, "events") if args.trace else None
        setup_times = []
        spark = None
        # setup_s is an end-to-end metric: the traced run sets up once
        for _ in range(1 if args.trace else SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(work, event_dir)
            wl.setup(spark)
            setup_times.append(time.perf_counter() - t0)
        log(f"setup seconds: {[round(t, 2) for t in setup_times]}")
        wl.compute_oracle(spark)
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        if not args.trace:
            with MemorySampler(jvm_pid) as mem:
                recs, attempted, failed = measure(wl, spark, Tracer(run_id, False), args.seconds)
            values = {
                "setup_s": median(setup_times),
                **wl.end_to_end(recs),
                "peak_pss_mb": mem.peak / 2**20,
            }
            wanted = spec["end_to_end"]
        else:
            # the reference loop runs in the same session, event log on,
            # but with no spans' job groups and no /proc reads; it runs
            # only min_ops operations, so that a traced run, with its
            # extra calls, stays well inside its time limit
            ref_tracer = Tracer(run_id, False)
            _, a0, f0 = measure(wl, spark, ref_tracer, 0.0)
            tracer = Tracer(run_id, True, spark.sparkContext, jvm_pid)
            recs, attempted, failed = measure(wl, spark, tracer, args.seconds)
            attempted, failed = attempted + a0, failed + f0
            extras, extra_errs = wl.traced_extras(spark, tracer)
            for errs in extra_errs:
                attempted += 1
                if errs:
                    failed += 1
                    log(f"{wl.name}: extra operation failed: {'; '.join(errs)}")
            spark.stop()  # flushes the event log
            stages, jobs = stage_records(event_dir)
            out_dir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"{args.workload}-{args.seed}-{run_id}.jsonl"))
            values = {m["name"]: 0.0 for m in spec["per_layer"]}
            values.update(wl.layer_metrics(tracer, recs, stages, jobs, extras))
            values.update(wl.spark_metrics(tracer, stages, jobs))
            from kernels import kernel_rates

            values.update(kernel_rates(*wl.kernel_inputs(recs)))
            traced = median(s.seconds for s in tracer.named(wl.op_span))
            untraced = median(s.seconds for s in ref_tracer.named(wl.op_span))
            values["trace.overhead_frac"] = traced / untraced - 1.0 if untraced else 0.0
            wanted = spec["per_layer"]
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not produced: {missing}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in wanted
        },
    }


def main() -> None:
    args = parse_args()
    result = run(args)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
