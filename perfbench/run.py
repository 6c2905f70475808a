"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload convert --seed 1 --seconds 5 --trace 0

Everything runs in one process on one ``build_session()`` at local[nproc].
With ``--trace 0`` the result carries the end-to-end metrics of
BENCHMARK.json, measured with tracing off. With ``--trace 1`` every timed
op runs twice, untraced and traced (spans, job groups, the Spark event log
and a streaming listener), in alternating order; the result carries the
per-layer metrics and ``trace.overhead_ratio`` (traced over untraced op
wall time). Spans and their self times go to ``perfbench/.work/traces``.

Inputs come from ``--seed``. Every file the run reads or writes outside
the installed libraries lives under ``perfbench/.work`` in the checkout,
whatever the launch directory. A full result record, with the machine
and version details, is appended to ``perfbench/.work/results.jsonl``
(or ``--out``); ``perfbench/compare.py`` compares two such files.

Exit code 0 when every op's output was correct, 1 otherwise.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / "perfbench" / ".work"
DRIVER_MEMORY = "4g"


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("convert", "heavy_tail"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="result file to append to (default perfbench/.work/results.jsonl)")
    return ap.parse_args(argv)


def prepare_environment() -> None:
    """Pin every scratch location into the work dir and give Python
    workers the checkout on their import path, so the run neither depends
    on nor writes to the launch directory."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    # the launcher JVM spark-submit starts first; no hsperfdata in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEMORY)


def session_conf(event_log: Path | None) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # -XX:-UsePerfData: no hsperfdata file in the system /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
    }
    if event_log is not None:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = event_log.as_uri()
        # one plain JSON-lines file
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return conf


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus this process, in MiB."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    total_kb = 0
    for pid in (jvm_pid, "self"):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
            raise


def source_digest() -> str:
    """Content hash of the program's sources: identifies the code measured
    when the checkout is not a git repository."""
    h = hashlib.sha256()
    for p in sorted((ROOT / "json_to_parquet_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    head = ROOT / ".git" / "HEAD"
    try:
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            return (ROOT / ".git" / ref[5:]).read_text().strip()
        return ref
    except OSError:
        return None


def run_one(wl, spark, key, tracer, op_id: int, errors: list[str]) -> dict:
    """One op; its output is checked after its timing stops, and an op
    with any error is failed."""
    tracer.op = op_id
    start = time.time()
    t0 = time.perf_counter()
    with tracer.span("op"):
        info = wl.run_op(spark, key, tracer)
    wall = time.perf_counter() - t0
    tracer.op = None
    op_errors = wl.check_op(key, info)
    errors += op_errors
    return {"id": op_id, "key": key, "start": start, "end": start + wall, "wall": wall,
            "failed": bool(op_errors), **info}


def timed_rounds(wl, spark, rng, seconds, errors, tracer=None) -> tuple[list[dict], list[dict]]:
    """Whole rounds until the untraced ops' wall time reaches ``seconds``.

    With a tracer, every op also runs traced, next to its untraced twin;
    which of the two goes first alternates, so warming does not favour
    either side of ``trace.overhead_ratio``."""
    from perfbench import trace

    untraced = trace.NullTracer()
    ops: list[dict] = []
    traced: list[dict] = []
    while sum(op["wall"] for op in ops) < seconds:
        for key in wl.round(rng):
            pair = [(untraced, ops)]
            if tracer is not None:
                pair.append((tracer, traced))
                if len(ops) % 2:
                    pair.reverse()
            for tr, out in pair:
                saved = trace.install_wrappers(tr) if tr is tracer else []
                try:
                    out.append(run_one(wl, spark, key, tr, len(out), errors))
                finally:
                    trace.uninstall_wrappers(saved)
    return ops, traced


def end_to_end(ops: list[dict], setup_s: float) -> dict:
    from perfbench import stats

    walls = [op["wall"] for op in ops]
    per_key: dict = {}
    for op in ops:
        per_key.setdefault(op["key"], []).append(op["wall"])
    return {
        "setup_s": (setup_s, "s", 1),
        "throughput_ops_per_s": (len(ops) / sum(walls), "1/s", len(ops)),
        "latency_p50_s": (statistics.median(walls), "s", len(ops)),
        "query_geomean_s": (
            stats.geomean([statistics.median(v) for v in per_key.values()]), "s", len(ops)
        ),
    }


PER_LAYER_UNITS = {
    "session.start_s": "s",
    "memory.peak_rss_mb": "MB",
    "sources.ndjson.read_s": "s",
    "sources.ndjson.infer_job_s": "s",
    "sources.ndjson.scan_tasks": "count",
    "functions.dt_rewrite.build_s": "s",
    "operators.convert.sample_job_s": "s",
    "operators.convert.write_job_s": "s",
    "operators.convert.verify_s": "s",
    "operators.convert.output_files": "count",
    "operators.convert.output_bytes_ratio": "ratio",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.build_share": "ratio",
    "catalyst.plan_s": "s",
    "streaming.batches": "count",
    "streaming.add_batch_s": "s",
    "streaming.engine_s": "s",
    "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes",
    "exec.execute_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.slot_busy_ratio": "ratio",
    "exec.empty_task_ratio": "ratio",
    "trace.overhead_ratio": "ratio",
    "trace.span_coverage": "ratio",
}


def main(argv=None) -> int:
    args = parse_args(argv)
    # The program must be importable from the checkout; without it this
    # raises before anything is measured or printed.
    sys.path.insert(0, str(ROOT))
    import json_to_parquet_spark.operators.convert  # noqa: F401
    import pyspark

    prepare_environment()
    from json_to_parquet_spark.session import DEFAULT_CPUS, build_session
    from perfbench import trace, workloads

    wl = workloads.make(args.workload, str(WORK), args.seed)
    wl.prepare()  # input generation: the load generator's cost, not set-up

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    event_log = WORK / "eventlog" / run_id if args.trace else None
    if event_log is not None:
        event_log.mkdir(parents=True)
    rng = random.Random(args.seed)
    errors: list[str] = []

    t0 = time.perf_counter()
    spark = build_session(app_name=f"perfbench-{args.workload}", extra_conf=session_conf(event_log))
    session_s = time.perf_counter() - t0
    try:
        env = {
            "nproc": os.cpu_count(),
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "cores": DEFAULT_CPUS,
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "pyspark": pyspark.__version__,
            "commit": git_commit(),
            "source_digest": source_digest(),
        }
        warm_ops = wl.warm_up(spark, rng)
        for op in warm_ops:
            errors += op["errors"]
        if args.trace:
            tracer = trace.Tracer(spark)
            listener = trace.make_progress_listener()
            spark.streams.addListener(listener)
            ops, traced_ops = timed_rounds(wl, spark, rng, args.seconds, errors, tracer)
            time.sleep(1.0)  # listener events arrive asynchronously
            spark.streams.removeListener(listener)
        else:
            ops, traced_ops = timed_rounds(wl, spark, rng, args.seconds, errors)
        rss = peak_rss_mb(spark)
    finally:
        stop_session(spark)

    setup_s = session_s + sum(op["wall"] for op in warm_ops)
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": env,
        "errors": errors[:20],
        "session_s": session_s,
        "peak_rss_mb": rss,
        "warm_ops": [{"key": op["key"], "wall": op["wall"]} for op in warm_ops],
        "ops": [{"key": op["key"], "wall": op["wall"]} for op in ops],
    }
    if args.trace:
        jobs = trace.read_event_log(str(event_log))
        layer = trace.layer_metrics(traced_ops, tracer.spans, jobs, listener.batches, DEFAULT_CPUS)
        layer["session.start_s"] = session_s
        layer["memory.peak_rss_mb"] = rss
        layer["trace.overhead_ratio"] = sum(o["wall"] for o in traced_ops) / sum(
            o["wall"] for o in ops
        )
        for k in ("output_files", "output_bytes_ratio"):
            vals = [o[k] for o in traced_ops if k in o]
            layer[f"operators.convert.{k}"] = sum(vals) / len(vals) if vals else 0.0
        metrics = {k: (layer[k], PER_LAYER_UNITS[k], len(traced_ops)) for k in PER_LAYER_UNITS}
        self_s = trace.self_times(tracer.spans)
        trace_dir = WORK / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        with open(trace_dir / f"{run_id}.json", "w") as f:
            json.dump({
                "spans": [vars(s) for s in tracer.spans],
                "self_s": self_s,
                "jobs": trace.job_table(jobs, tracer.spans),
                "ops": traced_ops,
            }, f)
        shutil.rmtree(event_log, ignore_errors=True)
        print("self time by span (s):")
        for name, v in sorted(self_s.items(), key=lambda kv: -kv[1]):
            print(f"  {name:28s} {v:9.3f}")
    else:
        metrics = end_to_end(ops, setup_s)
    result["metrics"] = {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in metrics.items()}

    out = Path(args.out) if args.out else WORK / "results.jsonl"
    out.parent.mkdir(parents=True, exist_ok=True)
    with open(out, "a") as f:
        f.write(json.dumps(result) + "\n")

    for name, (value, unit, n) in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {unit} (samples={n})")
    for e in errors:
        print(f"INCORRECT: {e}")
    checked = ops + traced_ops
    attempted = len(warm_ops) + len(checked)
    failed = sum(1 for op in warm_ops if op["errors"]) + sum(1 for op in checked if op["failed"])
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }))
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())
