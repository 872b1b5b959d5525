"""KG-construction benchmark.

    python3 perfbench/run.py --workload wiki_extract --seed 1 --seconds 10 --trace 0

Run from the root of a checkout that holds the ``kbspark`` package. The
run generates its inputs from ``--seed`` under ``.perfbench_tmp/``, sets
up a ``local[nproc]`` Spark session (JVM launch, input load, warm-up
runs), checks the program's output once against an oracle, then runs the
job closed-loop (one job at a time, back to back) for ``--seconds`` and
checks every run. The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics of a separate traced run
(``--trace 1``). The line before it holds the run's details. See
perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: driver JVM heap, well below the RAM of a small machine; the heap is
#: committed and touched at start so that peak RSS does not depend on
#: when the garbage collector chose to grow it
DRIVER_MEMORY = "2g"


_T0 = time.monotonic()


def _log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - _T0:7.2f}s] {msg}", file=sys.stderr,
          flush=True)


def start_session(work: str, cpus: int, event_log: str | None = None):
    from kbspark.session import get_spark

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
    }
    if event_log:
        extra["spark.eventLog.enabled"] = "true"
        extra["spark.eventLog.dir"] = "file://" + event_log
        # one plain JSON-lines file
        extra["spark.eventLog.rolling.enabled"] = "false"
        extra["spark.eventLog.compress"] = "false"
    return get_spark(app="perfbench", cpus=cpus, shuffle_partitions=cpus,
                     driver_memory=DRIVER_MEMORY, extra=extra)


def stop_session() -> None:
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()


def shutdown_jvm() -> None:
    """Stop Spark and the gateway JVM, then wait until every process this
    run started has exited."""
    from pyspark import SparkContext

    from perfbench.tracing import child_processes

    from py4j.protocol import Py4JError

    stop_session()
    gw = SparkContext._gateway
    if gw is not None:
        proc = gw.proc
        try:
            gw.shutdown()
        except Py4JError as e:  # the JVM is already gone
            _log(f"gateway shutdown: {e}")
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    # Python workers exit once the JVM closes their sockets
    deadline = time.monotonic() + 10
    while child_processes() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in child_processes():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while child_processes() and time.monotonic() < deadline + 10:
        time.sleep(0.1)


def set_up(wl, work: str, cpus: int, event_log: str | None = None):
    """Session start (launching the JVM), input load and the workload's
    discarded warm-up runs; returns the session and the seconds each
    phase took."""
    from kbspark.session import reset_memos

    t0 = time.perf_counter()
    spark = start_session(work, cpus, event_log)
    t1 = time.perf_counter()
    wl.load(spark)
    t2 = time.perf_counter()
    for _ in range(wl.warmups):
        reset_memos()
        wl.warmup(spark)
    t3 = time.perf_counter()
    return spark, {"start_s": t1 - t0, "load_s": t2 - t1, "warmup_s": t3 - t2}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def timed_run(wl, work: str, cpus: int, seconds: float) -> tuple[dict, dict]:
    """Set up once, check once, then run closed-loop for ``seconds``."""
    from kbspark.session import reset_memos

    from perfbench.tracing import RssSampler
    from perfbench.workloads import CheckFailed

    spark, phases = set_up(wl, work, cpus)
    setup_s = sum(phases.values())
    _log(f"set up: {phases}")

    correct = True
    try:
        reset_memos()
        wl.check(spark)
    except CheckFailed as e:
        _log(f"check failed: {e}")
        correct = False
    _log("checked")

    runs, attempted, failed = [], 0, 0
    deadline = time.perf_counter() + seconds
    with RssSampler() as rss:
        while True:
            reset_memos()
            attempted += 1
            try:
                r = wl.run(spark, attempted)
            except Exception:  # a failed run is counted, the loop goes on
                traceback.print_exc()
                r = {"ok": False}
            if r["ok"]:
                runs.append(r)
            else:
                failed += 1
            _log(f"run {attempted}: {r}")
            if time.perf_counter() >= deadline:
                break

    job_s = _median([r["job_s"] for r in runs])
    metrics = {
        "setup_s": setup_s,
        "job_s": job_s,
        "docs_per_s": wl.stats["docs"] / job_s if job_s else 0.0,
        "rows_per_s": (_median([r["rows"] for r in runs]) / job_s
                       if job_s else 0.0),
    }
    detail = {
        "peak_rss_mb": rss.peak / 2**20,
        "spark_conf": _confs(spark),
        "setup_phases": phases,
        "job_s_all": [r["job_s"] for r in runs],
        "samples": len(runs),
        "failed_runs_ratio": failed / attempted,
    }
    for key in ("killed_s", "resume_s", "resume_overhead"):
        if runs and key in runs[0]:
            detail[key] = _median([r[key] for r in runs])
    return {"correct": correct and failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}, detail


def traced_run(wl, work: str, cpus: int) -> tuple[dict, dict]:
    """One set-up (with the event log on), the decomposed traced run, then
    one untraced run for reference."""
    from kbspark.session import reset_memos

    from perfbench.tracing import (Tracer, parse_event_log, spark_counters,
                                   totals)
    from perfbench.workloads import CheckFailed

    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    spark, phases = set_up(wl, work, cpus, event_log=log_dir)

    correct = True
    try:
        reset_memos()
        wl.check(spark)
    except CheckFailed as e:
        _log(f"check failed: {e}")
        correct = False
    reset_memos()
    tr = Tracer(spark, f"{wl.name}-{os.getpid()}")
    traced = wl.trace(spark, tr)
    # the untraced reference runs after the traced one, so that JIT
    # warm-up between the two can only inflate the reported overhead
    reset_memos()
    plain = wl.untraced_run(spark, 0)
    metrics = {}
    if hasattr(wl, "scaling_run"):
        reset_memos()
        one_task_s = wl.scaling_run(spark)
        # docs/s at cpus tasks / (cpus x docs/s at one task on 1/4 input)
        metrics["workload.scaling_eff"] = (
            (wl.stats["docs"] / plain["job_s"])
            / (cpus * (wl.stats["docs"] // 4) / one_task_s))
    confs = _confs(spark)
    stop_session()  # flushes the event log
    log = parse_event_log(log_dir)

    accounted = {s["id"] for r in traced["roots"] for s in tr.subtree(r)}
    # child spans nest inside their parents, so the self times of the
    # accounted spans sum to the durations of their roots
    self_total = sum(tr.spans[i]["end"] - tr.spans[i]["start"]
                     for i in traced["roots"])

    def layer_ids(layer):
        return {i for i in traced["spans"]
                if tr.spans[i]["name"].split(".")[0] == layer}

    extract, triples = totals(log, layer_ids("extract")), totals(
        log, layer_ids("triples"))
    metrics.update({
        "session.start_s": phases["start_s"],
        "session.warmup_s": phases["warmup_s"],
        "extract.py_bytes_in": extract["py_bytes_in"],
        "extract.py_bytes_out": extract["py_bytes_out"],
        "triples.shuffle_bytes": triples["shuffle_write_bytes"],
        "workload.job_s": plain["job_s"],
        "trace.self_total_s": self_total,
        "trace.overhead_s": self_total - plain["job_s"],
    })
    metrics.update(spark_counters(log, accounted, self_total, cpus))
    metrics.update(traced["metrics"])
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tr.write(os.path.join(out_dir, f"spans-{wl.name}-{os.getpid()}.jsonl"))
    failed = int(not plain["ok"]) + int(not traced["ok"])
    return {"correct": correct and failed == 0, "attempted": 2,
            "failed": failed, "metrics": metrics}, {"spark_conf": confs}


def _confs(spark) -> dict:
    return {k: v for k, v in spark.sparkContext.getConf().getAll()
            if k.startswith("spark.") and not k.endswith(("dir", "Options"))}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "kbspark", "__init__.py")):
        _log(f"no kbspark package under {ROOT}")
        return 2
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; one of {list(WORKLOADS)}")
        return 2

    work = os.path.join(ROOT, ".perfbench_tmp",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers import kbspark and perfbench; all scratch files stay
    # inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (the spark-submit launcher too): temp files in the work
    # dir and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.environ['TMPDIR']}"]))
    cpus = len(os.sched_getaffinity(0))
    try:
        t0 = time.perf_counter()
        wl = WORKLOADS[args.workload](work, args.seed)
        gen_s = time.perf_counter() - t0
        _log(f"inputs generated: {wl.stats}")
        if args.trace:
            result, detail = traced_run(wl, work, cpus)
        else:
            result, detail = timed_run(wl, work, cpus, args.seconds)
    finally:
        _log("shutting down")
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        _log("done")

    values = result["metrics"]
    # a per-layer metric of a layer the workload does not exercise is 0
    detail["not_exercised"] = [m["name"] for m in declared
                               if m["name"] not in values]
    if detail["not_exercised"] and not args.trace:
        raise RuntimeError(f"metrics not measured: {detail['not_exercised']}")
    detail.update({"workload": args.workload, "seed": args.seed,
                   "nproc": cpus, "input": wl.stats, "input_gen_s": gen_s,
                   "extra_metrics": {k: v for k, v in values.items()
                                     if k not in {m["name"] for m in declared}}})
    print(json.dumps({"detail": detail}))
    result["metrics"] = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)),
                    "unit": m["unit"]}
        for m in declared}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
