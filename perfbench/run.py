"""sparksketch benchmark: one workload, one process, one Spark session.

    python3 perfbench/run.py --workload batch_langs --seed 1 --seconds 10 --trace 0

Run from the repository root.  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  The line before it is the run record (settings, versions,
box-health probes, per-operator detail).  A traced run also writes its
spans, job attribution and per-layer self times to
``.perfbench_work/results/``.  Exits non-zero if any answer is wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

# The driver JVM's heap is fixed at one size (-Xms = -Xmx) and touched at
# start: a heap that G1 grows and touches as it sees fit fell into
# peak-memory clusters ~600 MB apart from run to run, so peak memory
# measured GC sizing, not the program.  A 1g heap made calls ~12% slower
# (more collections) than a 2g one.
DRIVER_MEM = "2g"
# The driver JVM compiles with C1 only.  With tiered C2 the calls kept
# getting faster for ~100 s after set-up while C2 compiler threads took
# cores from the four task threads, so a timed loop measured how far the
# compiler had got: 10-20% slower and more spread than with C1 alone.
JVM_OPTS = f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1"

END_TO_END = {"setup_s": "s", "rows_per_s": "rows/s", "op_p50_s": "s",
              "peak_rss_mb": "MB"}


def _prepare_env(run_dir: Path, trace: bool) -> None:
    """Everything Spark writes goes under the run directory; the event log
    is switched on through the launch environment, so the session itself
    still comes from ``get_spark`` unchanged."""
    tmp = WORK / "tmp"  # persistent: caches the native SCRIMP kernel build
    tmp.mkdir(parents=True, exist_ok=True)
    local = run_dir / "spark-local"
    local.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    java = f"-Djava.io.tmpdir={local} {JVM_OPTS}"
    args = [f"--driver-java-options {shlex.quote(java)}"]
    if trace:
        log_dir = run_dir / "eventlog"
        log_dir.mkdir()
        args += ["--conf spark.eventLog.enabled=true",
                 "--conf spark.eventLog.rolling.enabled=false",
                 "--conf spark.eventLog.compress=false",
                 f"--conf spark.eventLog.dir=file://{log_dir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def _git_commit() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except OSError:
        return None


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=None,
                    help="input rows (default: the benchmark's size)")
    args = ap.parse_args(argv)

    run_dir = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    if run_dir.exists():
        shutil.rmtree(run_dir)
    _prepare_env(run_dir, bool(args.trace))
    sys.path.insert(0, str(ROOT))

    import numpy
    import pyarrow
    import pyspark

    from perfbench import probes
    from perfbench import workloads as wl
    from perfbench.observe import (
        RssSampler,
        Tracer,
        disk_probe,
        kernel_control,
        now,
        read_event_log,
        self_times,
    )
    from streaming_algorithms_spark.sources.session import get_spark

    if args.workload not in wl.WORKLOADS:
        shutil.rmtree(run_dir)
        ap.error(f"--workload must be one of {', '.join(wl.WORKLOADS)}")
    rows = args.rows or wl.ROWS
    nproc = len(os.sched_getaffinity(0))
    health = {"kernel_control_s": [kernel_control()],
              "disk_mb_per_s": [disk_probe(run_dir)]}
    tracer = Tracer(f"{args.workload}-{args.seed}", enabled=False)
    layer: dict[str, float] = {}
    detail: dict = {}
    try:
        with RssSampler() as rss:
            t0 = now()
            # one shuffle partition per core: the stage-2 merge runs in one
            # wave of tasks (8 partitions at 4 cores made every call ~45%
            # slower, all of it fixed per-task cost)
            spark = get_spark("perfbench", cores=nproc,
                              shuffle_partitions=nproc)
            master = spark.sparkContext.master
            try:
                run = wl.Run(spark, run_dir, args.seed, rows, tracer)
                run.phase("session", t0)
                state = wl.setup(run, args.workload)
                setup_s = now() - t0
                # a traced run splits its time between an untraced and a
                # traced loop, so it lasts about as long as an untraced one
                loop_s = args.seconds / 2 if args.trace else args.seconds
                res = wl.measure(run, args.workload, state, loop_s)
                if args.trace:
                    tracer.enabled = True
                    first = len(tracer.spans)
                    traced = wl.measure(run, args.workload, state, loop_s)
                    loop_spans = tracer.spans[first:]
                    ops = traced.get("calls") or traced["epochs"]
                    detail["trace_overhead_s"] = (traced["op_p50_s"]
                                                  - res["op_p50_s"])
                    keys = probes.probe_keys(args.workload)
                    src = (state.src if isinstance(state, wl.BatchState)
                           else wl.project(spark.read.parquet(
                               str(state.segments))))
                    layer.update(probes.scan_and_operators(run, src, keys))
                    layer.update(probes.kernels(run, src, keys))
                    layer.update(probes.streaming_layers(
                        run, spark.read.parquet(str(run_dir / "webpages"))))
            finally:
                _stop_spark(spark)
        if args.trace:
            jobs = read_event_log(run_dir / "eventlog")
            engine, per_span = probes.engine(loop_spans, jobs, ops)
            layer.update(engine)
            results = WORK / "results"
            results.mkdir(exist_ok=True)
            tracer.write(results / f"spans-{tracer.run_id}.json")
            # self time per layer, for the timed loop and for the probes
            detail["self_s_by_layer"] = {
                "loop": self_times(loop_spans),
                "probes": self_times(tracer.spans[first + len(loop_spans):])}
            detail["loop_ops"] = per_span
    finally:
        health["kernel_control_s"].append(kernel_control())
        health["disk_mb_per_s"].append(disk_probe(run_dir))
        shutil.rmtree(run_dir, ignore_errors=True)

    detail["setup_phases_s"] = run.phases
    detail["peak_mb_by_process"] = {k: v / 2**20 for k, v in
                                    rss.peak_by_process.items()}
    for k in ("op_medians_s", "calls", "epochs", "loop_s", "round_s"):
        if k in res:
            detail[k] = res[k]
    attempted, failed = run.attempted, run.failed
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": bool(args.trace),
        "nproc": nproc, "master": master,
        "versions": {"python": sys.version.split()[0],
                     "pyspark": pyspark.__version__,
                     "pyarrow": pyarrow.__version__,
                     "numpy": numpy.__version__},
        "git_commit": _git_commit(),
        "input": {"rows": rows, "n_hosts": wl.N_HOSTS,
                  "segments": wl.SEGMENTS.get(args.workload)},
        "driver_memory": DRIVER_MEM, "driver_jvm_options": JVM_OPTS,
        "shuffle_partitions": nproc,
        "health": health,
        "ops_failed_frac": failed / max(attempted, 1),
        "answer_digest": run.digest.hexdigest(),
        "errors": run.errors[:10],
        "detail": detail,
    }
    if args.trace:
        metrics = {k: {"value": layer[k], "unit": u}
                   for k, u in probes.PER_LAYER.items()}
    else:
        e2e = {"setup_s": setup_s, "rows_per_s": res["rows_per_s"],
               "op_p50_s": res["op_p50_s"],
               "peak_rss_mb": rss.peak_bytes / 2**20}
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in END_TO_END.items()}
    print("run_record " + json.dumps(record, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
