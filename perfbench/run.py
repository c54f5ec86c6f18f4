"""Benchmark entry point. Run from the root of a checkout of the repo:

    python3 perfbench/run.py --workload migrate_bulk --seed 1 --seconds 6 --trace 0

It generates the workload's inputs from the seed, starts the engine's
Spark session, runs one cold repetition (part of set-up), then warm
repetitions for ``--seconds``, checks every output, and prints as its last
stdout line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). An earlier stdout line records the environment, the input
sizes and the sample counts. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("migrate_bulk", "migrate_many", "query_mix")
MIN_REPS = 3
# Set-up ends after this many repetitions, the cold one included: the
# JVM's JIT keeps warming through the first warm repetitions (on query_mix
# the first warm pass still runs 20-40% slower than the later ones).
WARMUP_REPS = {"migrate_bulk": 3, "migrate_many": 2, "query_mix": 2}
DRIVER_MEM = "3g"


def _args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("bench", "tiny"), default="bench",
                   help="migration input size; 'tiny' is the smoke-test size")
    return p.parse_args(argv)


def _pin_env(root: str, work: str, cpus: int) -> None:
    """Pin everything the engine reads from the environment, and keep every
    file the run writes inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        # executor-side Python workers import the engine (mapInPandas)
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
    })
    tempfile.tempdir = tmp
    sys.path.insert(0, root)


def _log(msg: str) -> None:
    print(f"# perfbench: {msg}", file=sys.stderr, flush=True)


def _ops(rep) -> str:
    return " ".join(f"{n}={lat:.3f}" if lat is not None else f"{n}=FAILED" for n, lat in rep.ops)


def _rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def _stop(spark) -> None:
    """Stop the session and the JVM the gateway launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _p90(values: list[float]) -> float:
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def run(args: argparse.Namespace, root: str, work: str) -> dict:
    cpus = len(os.sched_getaffinity(0))
    _pin_env(root, work, cpus)
    data = os.path.join(work, f"data_{args.workload}_s{args.seed}")
    gen = subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), args.workload, str(args.seed),
         args.scale, data],
        check=True, capture_output=True, text=True,
    )
    inputs = json.loads(gen.stdout)
    data = inputs["dir"]

    # set-up: imports, session start and the warm-up repetitions (the cold
    # one included): what a CLI user pays before the engine runs warm
    t0 = time.perf_counter()
    from mysql2psql_spark.session import get_spark

    from spans import EventLog, Recorder
    from workloads import Migration, QueryMix

    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp"}
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t_session = time.perf_counter()
    spark = get_spark(app_name=f"perfbench_{args.workload}", extra_conf=conf)
    session_s = time.perf_counter() - t_session
    spark.sparkContext.setLogLevel("ERROR")
    try:
        rec = Recorder()
        warmup = WARMUP_REPS[args.workload]
        if args.workload == "query_mix":
            wl = QueryMix(spark, data, args.seed, rec, warmup)
        else:
            wl = Migration(spark, data, inputs, os.path.join(work, "out"), rec,
                           traced=bool(args.trace), threads=min(4, cpus))
        reps = [wl.rep(i) for i in range(warmup)]
        setup_s = time.perf_counter() - t0
        _log(f"set-up {setup_s:.2f} s (session {session_s:.2f} s, repetitions "
             + ", ".join(f"{r.span.dur:.2f}" for r in reps) + " s); "
             + _ops(reps[0]))
        reps = [wl.check(r, deep=i == 0) for i, r in enumerate(reps)]

        # each repetition's output is checked right after it, outside its
        # span; the cold and the last repetition get the deep check
        measured = 0.0
        while True:
            rep = wl.rep(len(reps))
            measured += rep.span.dur
            last = measured >= args.seconds and len(reps) - warmup + 1 >= MIN_REPS
            t_check = time.perf_counter()
            reps.append(wl.check(rep, deep=last))
            _log(f"repetition {rep.span.key}: {rep.span.dur:.2f} s, "
                 f"check {time.perf_counter() - t_check:.2f} s; " + _ops(reps[-1]))
            if last:
                break
        rss_mb = _rss_mb(spark)
        timed = reps[warmup:]
        if args.trace and isinstance(wl, Migration):
            wl.probe()

        failed = sum(lat is None for r in reps for _, lat in r.ops)
        attempted = sum(len(r.ops) for r in reps)
    finally:
        _stop(spark)

    ok = [r for r in timed if all(lat is not None for _, lat in r.ops)] or timed
    rep_s = [r.span.dur for r in ok]
    # per-operation statistics are taken within each repetition, then the
    # median over repetitions, so one stalled repetition cannot move them
    ops = [[lat for _, lat in r.ops if lat is not None] for r in ok]
    ops = [o for o in ops if o]
    if args.trace:
        log = EventLog(log_dir)
        metrics = {"session.start_s": session_s, "memory.peak_rss_mb": rss_mb,
                   "trace.rep_s": statistics.median(rep_s)}
        metrics.update(wl.layers(timed, log))
        metrics.update(log.summary([r.span for r in timed], cpus))
    else:
        metrics = {
            "setup_s": setup_s,
            "rep_s": statistics.median(rep_s),
            "op_gmean_s": _median([statistics.geometric_mean(o) for o in ops]),
            "op_p90_s": _median([_p90(o) for o in ops]),
        }
    return {
        "env": _environment(args, cpus, inputs, [round(s, 4) for s in rep_s],
                            sum(len(o) for o in ops)),
        "result": {"correct": failed == 0, "attempted": attempted, "failed": failed,
                   "metrics": metrics},
    }


def _environment(args, cpus: int, inputs: dict, rep_s: list[float], ops: int) -> dict:
    import duckdb
    import pyspark

    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "cpus": cpus,
        "master": f"local[{cpus}]", "driver_memory": DRIVER_MEM,
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__, "platform": platform.platform(),
        "inputs": inputs["tables"],
        "samples": {"repetitions": len(rep_s), "operations": ops, "rep_s": rep_s},
    }


def main(argv: list[str] | None = None) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "mysql2psql_spark", "cli.py")):
        print("perfbench: run from the repo root (mysql2psql_spark/ not found)", file=sys.stderr)
        return 2
    work_root = os.path.join(root, ".perfbench_work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}_", dir=work_root)
    try:
        out = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    got = out["result"]["metrics"]
    # a layer a workload does not exercise reads 0 (e.g. sinks.* on query_mix)
    extra = set(got) - {m["name"] for m in spec}
    if extra:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(extra)}")
    out["result"]["metrics"] = {
        m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]} for m in spec
    }
    print(json.dumps({"perfbench_env": out["env"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
