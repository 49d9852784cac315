"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 8 --trace 0

Run from the repository root. Inputs are generated from `--seed`; the
program receives only the generated files. The last line of stdout is
`{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1` (which also
writes its spans to `.perfbench_out/`). Exits 1 when an output check
fails and 2 when the program cannot be found or run here.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shlex
import shutil
import signal
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

WORKLOADS = ("cdc_trickle", "query_fixed_cost")


def declared_metrics(kind: str) -> dict[str, str]:
    """name -> unit of the `end_to_end` or `per_layer` metrics declared
    in BENCHMARK.json."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def pin_environment(root: str, work: str, trace: bool) -> None:
    """Settings the program needs on this kind of box, made explicit:
    `get_spark` defaults to local[32] and 16g of JVM heap, and Python UDF
    workers import `route81_spark` through PYTHONPATH. Every scratch
    file Spark or the JVM makes stays under the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # fixed JIT threads: proc.tree_cpu_s subtracts the live ones
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp}"
        ),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([*args, "pyspark-shell"])


def peak_rss_mb(spark) -> float:
    """High-water RSS of this Python process plus its JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (py_kb + jvm_kb) / 1024.0


def summary(res: dict, session_s: float) -> dict[str, float]:
    """The run's end-to-end numbers, also printed on a `#` line. The
    gated ones are CPU times: `setup_s`, the CPU seconds of the process
    tree up to the end of set-up, and `cpu_ms_p50`, over the first
    `res["gated"]` measured batches or passes. Wall-clock latency and
    throughput move with the host's CPU steal on a shared box, so they
    are printed with the run's steal and reported by traced runs, without
    a bound."""
    lat = res["latencies_ms"]
    pct = stats.tail_percentile(len(lat))
    tail = f"p{pct} {stats.tail(lat)[0]:.1f} ms" if pct else "none"
    setup_wall_s = session_s + res["seed_s"] + res["warm_s"]
    out = {
        "setup_s": res["setup_cpu_s"],
        "cpu_ms_p50": median(res["cpu_ms"][: res["gated"]]),
        "wall.latency_p50_ms": median(lat),
        "wall.throughput_per_s": res["work_per_s"],
        "host.steal_pct": res["steal_pct"],
    }
    print(
        f"# per {res['unit']}: n={len(lat)} wall p50 {out['wall.latency_p50_ms']:.1f} ms, "
        f"tail ({stats.TAIL_MIN_BEYOND}+ beyond) {tail}; cpu p50 {out['cpu_ms_p50']:.1f} ms "
        f"(first {res['gated']}); throughput {res['work_per_s']:.3f} {res['work']}/s; "
        f"host steal {res['steal_pct']:.1f}%; setup cpu {out['setup_s']:.2f} s, "
        f"wall {setup_wall_s:.3f} s = session {session_s:.3f} + seeding {res['seed_s']:.3f} "
        f"+ warm {res['warm_s']:.3f}; {json.dumps(res['notes'])}"
    )
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "route81_spark", "__init__.py")):
        print(f"perfbench: no route81_spark package under {root}; run from the repo root",
              file=sys.stderr)
        return 2
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(root, ".perfbench_work", run_id)
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(work)
    spark = None
    try:
        pin_environment(root, work, bool(args.trace))
        sys.path.insert(0, root)
        # a cold `import route81_spark.pipeline` (or .jobs) hits the
        # ops.stages <-> pipeline.compiler import cycle; importing ops
        # first resolves it
        import route81_spark.ops  # noqa: F401

        from tracing import Tracer, engine_counters

        t0 = time.perf_counter()
        from route81_spark.session import get_spark

        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, bool(args.trace), run_id)

        if args.workload == "cdc_trickle":
            import daemon as wl
        else:
            import suite as wl
        res = wl.run(spark, tracer, work, args.seed, args.seconds)
        rss = peak_rss_mb(spark)
        spark.stop()
        spark = None
        tracer.close()

        if args.trace:
            counters = engine_counters(os.path.join(work, "eventlog"))
            metrics = summary(res, session_s)
            metrics.update(wl.layer_metrics(tracer.spans, counters))
            metrics["session.start_ms"] = session_s * 1000.0
            metrics["seed_ms"] = res["seed_s"] * 1000.0
            metrics["warm_ms"] = res["warm_s"] * 1000.0
            metrics["peak_rss_mb"] = rss
            metrics["trace.cpu_ms_p50"] = metrics["cpu_ms_p50"]
            metrics["trace.bookkeeping_ms"] = tracer.overhead_s * 1000.0
            spans_path = os.path.join(out_dir, f"spans-{run_id}.jsonl")
            tracer.write(spans_path)
            print(f"# spans: {spans_path} ({len(tracer.spans)})")
            unit_of = declared_metrics("per_layer")
        else:
            metrics = summary(res, session_s)
            unit_of = declared_metrics("end_to_end")
        result = {
            "correct": bool(res["correct"]),
            "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            # a layer the workload never calls reads 0
            "metrics": {
                k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in unit_of.items()
            },
        }
        print(json.dumps(result))
        return 0 if res["correct"] else 1
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def stop_jvm() -> None:
    """End the Py4J gateway JVM and wait until it and every process it
    started (the Python workers) have exited."""
    from pyspark import SparkContext

    from proc import descendants, running

    gateway = SparkContext._gateway
    if gateway is None:
        return
    started = descendants()
    jvm = getattr(gateway, "proc", None)
    gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()  # the gateway server exits at EOF on stdin
        jvm.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while alive := [p for p in started if running(p)]:
        if time.monotonic() > deadline:
            for p in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            deadline = float("inf")  # killed processes end at once
        time.sleep(0.1)


if __name__ == "__main__":
    sys.exit(main())
