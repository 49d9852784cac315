"""query_fixed_cost: passes over a fixed list of registered queries on a
small generated star schema, where per-query construction, the jobs it
fires eagerly and planning are most of the work.

Each query is built by its `harness.queries()` constructor and
materialized through the noop sink, as `bench.py` does. The first warm-up pass
collects every output instead, and those outputs are checked against
the query's DuckDB `oracle_sql()` with the normalizer of
`tools/check_correctness.py`.
"""

from __future__ import annotations

import os
import time

import gen
from proc import host_cpu_ticks, steal_pct, tree_cpu_s
from tracing import duration_ms

# a subset of bench.BENCH_QUERIES, one per layer of the query path:
# each further query adds 1-7 s of cold start-up to the first warm-up pass,
# and a run has to fit the benchmark's time budget
QUERIES = [
    "group_sum_avg",          # pipeline compiler: $match/$group
    "envelope_lineitem",      # envelope + ext-JSON codec, with parse-back
    "cdc_merge_state",        # change feed -> classify -> keyed merge
    "corpus_incremental_curation",  # ops.corpus: diff -> gate -> bloom scrub
]
SCALE = 0.001
# materialize passes after the first, collecting one: CPU per pass falls
# over the first 7 or so passes of a fresh JVM, to about 80% of the
# second pass's; after 5 it is within 5% of that level
WARM_PASSES = 4
# cpu_ms_p50 is the median over the first GATED_PASSES measured passes,
# so it does not depend on how many passes fit in the run's wall time
GATED_PASSES = 3


def _correctness_tool():
    """tools/check_correctness.py, loaded by path: `tools` is not a package."""
    import importlib.util

    path = os.path.join(os.getcwd(), "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_outputs(sf_dir: str, outputs: dict) -> list[str]:
    """Names of queries whose collected output differs from DuckDB's
    result for the same oracle SQL."""
    import duckdb
    import pandas as pd

    from route81_spark import harness

    tool = _correctness_tool()
    oracles = harness.oracle_sql()
    con = duckdb.connect()
    for t in tool.TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    bad = []
    for name, got in outputs.items():
        want = con.execute(oracles[name]).fetchdf()
        s, o = tool.normalize(got), tool.normalize(want)
        try:
            assert len(s) == len(o) and list(s.columns) == list(o.columns)
            assert all(str(s[c].dtype) == str(o[c].dtype) for c in s.columns)
            pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=True)
        except AssertionError:
            bad.append(name)
    con.close()
    return bad


def run(spark, tracer, work: str, seed: int, seconds: float) -> dict:
    t0 = time.perf_counter()
    sf_dir = gen.write_star_schema(seed, os.path.join(work, "sf"), SCALE)
    seed_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    from bench import materialize
    from route81_spark import harness

    qs = harness.queries()
    outputs = {}
    for name in QUERIES:
        with tracer.span("warm", query=name):
            outputs[name] = qs[name](spark, sf_dir).toPandas()
    for _ in range(WARM_PASSES):
        for name in QUERIES:
            with tracer.span("warm", query=name):
                materialize(qs[name](spark, sf_dir))
    warm_s = time.perf_counter() - t0

    setup_cpu_s = tree_cpu_s()
    latencies, passes, cpu = [], [], []
    host0 = host_cpu_ticks()
    t_start = time.perf_counter()
    while time.perf_counter() - t_start < seconds or len(cpu) < GATED_PASSES:
        cpu0 = tree_cpu_s()
        p0 = time.perf_counter()
        with tracer.span("pass", n=len(passes)):
            for name in QUERIES:
                with tracer.span("query", query=name):
                    q0 = time.perf_counter()
                    with tracer.span("query.construct", phase="query.construct"):
                        df = qs[name](spark, sf_dir)
                    with tracer.span("query.exec", phase="query.exec"):
                        materialize(df)
                    latencies.append((time.perf_counter() - q0) * 1000.0)
        passes.append((time.perf_counter() - p0) * 1000.0)
        cpu.append((tree_cpu_s() - cpu0) * 1000.0)
    wall_s = time.perf_counter() - t_start
    steal = steal_pct(host0)
    bad = check_outputs(sf_dir, outputs)
    for name in bad:
        print(f"# output check failed: {name}")
    return {
        "attempted": len(QUERIES) * (1 + WARM_PASSES + len(passes)),
        "failed": len(bad),
        "correct": not bad,
        "seed_s": seed_s,
        "warm_s": warm_s,
        "latencies_ms": passes,
        "cpu_ms": cpu,
        "gated": GATED_PASSES,
        "work": "queries",
        "setup_cpu_s": setup_cpu_s,
        "work_per_s": len(latencies) / wall_s,
        "steal_pct": steal,
        "unit": "suite pass",
        "notes": {"queries": len(QUERIES), "pass_ms": [round(x) for x in passes],
                  "pass_cpu_ms": [round(x) for x in cpu]},
    }


def plan_ms(span: dict, counters: dict) -> float:
    first = counters.get(span["group"], {}).get("first_job_ms")
    return duration_ms(span) if first is None else first - span["start"] * 1000.0


def layer_metrics(spans: list[dict], counters: dict) -> dict[str, float]:
    """Per-pass sums over the list's queries, median over passes."""
    from statistics import median

    from tracing import ENGINE_COUNTERS, descendants

    passes = [s for s in spans if s["name"] == "pass"]

    def per_pass(phase, fn):
        return median(
            sum(fn(s) for s in descendants(spans, p) if s.get("phase") == phase)
            for p in passes
        )

    out = {
        "query.construct_ms": per_pass("query.construct", duration_ms),
        "query.construct_jobs": per_pass("query.construct", lambda s: s["jobs"]),
        "query.py4j_calls": per_pass("query.construct", lambda s: s["py4j_calls"]),
        "query.exec_ms": per_pass("query.exec", duration_ms),
        "query.exec_jobs": per_pass("query.exec", lambda s: s["jobs"]),
        # time from the materialize call to the first job of the
        # query that actually runs: analysis, optimization and planning
        "query.plan_ms": per_pass("query.exec", lambda s: plan_ms(s, counters)),
    }
    for phase in ("query.construct", "query.exec"):
        for c in ENGINE_COUNTERS:
            out[f"{phase}.{c}"] = per_pass(
                phase, lambda s: counters.get(s["group"], {}).get(c, 0)
            )
    return out
