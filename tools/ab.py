"""A/B runner for perfbench: a parent checkout against a change checkout.

    python3 tools/ab.py --parent ../parent --workload cdc_trickle --pairs 10
    python3 tools/ab.py --parent ../parent --change . --workload cdc_trickle \
        --workload query_fixed_cost --pairs 10 --seed 100 --out ab.jsonl

For each workload it runs `perfbench/run.py --trace 0` once per side per
pair, in a fresh process from each checkout's own root, alternating which
side runs first (even pairs start with the parent). Pair i uses seed
`--seed + i` on both sides, so every pair sees new inputs. Each run's
result goes to stdout as it finishes, and to `--out` as one JSON line.

At the end it prints, for each workload and each end-to-end metric that
BENCHMARK.json declares: each side's median and quartiles, the change's
wins out of all the pairs run (ties count for neither side), the
median's relative change against the metric's regression bound, and
whether a gain holds by the rule "the change wins at least 9 of 10 pairs
and the medians differ by more than the parent's interquartile range".
A run that fails or reports `correct: false` is listed and its pair is
left out of the medians and quartiles; a pair whose change run failed
still counts as a loss, and any pair that is not a win still counts
toward the pairs run. The regression check reads "unresolved" when the
parent's interquartile range, relative to its median, is wider than the
bound and the two sides' runs overlap: such a spread cannot tell a
regression within the bound from noise.

The runner only reads what perfbench prints; it writes nothing into
either checkout beyond what perfbench itself writes there.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from statistics import median, quantiles


def gated_metrics(root: str) -> dict[str, dict]:
    """name -> {"better", "bound", "unit"} of BENCHMARK.json's end-to-end
    metrics."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {m["name"]: m for m in json.load(f)["end_to_end"]}


def run_once(root: str, workload: str, seed: int, seconds: float) -> dict:
    """One untraced perfbench run from `root`; returns its result line
    (`{}` when the run printed none) plus the exit code and wall time."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    try:
        res = json.loads(lines[-1]) if lines else {}
    except json.JSONDecodeError:
        res = {}
    res["exit"] = proc.returncode
    res["wall_s"] = time.perf_counter() - t0
    if not res.get("metrics"):
        res["stderr_tail"] = proc.stderr[-2000:]
    return res


def ok(res: dict) -> bool:
    return res.get("exit") == 0 and res.get("correct") is True and res.get("failed") == 0


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(pairs: list[tuple[float, float]], better: str, bound: float,
            n_run: int, change_failed: int) -> dict:
    """Compare (parent, change) values of one metric over the usable
    pairs, out of `n_run` pairs run, of which `change_failed` lost
    because the change's run failed."""
    parent = [p for p, _ in pairs]
    change = [c for _, c in pairs]
    sign = 1.0 if better == "lower" else -1.0
    wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    losses = change_failed + sum(1 for p, c in pairs if sign * (c - p) > 0)
    pq, cq = quartiles(parent), quartiles(change)
    gain = sign * (pq[1] - cq[1])  # > 0: the change's median is better
    iqr = pq[2] - pq[0]
    rel = (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0
    # every change run better than every parent run
    separated = max(change) < min(parent) if sign > 0 else min(change) > max(parent)
    if sign * (cq[1] - pq[1]) > bound * abs(pq[1]):
        regression = "REGRESSED past the bound"
    elif pq[1] and iqr / abs(pq[1]) > bound and not separated:
        regression = "unresolved: the parent's IQR is wider than the bound"
    else:
        regression = "within the bound"
    return {
        "n": len(pairs),
        "n_run": n_run,
        "parent": pq,
        "change": cq,
        "wins": wins,
        "losses": losses,
        "rel": rel,
        "parent_iqr": iqr,
        "gain_holds": n_run > 0 and wins >= 0.9 * n_run and gain > iqr,
        "regression": regression,
    }


def report(workload: str, results: list[dict], metrics: dict[str, dict]) -> None:
    good = [r for r in results if ok(r["parent"]) and ok(r["change"])]
    change_failed = sum(1 for r in results if not ok(r["change"]))
    print(f"\n== {workload}: {len(good)} of {len(results)} pairs usable")
    for r in results:
        for side in ("parent", "change"):
            if not ok(r[side]):
                res = r[side]
                print(f"   pair {r['pair']} (seed {r['seed']}) {side}: exit {res.get('exit')}, "
                      f"correct {res.get('correct')}, failed {res.get('failed')} "
                      f"{res.get('stderr_tail', '')[-300:]!r}")
    for name, m in metrics.items():
        pairs = [
            (r["parent"]["metrics"][name]["value"], r["change"]["metrics"][name]["value"])
            for r in good
        ]
        if not pairs:
            continue
        v = verdict(pairs, m["better"], m["bound"], len(results), change_failed)
        p, c = v["parent"], v["change"]
        print(
            f"   {name} ({m['unit']}, {m['better']} is better, bound {m['bound']}):\n"
            f"     parent median {p[1]:.4g} [q1 {p[0]:.4g}, q3 {p[2]:.4g}]  "
            f"change median {c[1]:.4g} [q1 {c[0]:.4g}, q3 {c[2]:.4g}]  "
            f"median {v['rel']:+.1%}\n"
            f"     change wins {v['wins']}/{v['n_run']} (loses {v['losses']}); "
            f"|median gap| {abs(p[1] - c[1]):.4g} vs parent IQR {v['parent_iqr']:.4g}; "
            f"gain rule {'HOLDS' if v['gain_holds'] else 'does not hold'}; "
            f"{v['regression']}"
        )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="root of the parent checkout")
    ap.add_argument("--change", default=".", help="root of the change checkout (default: .)")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=100, help="seed of pair 0; pair i uses seed+i")
    ap.add_argument("--seconds", type=float, default=None,
                    help="run length (default: BENCHMARK.json's run_seconds)")
    ap.add_argument("--out", default=None, help="append every run as a JSON line here")
    args = ap.parse_args(argv)

    roots = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    with open(os.path.join(roots["change"], "BENCHMARK.json")) as f:
        seconds = args.seconds or json.load(f)["run_seconds"]
    metrics = gated_metrics(roots["change"])
    out = open(args.out, "a") if args.out else None
    all_results = {}
    try:
        for workload in args.workload:
            results = all_results.setdefault(workload, [])
            for i in range(args.pairs):
                seed = args.seed + i
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                rec = {"workload": workload, "pair": i, "seed": seed, "first": order[0]}
                for side in order:
                    rec[side] = run_once(roots[side], workload, seed, seconds)
                    vals = {k: round(v["value"], 3) for k, v in rec[side].get("metrics", {}).items()}
                    print(f"{workload} pair {i} seed {seed} {side:6s} exit {rec[side]['exit']} "
                          f"correct {rec[side].get('correct')} {vals} "
                          f"({rec[side]['wall_s']:.0f} s)", flush=True)
                results.append(rec)
                if out is not None:
                    out.write(json.dumps(rec) + "\n")
                    out.flush()
    finally:
        if out is not None:
            out.close()
        for workload, results in all_results.items():
            report(workload, results, metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
