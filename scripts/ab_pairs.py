"""Alternating A/B pairs of the benchmark: parent checkout vs change checkout.

    python scripts/ab_pairs.py --parent ../parent --change . \\
        --workload crawl_scrub --seeds 1-10 [--seconds 10] [--out runs.jsonl]

For each seed it runs ``perfbench/run.py --workload W --seed S --trace 0``
once in each checkout, one process at a time, and flips which side runs
first every pair (the parent first on even pairs).  Then, for every
end-to-end metric of ``BENCHMARK.json`` (read from the change checkout),
it prints each side's median and quartiles, the number of pairs the
change won (ties count for neither side), and whether the gap between the
medians exceeds the parent's interquartile range -- a gain is claimed
only when the change wins at least nine tenths of the pairs and the gap
exceeds that spread.  Beside it stands a no-regression verdict against the
metric's ``bound``: ``worse_by`` is the change median's relative gap from
the parent median in the metric's bad direction, and the verdict is

* ``unresolved`` when the parent's IQR/median exceeds ``bound`` and not
  every change run beats every parent run (the spread hides a gap that
  large),
* otherwise ``worse`` when ``worse_by`` exceeds ``bound``,
* otherwise ``ok``.

The last stdout line is the same summary as JSON.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys

SIDES = ("parent", "change")


def parse_seeds(spec: str) -> list[int]:
    """``"1-10"`` or ``"1,3,7"`` or a mix (``"1-4,9"``)."""
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(checkout: str, workload: str, seed: int, seconds: float,
             timeout_s: float) -> dict:
    """One benchmark process; its last stdout line is the result JSON.
    A crash, a timeout or an unparsable result is a run with no metrics."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    try:
        r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                           timeout=timeout_s)
    except subprocess.TimeoutExpired:
        return {"correct": False, "error": f"timeout after {timeout_s:.0f} s",
                "metrics": {}}
    lines = r.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return {"correct": False, "error": f"exit {r.returncode}: {r.stderr[-500:]}",
                "metrics": {}}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return (xs[0],) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def _rel(x: float, base: float) -> float:
    """``x / |base|``; with a zero base, 0 for no gap, else infinite."""
    if base:
        return x / abs(base)
    return 0.0 if x <= 0 else math.inf


def verdict(parent: list[float], change: list[float], bound: float,
            higher: bool) -> tuple[str, float, float]:
    """``(verdict, worse_by, parent IQR/median)`` for one metric."""
    par, chg = quartiles(parent), quartiles(change)
    worse_by = _rel(par[1] - chg[1] if higher else chg[1] - par[1], par[1])
    spread = _rel(par[2] - par[0], par[1])
    beats_all = (min(change) > max(parent)) if higher \
        else (max(change) < min(parent))
    if spread > bound and not beats_all:
        return "unresolved", worse_by, spread
    return ("worse" if worse_by > bound else "ok"), worse_by, spread


def summarize(pairs: list[dict], metrics: list[dict]) -> dict:
    """Per metric: quartiles of each side, change wins, gap vs parent IQR,
    and the no-regression verdict against the metric's ``bound``."""
    out = {}
    for m in metrics:
        name, higher = m["name"], m["better"] == "higher"
        got = [(p["parent"]["metrics"].get(name, {}).get("value"),
                p["change"]["metrics"].get(name, {}).get("value")) for p in pairs]
        got = [(a, b) for a, b in got if a is not None and b is not None]
        if not got:
            out[name] = None
            continue
        par = quartiles([a for a, _ in got])
        chg = quartiles([b for _, b in got])
        wins = sum((b > a) if higher else (b < a) for a, b in got)
        gap = chg[1] - par[1]
        v, worse_by, spread = verdict([a for a, _ in got], [b for _, b in got],
                                      m["bound"], higher)
        out[name] = {
            "parent": par, "change": chg, "pairs": len(got), "change_wins": wins,
            "change_better": gap > 0 if higher else gap < 0,
            "gap_exceeds_parent_iqr": abs(gap) > par[2] - par[0],
            "bound": m["bound"], "worse_by": worse_by, "parent_spread": spread,
            "verdict": v,
        }
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--parent", required=True, help="parent checkout root")
    p.add_argument("--change", required=True, help="change checkout root")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help='e.g. "1-10" or "1-4,9"')
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--timeout", type=float, default=900,
                   help="seconds before one benchmark process counts as failed")
    p.add_argument("--out", help="append every run's result here as JSON lines")
    args = p.parse_args(argv)

    roots = {"parent": os.path.abspath(args.parent),
             "change": os.path.abspath(args.change)}
    with open(os.path.join(roots["change"], "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]

    pairs = []
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            res = run_once(roots[side], args.workload, seed, args.seconds, args.timeout)
            pair[side] = res
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps({"workload": args.workload, "seed": seed,
                                        "side": side, "pair": i, **res}) + "\n")
        pairs.append(pair)
        vals = {s: pair[s]["metrics"].get("docs_per_s", {}).get("value") for s in SIDES}
        print(f"pair {i} seed {seed} ({order[0]} first): "
              + ", ".join(f"{s} correct={pair[s].get('correct')} "
                          f"failed={pair[s].get('failed')} docs_per_s={vals[s]}"
                          for s in SIDES), file=sys.stderr, flush=True)

    summary = summarize(pairs, metrics)
    print(f"{args.workload}: {len(pairs)} pairs, seeds {args.seeds}")
    for s in SIDES:
        print(f"  {s}: correct {sum(bool(p[s].get('correct')) for p in pairs)}"
              f"/{len(pairs)}, failed ops {sum(p[s].get('failed') or 0 for p in pairs)}"
              f" of {sum(p[s].get('attempted') or 0 for p in pairs)}")
    print(f"  {'metric':<22} {'parent q1/med/q3':<28} {'change q1/med/q3':<28}"
          " wins  gap>IQR  worse_by  verdict")
    for name, r in summary.items():
        if r is None:
            print(f"  {name:<22} no metrics")
            continue
        par = "/".join(f"{v:.4g}" for v in r["parent"])
        chg = "/".join(f"{v:.4g}" for v in r["change"])
        print(f"  {name:<22} {par:<28} {chg:<28} {r['change_wins']:>2}/{r['pairs']:<2}"
              f" {str(r['gap_exceeds_parent_iqr']):<8} {r['worse_by']:>+8.3f}"
              f"  {r['verdict']} (bound {r['bound']}, parent IQR/med "
              f"{r['parent_spread']:.3f})")
    print(json.dumps({"workload": args.workload, "seeds": args.seeds,
                      "pairs": len(pairs), "summary": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
