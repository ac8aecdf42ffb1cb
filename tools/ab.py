"""Paired A/B of a parent checkout against this one on a perfbench workload.

For each seed, runs `perfbench/run.py --trace 0` once in the parent tree
and once in this tree, one process (one JVM) at a time, alternating which
side runs first from seed to seed. Prints one JSON line per run as it
finishes, then a table per pair of every end-to-end metric that
`BENCHMARK.json` declares (plus `error_rate`), and per metric each side's
median and quartiles, the change's wins, the parent's quartile spread and
whether a gain could be claimed: the change wins at least nine tenths of
the pairs (ties count for neither side) and the medians differ by more
than the parent's quartile spread.

Usage:
    python3 tools/ab.py --parent ../parent-checkout --workload gencode_job --seeds 201-210

The parent checkout is a plain copy of the parent commit, e.g.
`git archive <commit> | tar -x -C <dir>`.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent


def parse_seeds(text: str) -> list[int]:
    """'A-B' -> [A..B]; 'A,B,C' -> [A, B, C]."""
    if "-" in text:
        lo, hi = (int(x) for x in text.split("-", 1))
        return list(range(lo, hi + 1))
    return [int(x) for x in text.split(",")]


def end_to_end(tree: Path) -> list[dict]:
    """The end-to-end metrics (name, better, bound) `tree` declares."""
    return json.loads((tree / "BENCHMARK.json").read_text())["end_to_end"]


def run_side(tree: Path, workload: str, seed: int, timeout: float) -> dict:
    """One untraced perfbench run in `tree`: metric name -> value, plus
    `error_rate` (failed / attempted operations)."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--trace", "0"],
        cwd=tree, capture_output=True, text=True, timeout=timeout)
    last = next((line for line in reversed(out.stdout.splitlines())
                 if line.startswith('{"correct"')), None)
    if out.returncode != 0 or last is None:
        raise RuntimeError(f"perfbench failed in {tree} (seed {seed}, exit "
                           f"{out.returncode}):\n{out.stderr[-3000:]}")
    res = json.loads(last)
    vals = {k: m["value"] for k, m in res["metrics"].items()}
    vals["error_rate"] = res["failed"] / res["attempted"]
    return vals


def quartiles(values: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, med, q3


def summarize(metric: dict, pairs: list[dict]) -> dict:
    """Medians, quartiles, wins and the claim rule for one metric."""
    name, lower = metric["name"], metric["better"] == "lower"
    par = [p["parent"][name] for p in pairs]
    chg = [p["change"][name] for p in pairs]
    wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
    losses = sum((c > p) if lower else (c < p) for p, c in zip(par, chg))
    pq1, pmed, pq3 = quartiles(par)
    cq1, cmed, cq3 = quartiles(chg)
    gap = (pmed - cmed) if lower else (cmed - pmed)
    return {"metric": name, "better": metric["better"],
            "parent": (pmed, pq1, pq3), "change": (cmed, cq1, cq3),
            "wins": wins, "losses": losses, "pairs": len(pairs),
            "rel": (cmed - pmed) / pmed if pmed else None,
            "spread": pq3 - pq1, "gap": gap,
            "claim": wins >= 0.9 * len(pairs) and gap > pq3 - pq1}


def fmt(v: float) -> str:
    return f"{v:.4g}"


def report(metrics: list[dict], pairs: list[dict]) -> None:
    names = [m["name"] for m in metrics]
    print("\n| seed | first | " + " | ".join(f"{n} P | {n} C" for n in names) + " |")
    print("|---|---|" + "---|---|" * len(names))
    for p in pairs:
        cells = " | ".join(f"{fmt(p['parent'][n])} | {fmt(p['change'][n])}" for n in names)
        print(f"| {p['seed']} | {p['first']} | {cells} |")
    print("\n| metric | better | parent median [q1, q3] | change median [q1, q3] "
          "| change | wins/losses | parent spread | gap | claim |")
    print("|---|---|---|---|---|---|---|---|---|")
    for m in metrics:
        s = summarize(m, pairs)
        par, chg = s["parent"], s["change"]
        rel = "-" if s["rel"] is None else f"{s['rel']:+.1%}"
        print(f"| {s['metric']} | {s['better']} "
              f"| {fmt(par[0])} [{fmt(par[1])}, {fmt(par[2])}] "
              f"| {fmt(chg[0])} [{fmt(chg[1])}, {fmt(chg[2])}] "
              f"| {rel} | {s['wins']}/{s['losses']} of {s['pairs']} "
              f"| {fmt(s['spread'])} | {fmt(s['gap'])} | {'yes' if s['claim'] else 'no'} |")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, type=Path,
                    help="checkout of the parent commit")
    ap.add_argument("--change", type=Path, default=HERE,
                    help="checkout of the change (default: this tree)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="A-B or A,B,C")
    ap.add_argument("--timeout", type=float, default=900,
                    help="seconds one perfbench run may take")
    args = ap.parse_args(argv)

    sides = {"parent": args.parent.resolve(), "change": args.change.resolve()}
    metrics = end_to_end(sides["change"]) + [{"name": "error_rate", "better": "lower"}]
    pairs = []
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"seed": seed, "first": order[0][0].upper()}
        for side in order:
            pair[side] = run_side(sides[side], args.workload, seed, args.timeout)
            print(json.dumps({"seed": seed, "side": side, **pair[side]}), flush=True)
        pairs.append(pair)
    report(metrics, pairs)
    return 0


if __name__ == "__main__":
    sys.exit(main())
