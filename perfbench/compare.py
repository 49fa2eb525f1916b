"""Compare two versions of the engine with the benchmark, in alternating pairs.

Run pairs (each pair runs both checkouts on one seed; which side runs first
alternates from pair to pair) and append one JSON line per run. Each run is
BENCHMARK.json's `command` with its `run_seconds`, in the side's checkout:

    python3 perfbench/compare.py run --parent ../parent --change . \
        --workload ingest --pairs 10 --out pairs.jsonl

Report them, one block per workload, each metric with both sides' median
and quartiles, the pairs the change won, and a verdict:

    python3 perfbench/compare.py report pairs.jsonl

Verdicts follow the benchmark's rules for a claimed gain:
- `better`: the change wins at least 9 of 10 pairs (ties count for
  neither) and the medians differ by more than the parent's own
  quartile distance;
- `worse`: the change's median is worse than the parent's by more than the
  metric's bound;
- `unresolved`: the parent's quartile distance exceeds the bound, so the
  runs cannot tell a change within the bound from noise, and not every
  change run beats every parent run;
- `flat`: none of these.
A workload whose change runs failed more operations than the parent's is
`worse` whatever its metrics say.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent: list[float], change: list[float], better: str, bound: float) -> tuple[str, int]:
    """(verdict, pairs won by the change); parent[i] and change[i] are pair i."""
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    gain = sign * (cm - pm)
    if wins * 10 >= 9 * len(parent) and gain > p3 - p1:
        return "better", wins
    if -gain > bound * abs(pm):
        return "worse", wins
    if p3 - p1 > bound * abs(pm):
        every_run_better = (min(change) > max(parent) if sign > 0
                            else max(change) < min(parent))
        return ("better" if every_run_better else "unresolved"), wins
    return "flat", wins


def summary(verdicts: list[str], parent_failed: int, change_failed: int) -> str:
    """One verdict for a workload from its metrics' verdicts and the
    operations each side's runs failed."""
    if change_failed > parent_failed or "worse" in verdicts:
        return "worse"
    for v in ("unresolved", "better"):
        if v in verdicts:
            return v
    return "flat"


def load_spec(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def run_command(spec: dict, workload: str, seed: int) -> list[str]:
    return spec["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(spec["run_seconds"]), "--trace", "0"]


def cmd_run(args) -> int:
    spec = load_spec(args.benchmark)
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    with open(args.out, "a") as out:
        for i in range(args.pairs):
            seed = args.seed0 + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                p = subprocess.run(run_command(spec, args.workload, seed),
                                   cwd=sides[side], capture_output=True, text=True, timeout=900)
                lines = p.stdout.strip().splitlines()
                if p.returncode != 0 or not lines:
                    print(f"pair {i} {side}: exit {p.returncode}\n{p.stderr[-2000:]}",
                          file=sys.stderr)
                    return 1
                res = json.loads(lines[-1])
                out.write(json.dumps({"workload": args.workload, "pair": i, "seed": seed,
                                      "side": side, "first": order[0], **res}) + "\n")
                out.flush()
                print(f"pair {i} seed {seed} {side}: correct={res['correct']}", flush=True)
    return 0


def cmd_report(args) -> int:
    metrics = {m["name"]: m for m in load_spec(args.benchmark)["end_to_end"]}
    runs: dict[str, dict[int, dict[str, dict]]] = {}
    with open(args.results) as f:
        for line in f:
            r = json.loads(line)
            runs.setdefault(r["workload"], {}).setdefault(r["pair"], {})[r["side"]] = r
    for workload, pairs in sorted(runs.items()):
        done = [p for _, p in sorted(pairs.items()) if {"parent", "change"} <= p.keys()]
        failed = {side: sum(p[side]["failed"] for p in done) for side in ("parent", "change")}
        print(f"## {workload}: {len(done)} pairs, failed operations: "
              f"parent {failed['parent']}, change {failed['change']}")
        print("| metric | parent median [q1, q3] | change median [q1, q3] | change wins | verdict |")
        print("|---|---|---|---|---|")
        verdicts = []
        for name, m in metrics.items():
            pv = [p["parent"]["metrics"][name]["value"] for p in done]
            cv = [p["change"]["metrics"][name]["value"] for p in done]
            if not pv:
                continue
            v, wins = verdict(pv, cv, m["better"], m["bound"])
            verdicts.append(v)
            (a1, am, a3), (b1, bm, b3) = quartiles(pv), quartiles(cv)
            print(f"| {name} ({m['unit']}) | {am:.4g} [{a1:.4g}, {a3:.4g}] | "
                  f"{bm:.4g} [{b1:.4g}, {b3:.4g}] | {wins}/{len(done)} | {v} |")
        overall = summary(verdicts, failed["parent"], failed["change"])
        print(f"| **{workload}** | | | | **{overall}** |\n")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--benchmark", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="run alternating pairs")
    r.add_argument("--parent", required=True, help="checkout of the parent commit")
    r.add_argument("--change", required=True, help="checkout of the change")
    r.add_argument("--workload", required=True)
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--seed0", type=int, default=1000)
    r.add_argument("--out", required=True)
    p = sub.add_parser("report", help="summarize pair results")
    p.add_argument("results")
    args = ap.parse_args()
    return cmd_run(args) if args.cmd == "run" else cmd_report(args)


if __name__ == "__main__":
    sys.exit(main())
