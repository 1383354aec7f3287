"""Interleaved A/B of the benchmark between two checkouts.

    python3 scripts/perf_ab.py PARENT_DIR CHANGE_DIR --workload dashboard \
        --seeds 701-710 [--seconds 2] [--trace 0] [--cores C] [--out ab.json]

Runs ``perfbench/run.py`` once per seed in each checkout, in pairs: the
parent runs first in even pairs and the change in odd ones, so drift of
the host's speed over the series hits both sides alike. Each run is a
fresh process started in its own checkout, which builds what it runs
from its own source. Prints, per metric, both sides' median [first
quartile, third quartile], the change of the medians, whether that gap
exceeds the parent's interquartile range, and in how many pairs the
change was better; writes every run's result and detail line to
``--out``. Nothing under ``perfbench/`` is modified.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def parse_seeds(text: str) -> list[int]:
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_once(checkout: str, args, seed: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
    if args.cores:
        cmd += ["--cores", str(args.cores)]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                          timeout=args.timeout)
    out = {"checkout": checkout, "seed": seed, "returncode": proc.returncode,
           "wall_s": time.perf_counter() - t, "result": None, "detail": None,
           "layers": None}
    for line in proc.stdout.splitlines():
        for prefix, key in (("detail: ", "detail"), ("layers: ", "layers")):
            if line.startswith(prefix):
                out[key] = json.loads(line[len(prefix):])
        if line.startswith("{"):
            out["result"] = json.loads(line)
    if out["result"] is None:
        out["stderr_tail"] = proc.stderr[-2000:]
    return out


def better_direction(checkout: str) -> dict[str, str]:
    try:
        with open(f"{checkout}/BENCHMARK.json") as f:
            spec = json.load(f)
    except OSError:
        return {}
    return {m["name"]: m["better"] for m in spec.get("end_to_end", []) + spec.get("per_layer", [])}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs: list[dict], better: dict[str, str]) -> list[str]:
    ok = [p for p in pairs if p["parent"]["result"] and p["change"]["result"]]
    names = list(ok[0]["parent"]["result"]["metrics"]) if ok else []
    lines = [f"{len(ok)}/{len(pairs)} pairs with a result on both sides"]
    for side in ("parent", "change"):
        bad = [p["seed"] for p in pairs
               if not (p[side]["result"] or {}).get("correct")
               or (p[side]["detail"] or {}).get("failed_frac", 0) != 0]
        lines.append(f"{side}: incorrect or failed runs at seeds {bad or 'none'}")
    lines.append("| metric | parent median [IQR] | change median [IQR] | change | "
                 "gap > parent IQR | wins |")
    lines.append("|---|---|---|---|---|---|")
    for name in names:
        a = [p["parent"]["result"]["metrics"][name]["value"] for p in ok]
        b = [p["change"]["result"]["metrics"][name]["value"] for p in ok]
        lower = better.get(name, "lower") == "lower"
        wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        qa, qb = quartiles(a), quartiles(b)
        rel = (qb[1] - qa[1]) / qa[1] * 100 if qa[1] else float("nan")
        gap = abs(qb[1] - qa[1]) > qa[2] - qa[0]
        lines.append(
            f"| {name} | {qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}] "
            f"| {qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}] | {rel:+.1f}% "
            f"| {'yes' if gap else 'no'} | {wins}/{len(ok)} |"
        )
    return lines


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 701-710 or 701,705-707")
    ap.add_argument("--seconds", type=float, default=2)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=0, help="0: perfbench's default")
    ap.add_argument("--timeout", type=float, default=1200, help="seconds per run")
    ap.add_argument("--out", default="perf_ab.json")
    args = ap.parse_args(argv)

    pairs = []
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run_once(getattr(args, side), args, seed)
        pairs.append(pair)
        values = {s: (pair[s]["result"] or {}).get("metrics", {}) for s in ("parent", "change")}
        print(f"pair {i + 1} seed {seed} ({order[0]} first): " + ", ".join(
            f"{n} {m['value']:.4g}/{values['change'].get(n, {}).get('value', float('nan')):.4g}"
            for n, m in values["parent"].items()), flush=True)
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "args": vars(args), "pairs": pairs}, f,
                      indent=1)
    print("\n".join(summarize(pairs, better_direction(args.change))))
    print(f"raw pairs: {args.out}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
