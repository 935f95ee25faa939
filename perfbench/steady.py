"""Steadiness check: run a workload on several seeds and hold every
end-to-end metric's spread and median against the bounds in
BENCHMARK.json.

    python3 perfbench/steady.py --workload domain_dag --seeds 1-10 --out a.json
    python3 perfbench/steady.py --compare a.json b.json

A set of runs passes when each metric's spread, the distance between the
first and third quartile (``statistics.quantiles(values, n=4)``) as a
share of the median, stays within its bound. ``setup_s`` is exempt: a
run sets up once, so its spread is reported but does not gate; its median
still must not move by more than its bound between two sets. Two sets
agree when, for every metric, the second median is not worse than the
first by more than the bound. The check also flags a spread above a third
of its bound, the margin a steady benchmark keeps.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec(root: str = ROOT) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "0"]
    t0 = time.monotonic()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=600)
    wall = time.monotonic() - t0
    if out.returncode != 0:
        raise RuntimeError(f"seed {seed}: exit {out.returncode}\n{out.stderr}")
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    # the host record and run.py's per-operation timings, for diagnosis
    res["host"] = json.loads(lines[-2])
    res["wall_s"] = wall
    detail = [ln for ln in out.stderr.splitlines() if ln.startswith('{"setup_s"')]
    if detail:
        res["detail"] = json.loads(detail[-1])
    return res


def summarize(runs: list[dict], spec: dict) -> dict:
    """Per metric: median, quartiles, spread, and whether it holds."""
    out = {}
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        out[m["name"]] = {
            "median": med, "q1": q1, "q3": q3, "spread": spread,
            "bound": m["bound"], "values": vals,
            "ok": m["name"] == "setup_s" or spread <= m["bound"],
            "steady": spread < m["bound"] / 3,
        }
    return out


def compare(a: dict, b: dict, spec: dict) -> dict:
    """Is the second set's median worse than the first's by more than the
    bound? Returns metric -> relative change of the median."""
    res = {}
    for m in spec["end_to_end"]:
        ma, mb = a[m["name"]]["median"], b[m["name"]]["median"]
        worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
        res[m["name"]] = {"worse_by": worse, "ok": worse <= m["bound"]}
    return res


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    args = ap.parse_args()
    spec = load_spec()
    ok = True
    if args.compare:
        with open(args.compare[0]) as f:
            a = json.load(f)
        with open(args.compare[1]) as f:
            b = json.load(f)
        for wl in sorted(set(a) & set(b)):
            for name, r in compare(a[wl]["summary"], b[wl]["summary"],
                                   spec).items():
                print(f"{wl:12s} {name:16s} worse_by={r['worse_by']:+.3f} "
                      f"{'ok' if r['ok'] else 'REGRESSED'}")
                ok &= r["ok"]
        return 0 if ok else 1
    runs = [run_once(args.workload, s, spec["run_seconds"])
            for s in parse_seeds(args.seeds)]
    summary = summarize(runs, spec)
    for name, r in summary.items():
        print(f"{args.workload:12s} {name:16s} median={r['median']:.4g} "
              f"q1={r['q1']:.4g} q3={r['q3']:.4g} spread={r['spread']:.3f} "
              f"bound={r['bound']} {'ok' if r['ok'] else 'TOO NOISY'}"
              f"{'' if r['steady'] else ' (above bound/3)'}")
        ok &= r["ok"]
    if args.out:
        prev = {}
        if os.path.exists(args.out):
            with open(args.out) as f:
                prev = json.load(f)
        prev[args.workload] = {"runs": runs, "summary": summary}
        with open(args.out, "w") as f:
            json.dump(prev, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
