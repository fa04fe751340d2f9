#!/usr/bin/env python3
"""Steadiness and regression checks over sets of benchmark results.

    # run every workload of BENCHMARK.json once per seed, saving each
    # result line (and its stamp) to a JSON-lines file
    python3 perfbench/compare.py collect SET.jsonl --seeds 1-10 [--workload W]

    # spread of one set: quartile distance over median, per metric,
    # against the metric's bound (the target is a third of it)
    python3 perfbench/compare.py spread SET.jsonl

    # two sets: is B's median worse than A's by more than the bound?
    # --same-code: two sets of unchanged code must agree both ways
    python3 perfbench/compare.py compare A.jsonl B.jsonl [--same-code]

``compare`` exits with 1 when any metric of any workload regresses past its
bound; ``spread`` exits with 1 when a spread other than ``setup_s`` exceeds
its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def parse_seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def quartile_spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / abs(statistics.median(values))


def worse_by(a_med: float, b_med: float, better: str) -> float:
    """Share of A's median by which B is worse (negative: B is better)."""
    d = (b_med - a_med) if better == "lower" else (a_med - b_med)
    return d / abs(a_med)


def read_set(path: str) -> dict[str, dict[str, list[float]]]:
    """workload -> metric -> values, over the untraced results in ``path``."""
    out: dict[str, dict[str, list[float]]] = {}
    with open(path) as fh:
        for line in fh:
            rec = json.loads(line)
            if rec.get("trace"):
                continue
            per = out.setdefault(rec["workload"], {})
            for name, m in rec["result"]["metrics"].items():
                per.setdefault(name, []).append(float(m["value"]))
    return out


def cmd_collect(args) -> int:
    spec = load_spec()
    names = [args.workload] if args.workload else [w["name"] for w in spec["workloads"]]
    rc = 0
    for seed in parse_seeds(args.seeds):
        for name in names:
            cmd = spec["command"] + ["--workload", name, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]),
                                     "--trace", str(args.trace)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode or not lines:
                print(f"{name} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}",
                      file=sys.stderr)
                rc = 1
                continue
            result = json.loads(lines[-1])
            stamp = next((json.loads(l[6:]) for l in lines if l.startswith("stamp ")), {})
            with open(args.out, "a") as fh:
                fh.write(json.dumps({"workload": name, "seed": seed,
                                     "trace": args.trace, "result": result,
                                     "stamp": stamp}) + "\n")
            print(f"{name} seed {seed}: correct={result['correct']} "
                  f"{result['failed']}/{result['attempted']} failed", flush=True)
    return rc


def cmd_spread(args) -> int:
    spec = load_spec()
    rc = 0
    for wl, per in sorted(read_set(args.set).items()):
        for m in spec["end_to_end"]:
            vals = per.get(m["name"], [])
            if len(vals) < 2:
                continue
            s = quartile_spread(vals)
            flag = ("ok" if s < m["bound"] / 3 else
                    "WIDE" if s <= m["bound"] or m["name"] == "setup_s" else "FAIL")
            if flag == "FAIL":
                rc = 1
            print(f"{wl:20} {m['name']:12} n={len(vals):2} median="
                  f"{statistics.median(vals):12.4f} spread={s:6.3f} "
                  f"bound={m['bound']:.2f} {flag}")
    return rc


def cmd_compare(args) -> int:
    spec = load_spec()
    a, b = read_set(args.a), read_set(args.b)
    rc = 0
    for wl in sorted(set(a) & set(b)):
        for m in spec["end_to_end"]:
            va, vb = a[wl].get(m["name"]), b[wl].get(m["name"])
            if not va or not vb:
                continue
            ma, mb = statistics.median(va), statistics.median(vb)
            w = worse_by(ma, mb, m["better"])
            if args.same_code:
                w = max(w, worse_by(mb, ma, m["better"]))
            ok = w <= m["bound"]
            rc |= not ok
            print(f"{wl:20} {m['name']:12} A={ma:12.4f} B={mb:12.4f} "
                  f"worse_by={w:+.3f} bound={m['bound']:.2f} "
                  f"{'ok' if ok else 'REGRESSED'}")
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("out")
    c.add_argument("--seeds", required=True)
    c.add_argument("--workload")
    c.add_argument("--trace", type=int, choices=(0, 1), default=0)
    s = sub.add_parser("spread")
    s.add_argument("set")
    p = sub.add_parser("compare")
    p.add_argument("a")
    p.add_argument("b")
    p.add_argument("--same-code", action="store_true")
    args = ap.parse_args(argv)
    return {"collect": cmd_collect, "spread": cmd_spread,
            "compare": cmd_compare}[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
