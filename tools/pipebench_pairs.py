#!/usr/bin/env python3
"""Alternating parent/change pairs of the pipeline benchmark.

    python3 tools/pipebench_pairs.py --parent ../parent --change . \
        --seeds 1-6 --workloads dedup_ingest,http_relay

Runs `python3 pipebench/run.py --workload W --seed S --seconds N --trace T`
in each of two checkouts, one after the other for every seed: the change
first on odd seeds, the parent first on even ones, so a drift in host load
falls on both sides alike. Each checkout builds from its own sources (the
first run of a checkout builds it; see pipebench/README.md).

For each workload and each end-to-end metric of the change's
BENCHMARK.json it prints, per side, the median and the quartiles, the
number of pairs in which the change read better (in the metric's `better`
direction), and two verdicts:
  - `strict bar`: the change is better on at least 9 of every 10 pairs, and
    its median is better than the parent's by more than the parent's
    quartile spread;
  - `bound`: the change's median is worse than the parent's by no more than
    the metric's relative `bound` (change / parent - 1).
It also checks that the run-validity record's `output_digest` is equal
within every pair. The raw records go to `--out` (JSON) when given. Exit
code 0 only when every run passed its output checks and every pair's
digests are equal; the verdicts are printed, not gated.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(text):
    """`1-6`, `1,3,5` or a mix (`1-3,7`) -> list of ints."""
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(checkout, workload, seed, seconds, trace):
    """One run.py call; returns (validity record, result record, exit code)."""
    cmd = [sys.executable, "pipebench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    records = []
    for line in p.stdout.splitlines():
        line = line.strip()
        if line.startswith("{"):
            try:
                records.append(json.loads(line))
            except json.JSONDecodeError:
                pass
    validity = next((r["validity"] for r in records if "validity" in r), {})
    result = next((r for r in reversed(records) if "metrics" in r), None)
    if result is None:
        sys.stderr.write(p.stderr[-4000:])
    return validity, result, p.returncode


def quartiles(values):
    """(q1, median, q3); one value is its own quartiles."""
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def verdict(par, chg, better, bound):
    """(better on k, strict bar holds, inside bound) for paired values.

    `better` is "lower" or "higher"; `bound` is the relative worsening
    allowed, or None."""
    sign = 1 if better == "lower" else -1
    k = sum(1 for p, c in zip(par, chg) if sign * (p - c) > 0)
    pq, cq = quartiles(par), quartiles(chg)
    gain = sign * (pq[1] - cq[1])
    strict = 10 * k >= 9 * len(par) and gain > pq[2] - pq[0]
    inside = None
    if bound is not None and pq[1] != 0:
        inside = sign * (cq[1] / pq[1] - 1) <= bound
    return k, strict, inside


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", required=True, help="checkout of the parent")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--seeds", default="1-6", help="e.g. 1-10 or 1,3,5")
    ap.add_argument("--workloads", default=None,
                    help="comma-separated; default: every workload of BENCHMARK.json")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--out", default=None, help="write the raw records here (JSON)")
    args = ap.parse_args()

    sides = {"parent": os.path.abspath(args.parent),
             "change": os.path.abspath(args.change)}
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = [m["name"] for m in bench["end_to_end"]]
    better = {m["name"]: m["better"]
              for m in bench["end_to_end"] + bench.get("per_layer", [])}
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])
    seeds = parse_seeds(args.seeds)

    runs = []  # {workload, seed, side, validity, metrics, rc}
    ok = True
    for workload in workloads:
        for seed in seeds:
            order = ("change", "parent") if seed % 2 else ("parent", "change")
            for side in order:
                validity, result, rc = run_once(sides[side], workload, seed,
                                                args.seconds, args.trace)
                values = {k: v["value"] for k, v in (result or {}).get("metrics", {}).items()}
                runs.append({"workload": workload, "seed": seed, "side": side,
                             "validity": validity, "metrics": values, "rc": rc,
                             "correct": bool(result and result.get("correct"))})
                if rc != 0 or not (result and result.get("correct")):
                    ok = False
                print(f"{workload} seed {seed} {side}: rc {rc} " +
                      " ".join(f"{k}={values[k]:.4g}" for k in metrics if k in values),
                      flush=True)

    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)

    print()
    for workload in workloads:
        pairs = {}
        for r in runs:
            if r["workload"] == workload:
                pairs.setdefault(r["seed"], {})[r["side"]] = r
        complete = [p for p in pairs.values() if len(p) == 2]
        digests_equal = sum(1 for p in complete
                            if p["parent"]["validity"].get("output_digest") is not None
                            and p["parent"]["validity"].get("output_digest")
                            == p["change"]["validity"].get("output_digest"))
        if digests_equal != len(complete):
            ok = False
        print(f"{workload}: {len(complete)} pairs, output_digest equal on "
              f"{digests_equal} of {len(complete)}")
        for m in (metrics if args.trace == 0 else sorted(
                {k for p in complete for r in p.values() for k in r["metrics"]})):
            both = [p for p in complete
                    if m in p["parent"]["metrics"] and m in p["change"]["metrics"]]
            if not both:
                continue
            par = [p["parent"]["metrics"][m] for p in both]
            chg = [p["change"]["metrics"][m] for p in both]
            pq, cq = quartiles(par), quartiles(chg)
            line = (f"  {m:<28} parent {pq[1]:10.4g} [{pq[0]:.4g} .. {pq[2]:.4g}, "
                    f"spread {pq[2] - pq[0]:.4g}]  change {cq[1]:10.4g} "
                    f"[{cq[0]:.4g} .. {cq[2]:.4g}, spread {cq[2] - cq[0]:.4g}]  ")
            if m in better:
                k, strict, inside = verdict(par, chg, better[m], bounds.get(m))
                line += (f"better on {k} of {len(both)} ({better[m]} is better); "
                         f"strict bar {'holds' if strict else 'missed'}")
                if inside is not None:
                    line += (f"; {'inside' if inside else 'OUTSIDE'} "
                             f"bound {bounds[m]:g}")
            else:
                lower = sum(1 for p, c in zip(par, chg) if c < p)
                line += f"change lower on {lower} of {len(both)}"
            print(line)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
