#!/usr/bin/env python3
"""Alternating perfbench pairs between two checkouts.

    python3 scripts/bench_pairs.py <parent-dir> <change-dir> \
        --workload corpus_curation --seeds 9201-9210 [--seconds 10] \
        [--out pairs.jsonl]

For every seed it runs `perfbench/run.py --workload W --seed S --seconds N`
once in each checkout, back to back, and flips which side goes first from
one seed to the next, so drift over the session falls on both sides. Each
run appends one JSON line to --out: side, seed, position in the pair, the
result object and the per-operation latencies of perfbench's report line.

At the end it prints, per end-to-end metric of the parent's BENCHMARK.json,
the median [q1-q3] of each side and how many pairs the change won, then
the per-operation medians of each side. It refuses to start, and stops
before a run, while another graftbench.Main JVM is running: an overlapping
run contaminates both. perfbench/ is only read, never edited.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys


def quantile(values, q):
    """Linear interpolation between closest ranks (perfbench's own)."""
    v = sorted(values)
    pos = (len(v) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def other_bench_jvms():
    """Pids of running graftbench.Main JVMs (read from /proc/<pid>/cmdline)."""
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        if b"graftbench.Main" in argv and any(a.endswith(b"java") for a in argv[:1]):
            pids.append(int(pid))
    return pids


def refuse_if_busy():
    busy = other_bench_jvms()
    if busy:
        sys.exit(f"bench_pairs: graftbench.Main already running (pid {busy}); "
                 "an overlapping run contaminates the pair")


def run_side(checkout, workload, seed, seconds):
    """One perfbench run; returns (result object, report line) or raises."""
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds)],
        cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("{")]
    if r.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{checkout} seed {seed} exited {r.returncode}:\n"
                           f"{r.stdout[-1500:]}\n{r.stderr[-1500:]}")
    return json.loads(lines[-1]), json.loads(lines[-2])


def parse_seeds(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def summarize(records, metrics):
    by_seed = {}
    for r in records:
        by_seed.setdefault(r["seed"], {})[r["side"]] = r
    pairs = [p for p in by_seed.values() if len(p) == 2]
    for side in ("parent", "change"):
        rs = [r for r in records if r["side"] == side]
        print(f"{side}: {len(rs)} runs, {sum(not r['result']['correct'] for r in rs)} "
              f"incorrect, {sum(r['result']['failed'] for r in rs)} failed ops")
    print(f"{'metric':<16}{'parent':>30}{'change':>30}  wins")
    for name, better in metrics:
        cells = []
        for side in ("parent", "change"):
            v = [p[side]["result"]["metrics"][name]["value"] for p in pairs]
            cells.append(f"{statistics.median(v):.4g} [{quantile(v, .25):.4g}-"
                         f"{quantile(v, .75):.4g}]")
        sign = 1 if better == "higher" else -1
        wins = sum(sign * (p["change"]["result"]["metrics"][name]["value"]
                           - p["parent"]["result"]["metrics"][name]["value"]) > 0
                   for p in pairs)
        print(f"{name:<16}{cells[0]:>30}{cells[1]:>30}  {wins}/{len(pairs)}")
    ops = sorted({o for p in pairs for s in p.values() for o in s["op_s"]})
    print(f"{'operation':<20}{'parent median s':>18}{'change median s':>18}")
    for o in ops:
        med = [statistics.median(x for p in pairs for x in p[side]["op_s"].get(o, []))
               for side in ("parent", "change")]
        print(f"{o:<20}{med[0]:>18.3f}{med[1]:>18.3f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="A-B, inclusive")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--out", default=None, help="JSON-lines log (appended)")
    a = ap.parse_args()
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    out = a.out or f"bench_pairs_{a.workload}.jsonl"
    with open(os.path.join(sides["parent"], "BENCHMARK.json")) as f:
        metrics = [(m["name"], m["better"]) for m in json.load(f)["end_to_end"]]
    refuse_if_busy()
    records = []
    seeds = parse_seeds(a.seeds)
    for i, seed in enumerate(seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for pos, side in enumerate(order):
            refuse_if_busy()
            result, report = run_side(sides[side], a.workload, seed, a.seconds)
            rec = {"side": side, "seed": seed, "position": pos, "result": result,
                   "op_s": report.get("op_s", {})}
            records.append(rec)
            with open(out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            m = result["metrics"]
            print(f"seed {seed} {side}: " + ", ".join(
                f"{k}={m[k]['value']:.4g}" for k, _ in metrics), flush=True)
    summarize(records, metrics)


if __name__ == "__main__":
    main()
