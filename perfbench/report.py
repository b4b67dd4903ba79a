#!/usr/bin/env python3
"""Reports over traced benchmark runs.

    python3 perfbench/report.py determinism <workload> <seed> [seconds]
        Runs two traced runs of one workload and seed and lists, per
        per-op counter, whether every op kind repeats it exactly across
        the two runs. Only exact counters may back a count-based claim.

    python3 perfbench/report.py counters <workload> <seed> <counter,...> [kind ...]
        Prints the given per-op counters of a finished traced run
        (perfbench/.work/results/<workload>-seed<seed>-trace1.json), one
        row per op kind (first occurrence), optionally only some kinds.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RESULTS = os.path.join(HERE, ".work", "results")


def traced(workload, seed):
    with open(os.path.join(RESULTS, f"{workload}-seed{seed}-trace1.json")) as f:
        return json.load(f)


def by_kind(art):
    """op kind -> list of per-op counter dicts (plus build_s), in run order."""
    out = {}
    for o in art["ops"]:
        c = dict(o["counters"])
        out.setdefault(o["kind"], []).append(c)
    return out


def determinism(workload, seed, seconds):
    runs = []
    for i in range(2):
        subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
                       check=True, stdout=subprocess.DEVNULL)
        src = os.path.join(RESULTS, f"{workload}-seed{seed}-trace1.json")
        dst = src.replace(".json", f".run{i}.json")
        shutil.copy(src, dst)
        with open(dst) as f:
            runs.append(by_kind(json.load(f)))
    kinds = sorted(set(runs[0]) & set(runs[1]))
    names = sorted({n for r in runs for k in r for c in r[k] for n in c})
    print(f"# counter determinism: {workload}, seed {seed}, two traced runs, "
          f"{len(kinds)} op kinds")
    print("| counter | repeats exactly | kinds that differ |")
    print("|---|---|---|")
    for n in names:
        differ = [k for k in kinds
                  if len({c.get(n, 0.0) for r in runs for c in r[k]}) > 1]
        print(f"| {n} | {'yes' if not differ else 'no'} | "
              f"{len(differ)}/{len(kinds)}{': ' + ', '.join(differ[:4]) if differ else ''} |")


def counters(workload, seed, names, kinds):
    art = traced(workload, seed)
    rows = by_kind(art)
    print("| op | " + " | ".join(names) + " |")
    print("|---" * (len(names) + 1) + "|")
    for k in (kinds or sorted(rows)):
        if k in rows:
            c = rows[k][0]
            print(f"| {k} | " + " | ".join(f"{c.get(n, 0.0):.0f}" for n in names) + " |")


def main():
    if len(sys.argv) >= 4 and sys.argv[1] == "determinism":
        determinism(sys.argv[2], int(sys.argv[3]),
                    int(sys.argv[4]) if len(sys.argv) > 4 else 10)
    elif len(sys.argv) >= 5 and sys.argv[1] == "counters":
        counters(sys.argv[2], int(sys.argv[3]), sys.argv[4].split(","), sys.argv[5:])
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main()
