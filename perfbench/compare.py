#!/usr/bin/env python3
"""Compare two saved benchmark results.

    python3 perfbench/run.py --workload daily_delta --seed 1 --seconds 5 --trace 0 > BASE.json
    python3 perfbench/compare.py BASE.json NEW.json

Prints each metric of NEW as a ratio to BASE. Refuses (exit 2) to compare
results taken at different cpus, heaps, workloads or modes, or with other
Spark or JDK versions: numbers only compare on equal terms.
"""
import json
import sys

MUST_MATCH = ("cpus", "heap_bytes", "workload", "trace", "spark", "jdk")


def load(path):
    with open(path) as fh:
        lines = [l for l in fh.read().splitlines() if l.strip()]
    return json.loads(lines[-2])["config"], json.loads(lines[-1])


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    (ca, ra), (cb, rb) = load(sys.argv[1]), load(sys.argv[2])
    differ = [k for k in MUST_MATCH if ca.get(k) != cb.get(k)]
    if differ:
        print("refusing to compare: " + ", ".join(
            f"{k} {ca.get(k)} vs {cb.get(k)}" for k in differ), file=sys.stderr)
        sys.exit(2)
    for name, m in ra["metrics"].items():
        base, new = m["value"], rb["metrics"].get(name, {}).get("value")
        ratio = f"{new / base:8.3f}x" if new is not None and base else "       -"
        print(f"{name:44s} {base:14.4f} {new if new is not None else float('nan'):14.4f} "
              f"{ratio} {m['unit']}")
    print(f"correct {ra['correct']} -> {rb['correct']}, "
          f"failed {ra['failed']}/{ra['attempted']} -> {rb['failed']}/{rb['attempted']}")


if __name__ == "__main__":
    main()
