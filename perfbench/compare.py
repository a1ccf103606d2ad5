"""Compare two saved benchmark runs.

    python3 perfbench/compare.py OLD.out NEW.out

Each file is the standard output of one ``perfbench/run.py`` run. Runs of
different workloads, trace modes, catalogs or cpu counts are refused (exit
2): a time measured on 8 cpus says nothing about one measured on 4.
Otherwise prints, per metric, the old and new value and new/old.
"""

from __future__ import annotations

import json
import sys

MUST_MATCH = ("workload", "trace", "sf_dir", "cpus")


def load(path: str) -> tuple[dict, dict]:
    with open(path) as f:
        lines = f.read().strip().splitlines()
    run = next(json.loads(ln[4:]) for ln in lines if ln.startswith("RUN "))
    return run, json.loads(lines[-1])["metrics"]


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    (old_run, old), (new_run, new) = load(argv[0]), load(argv[1])
    differ = [k for k in MUST_MATCH if old_run.get(k) != new_run.get(k)]
    if differ:
        print("refused: runs differ in " + ", ".join(
            f"{k} ({old_run.get(k)} vs {new_run.get(k)})" for k in differ), file=sys.stderr)
        return 2
    for name in old:
        if name in new:
            a, b = old[name]["value"], new[name]["value"]
            ratio = f"{b / a:.3f}" if a else "n/a"
            print(f"{name:48s} {a:12.4g} {b:12.4g} {ratio:>7s} {old[name]['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
