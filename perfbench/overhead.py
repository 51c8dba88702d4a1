"""Tracing overhead: a traced run's end-to-end metrics minus an untraced run's.

    python3 perfbench/run.py --workload W --seed N --seconds 10 --trace 0
    python3 perfbench/run.py --workload W --seed N --seconds 10 --trace 1
    python3 perfbench/overhead.py --workload W --seed N

Both runs leave their details in ``.perfbench_out/``; this prints one JSON
object with, per end-to-end metric, the two values and their difference.
"""

from __future__ import annotations

import argparse
import json
from pathlib import Path

OUT = Path(__file__).resolve().parent.parent / ".perfbench_out"


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    args = p.parse_args(argv)
    runs = []
    for t in (0, 1):
        with open(OUT / f"{args.workload}-seed{args.seed}-trace{t}.json") as f:
            runs.append(json.load(f)["end_to_end"])
    untraced, traced = runs
    print(json.dumps({
        k: {"untraced": untraced[k], "traced": traced[k], "overhead": traced[k] - untraced[k]}
        for k in untraced
    }, indent=1))


if __name__ == "__main__":
    main()
