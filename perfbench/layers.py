"""Print the per-layer table of a benchmark trace.

    python3 perfbench/layers.py [TRACE.json ...]

With no argument, prints every trace under ``.perfbench/traces/`` (written
by ``perfbench/run.py --trace 1``): first each span with its wall time,
self time, jobs, task time, no-task time and bytes, then the per-layer
metrics the benchmark reports.  Metrics of layers the workload does not run
are marked ``not run``; the JSON result line carries them as 0.
"""

from __future__ import annotations

import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def show(path: str) -> None:
    with open(path) as f:
        doc = json.load(f)
    print(f"== {doc['workload']} seed {doc['seed']}: traced run "
          f"{doc['traced_run_s']:.3f} s, untraced {doc['untraced_run_s']:.3f} s")
    head = (f"{'span':<34} {'layer':<11} {'wall_s':>8} {'self_s':>8} "
            f"{'jobs':>5} {'task_s':>8} {'no_task_s':>9} {'skew':>6} "
            f"{'shuffle_B':>11} {'written_B':>11}")
    print(head)
    for s in sorted(doc["spans"], key=lambda s: s["start"]):
        print(f"{s['name'][:34]:<34} {s['layer']:<11} {s['wall_s']:8.3f} "
              f"{s['self_s']:8.3f} {s['jobs']:5d} {s['task_s']:8.3f} "
              f"{s['no_task_s']:9.3f} {s['task_skew']:6.2f} "
              f"{s['shuffle_bytes']:11d} {s['bytes_written']:11d}")
    print()
    not_run = set(doc["not_run"])
    for name, value in doc["layers"].items():
        if name in not_run:
            print(f"  {name:<44} {'not run':>16}")
        else:
            print(f"  {name:<44} {value:16.4f}")
    print()


def main(argv: list[str]) -> int:
    paths = argv or sorted(glob.glob(os.path.join(
        os.path.dirname(HERE), ".perfbench", "traces", "*.json")))
    if not paths:
        print("no traces; run perfbench/run.py with --trace 1 first",
              file=sys.stderr)
        return 1
    for p in paths:
        show(p)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
