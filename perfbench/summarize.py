"""Per-layer summary of a traced run, and the tracing overhead.

    python3 perfbench/summarize.py --workload query --seed 1

Reads ``.perfbench_out/spans-<workload>-seed<n>-trace1.json``, computes
each layer's self time (a span's duration minus the part its child
spans cover) and the per-layer metrics, and prints each with the
end-to-end metric it should move (design.json). If the untraced result
of the same workload and seed is there too
(``result-<workload>-seed<n>-trace0.json``), it prints the tracing
overhead: the traced run's end-to-end metrics minus the untraced run's.
"""

from __future__ import annotations

import argparse
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))


def load_design() -> dict:
    with open(os.path.join(HERE, "design.json")) as f:
        return json.load(f)


def _end_to_end(path: str) -> dict:
    with open(path) as f:
        return json.load(f)["end_to_end"]


def print_summary(workload: str, metrics: dict, out: str, seed: int) -> None:
    design = {m["name"]: m for m in load_design()["per_layer"]}
    print(f"layers {workload} seed {seed}: value unit -> should move")
    for name, value in metrics.items():
        d = design[name]
        print(f"layer {name} {value:.6g} {d['unit']} -> {d['moves']}")
    paths = [os.path.join(out, f"result-{workload}-seed{seed}-trace{t}.json")
             for t in (1, 0)]
    if not all(os.path.exists(p) for p in paths):
        print("overhead: no untraced result for this workload and seed")
        return
    traced, plain = (_end_to_end(p) for p in paths)
    for name in sorted(plain):
        print(f"overhead {name} {traced[name] - plain[name]:+.6g} "
              f"(traced {traced[name]:.6g}, untraced {plain[name]:.6g})")


def main() -> None:
    import spans

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", default=os.path.join(os.path.dirname(HERE),
                                                  ".perfbench_out"))
    args = ap.parse_args()
    path = os.path.join(args.out, f"spans-{args.workload}-seed{args.seed}-trace1.json")
    with open(path) as f:
        recorded = json.load(f)["spans"]
    print_summary(args.workload, spans.layer_metrics(recorded), args.out, args.seed)


if __name__ == "__main__":
    main()
