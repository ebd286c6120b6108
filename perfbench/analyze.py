"""Print the analysis of a traced run.

    python3 perfbench/analyze.py .perfbench_out/trace-<workload>-s<seed>-<time>.json

The trace file holds the run's report, computed by report.py, and its
raw spans and op records. This prints the report's per-op-name
breakdown (traced and untraced op counts, the median latency of each,
the self time per span name averaged over the traced ops, the mean
Spark counters), the self time per layer, the tracing overhead and the
largest excess of summed self time over an op's wall time (0 when the
spans nest correctly).
"""

from __future__ import annotations

import json
import sys


def _s(v: float | None) -> str:
    return "-" if v is None else f"{v:.4f}"


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[0]) as f:
        report = json.load(f)["report"]
    layers = report["layers"]
    for name, d in layers["by_op"].items():
        print(f"{name}: traced={d['traced']} untraced={d['untraced']} failed={d['failed']}"
              f" median traced={_s(d['median_traced_s'])}"
              f" untraced={_s(d['median_untraced_s'])} s")
        for span, v in d["self_s_by_span"].items():
            print(f"    self {span:<28} {v:9.4f} s")
        for k, v in d["spark"].items():
            print(f"    spark {k:<27} {v:12.4f}")
    print("self time per traced op, by layer:")
    for layer, v in layers["self_s_per_op_by_layer"].items():
        print(f"    {layer:<32} {v:9.4f} s")
    overhead = report["metrics"]["trace.overhead_share"]["value"]
    print(f"tracing overhead: {overhead:+.3f} of untraced latency")
    print(f"largest self-time excess over op wall: {layers['selftime_excess_s']:.6f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
