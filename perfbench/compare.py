"""Compare two benchmark detail files (written to .bench_out/ by run.py).

    python3 perfbench/compare.py BASE.json NEW.json

Prints every end-to-end metric of both with the relative change, and
for a traced NEW against an untraced BASE of the same workload and seed,
the tracing overhead (traced wall_s minus untraced wall_s). Refuses
(exit 2) when the two runs used different core counts: timings taken
at different parallelism are not comparable.
"""

from __future__ import annotations

import json
import sys

CORE_KEYS = ("nproc", "cpu_count", "spark_cores", "SPARK_GRAFT_CPUS")


def load(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = (load(p) for p in argv)
    pb, pn = base["provenance"], new["provenance"]
    diff = {k: (pb.get(k), pn.get(k)) for k in CORE_KEYS if pb.get(k) != pn.get(k)}
    if diff:
        print(f"refusing to compare runs with different core counts: {diff}", file=sys.stderr)
        return 2
    if pb["workload"] != pn["workload"]:
        print(f"different workloads: {pb['workload']} vs {pn['workload']}", file=sys.stderr)
        return 2
    for k, b in base["end_to_end"].items():
        n = new["end_to_end"][k]
        print(f"{k:14s} {b:12.4f} {n:12.4f} {(n - b) / b:+8.1%}" if b else f"{k:14s} {b} {n}")
    if pn["trace"] == 1 and pb["trace"] == 0 and pn["seed"] == pb["seed"]:
        over = new["end_to_end"]["wall_s"] - base["end_to_end"]["wall_s"]
        print(f"tracing overhead (traced - untraced wall_s): {over:+.3f} s")
    if pn["inputs"] != pb["inputs"]:
        print("note: input digests differ (different seed or generator)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
