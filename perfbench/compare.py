#!/usr/bin/env python3
"""Compare two benchmark artifacts (.bench_build/results/*.json).

    python3 perfbench/compare.py BEFORE.json AFTER.json

Refuses (exit 3) when the two runs come from different hosts or JVM
settings: numbers are only comparable under the same fingerprint (cores,
memory, -Xmx, JDK, Spark). The commit and the seed may differ. Given the
--trace 0 and --trace 1 artifacts of one seed, the deltas are the
tracing overhead.
"""
import json
import sys

HOST_KEYS = ("nproc", "mem_total_kb", "xmx_mb", "jdk", "spark")


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = (json.load(open(p)) for p in sys.argv[1:])
    fa, fb = a["fingerprint"], b["fingerprint"]
    diff = [k for k in HOST_KEYS if fa.get(k) != fb.get(k)]
    if diff:
        for k in diff:
            print(f"fingerprint differs: {k}: {fa.get(k)} vs {fb.get(k)}", file=sys.stderr)
        print("refusing to compare runs from different hosts or settings", file=sys.stderr)
        sys.exit(3)
    if a["workload"] != b["workload"]:
        sys.exit(f"different workloads: {a['workload']} vs {b['workload']}")
    print(f"{a['workload']}: {fa['commit']} seed {fa['seed']} trace {a['trace']}"
          f"  ->  {fb['commit']} seed {fb['seed']} trace {b['trace']}")
    for section in ("end_to_end", "named", "per_layer"):
        for k in sorted(set(a[section]) | set(b[section])):
            x, y = a[section].get(k, 0.0), b[section].get(k, 0.0)
            rel = f"{100 * (y - x) / x:+8.1f}%" if x else "        "
            print(f"  {section:10s} {k:40s} {x:14.4f} {y:14.4f} {rel}")


if __name__ == "__main__":
    main()
