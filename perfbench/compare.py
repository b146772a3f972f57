#!/usr/bin/env python3
"""Compare two benchmark artifacts of the same workload.

    python3 perfbench/compare.py <base.json> <new.json>

Artifacts are the records run.py writes to .bench_build/artifacts/. Two
artifacts taken at different core counts or heap sizes measure different
machines, so they are refused (exit 2), as is a pair of different
workloads. A contaminated artifact (another process used the machine
during the run) is compared, with a warning.
"""
import json
import sys


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = (json.load(open(p)) for p in sys.argv[1:])
    for key in ("workload", "cores", "heap"):
        if base[key] != new[key]:
            print(f"refusing to compare: {key} differs ({base[key]} vs {new[key]})",
                  file=sys.stderr)
            sys.exit(2)
    for name, a in (("base", base), ("new", new)):
        if a["contaminated"]:
            print(f"warning: {name} artifact is contaminated "
                  f"(load {a['load_before']} -> {a['load_after']}, "
                  f"foreign cpu {a['foreign_cpu_s']} s)", file=sys.stderr)
    print(f"{base['workload']} on {base['cores']} cores, heap {base['heap']}")
    for section in ("end_to_end", "per_layer"):
        keys = sorted(set(base[section]) & set(new[section]))
        for k in keys:
            b, n = base[section][k], new[section][k]
            if b is None or n is None:
                continue
            change = f"{(n - b) / b:+.1%}" if b else "n/a"
            print(f"{k:28s} {b:12.4f} {n:12.4f} {change:>8s}")


if __name__ == "__main__":
    main()
