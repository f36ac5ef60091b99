"""Compare two benchmark records (``run.py --record``) like for like.

    python3 perfbench/compare.py BASE.json NEW.json

Records of different workloads, core counts or input sizes are not
comparable: the command refuses them (exit 2). Otherwise it prints each
end-to-end metric of both records with NEW minus BASE (for a traced NEW
and an untraced BASE of one seed, that difference is the tracing
overhead), and checks that every call both records made has identical
job, stage and task counts (exit 1 when one differs). A run repeats its
cycle until its time is up, so one record may hold more calls than the
other: the calls both made are compared, in order.
"""

from __future__ import annotations

import json
import sys


class NotComparable(ValueError):
    pass


def comparable(base: dict, new: dict) -> None:
    """Raise NotComparable unless both records measure the same thing."""
    for what, a, b in (
        ("workload", base["workload"], new["workload"]),
        ("cpus", base["provenance"]["cpus"], new["provenance"]["cpus"]),
        ("input sizes", base["provenance"]["sizes"], new["provenance"]["sizes"]),
    ):
        if a != b:
            raise NotComparable(f"{what} differ: {a!r} vs {b!r}")


def count_differences(base: dict, new: dict) -> list[str]:
    """Spans whose shared calls differ in [jobs, stages, tasks, failed tasks]."""
    a, b = base["span_counts"], new["span_counts"]
    diffs = []
    for name in sorted(set(a) | set(b)):
        calls_a, calls_b = a.get(name, []), b.get(name, [])
        n = min(len(calls_a), len(calls_b))
        if not n or calls_a[:n] != calls_b[:n]:
            diffs.append(f"{name}: {calls_a[:n] or calls_a} vs {calls_b[:n] or calls_b}")
    return diffs


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = (json.load(open(p)) for p in argv)
    try:
        comparable(base, new)
    except NotComparable as e:
        print(f"refused: {e}", file=sys.stderr)
        return 2
    print(f"{'metric':<14} {'base':>12} {'new':>12} {'new-base':>12}")
    for name, a in base["end_to_end"].items():
        b = new["end_to_end"][name]
        print(f"{name:<14} {a:>12.4f} {b:>12.4f} {b - a:>+12.4f}")
    diffs = count_differences(base, new)
    print("per-call counts: " + ("identical" if not diffs else f"{len(diffs)} spans differ"))
    for d in diffs:
        print("  " + d)
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
