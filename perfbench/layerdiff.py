"""Diff two benchmark run records layer by layer.

    python3 perfbench/layerdiff.py BASE.json NEW.json

Each argument is a record written under ``.perfbench_results/`` (the
path a run prints as ``record ...``), normally of two traced runs of the
same workload on two commits. For every metric in either record's
``end_to_end`` and ``per_layer`` sections it prints the base value, the
new value and new/base, so each ratio is shown with its base. A metric
that one side lacks, or whose base is 0, is printed without a ratio.
"""

from __future__ import annotations

import json
import sys


def rows(base: dict, new: dict) -> list[tuple[str, str, float | None, float | None]]:
    out = []
    for section in ("end_to_end", "per_layer"):
        b, n = base.get(section, {}), new.get(section, {})
        for name in sorted(set(b) | set(n)):
            out.append((section, name, b.get(name), n.get(name)))
    return out


def fmt(v: float | None) -> str:
    return "-" if v is None else f"{v:.6g}"


def render(base: dict, new: dict) -> str:
    lines = []
    if base.get("workload") != new.get("workload"):
        lines.append(
            f"warning: workloads differ ({base.get('workload')} vs {new.get('workload')})"
        )
    lines.append(
        f"base: seed {base.get('seed')} trace {base.get('trace')}   "
        f"new: seed {new.get('seed')} trace {new.get('trace')}"
    )
    lines.append(f"{'section':<11} {'metric':<26} {'base':>12} {'new':>12} {'new/base':>9}")
    for section, name, b, n in rows(base, new):
        ratio = f"{n / b:.3f}" if b and n is not None else "-"
        lines.append(f"{section:<11} {name:<26} {fmt(b):>12} {fmt(n):>12} {ratio:>9}")
    return "\n".join(lines)


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    records = []
    for path in argv:
        with open(path) as fh:
            records.append(json.load(fh))
    print(render(*records))
    return 0


if __name__ == "__main__":
    sys.exit(main())
