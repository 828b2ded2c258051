"""Garbage-collect orphaned materialized-index directories.

Thin CLI over :mod:`arkflow_spark.functions.index_gc` (one copy of the
prefix list and the sweep logic — sessions run the liveness-aware
``gc_nonlive`` sweep automatically at startup; this script is the
explicit between-sessions full sweep).

    python scripts/gc_indexes.py [warehouse_dir]   # default: ./spark-warehouse
    python scripts/gc_indexes.py --dry-run
    python scripts/gc_indexes.py --nonlive         # dead-owner dirs only

A production deployment with a real metastore would instead
content-address indexes by dataset version and expire them with normal
table-retention policy; this script is the local-mode equivalent.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from arkflow_spark.functions.index_gc import gc, gc_nonlive  # noqa: E402


def main() -> None:
    flags = {a for a in sys.argv[1:] if a.startswith("--")}
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    dry = "--dry-run" in flags
    warehouse = args[0] if args else "spark-warehouse"
    if "--nonlive" in flags:
        removed = gc_nonlive(warehouse, dry_run=dry)
    else:
        removed = gc(warehouse, dry_run=dry)
    verb = "would remove" if dry else "removed"
    print(f"{verb} {len(removed)} index dir(s) under {warehouse}")
    for name in removed:
        print(f"  {name}")


if __name__ == "__main__":
    main()
