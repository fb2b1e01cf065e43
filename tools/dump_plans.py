#!/usr/bin/env python
"""Dump formatted physical plans for registered queries.

    python tools/dump_plans.py [sf_dir] [name1,name2] > PLANS.md

The directory defaults to bench.py's sf0.1 corpus and the names to
``bench.HEADLINE``.  Each query's ``explain("formatted")`` output is
written under its own ``## <name>`` heading, so plan properties (pushed
filters, read schemas, broadcast vs partitioned joins, whole-stage-codegen
spans, exchange reuse) are reviewable without running Spark, and two
checkouts' dumps of the same keys can be diffed.  The same invariants are
asserted programmatically in tests/test_plans.py; this file is the
human-readable twin.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    import bench
    from cassandra_snap_to_hadoop_spark.registry import load_all
    from cassandra_snap_to_hadoop_spark.session import get_spark

    sf_dir = argv[0] if argv else "/root/testdata/sf0.1"
    names = argv[1].split(",") if len(argv) > 1 else list(bench.HEADLINE)
    spark = get_spark("plans")
    registry = load_all()

    print("# PLANS — formatted physical plans")
    print()
    print(f"Generated by tools/dump_plans.py over `{sf_dir}` (pre-execution")
    print("AQE plans, `isFinalPlan=false`; runtime re-optimization may still")
    print("convert sort-merge joins to broadcast where stats allow).")
    for name in names:
        df = registry[name].fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        print(f"\n## {name}\n\n```\n{buf.getvalue().rstrip()}\n```")
    return 0


if __name__ == "__main__":
    sys.exit(main())
