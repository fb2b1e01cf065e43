#!/usr/bin/env python
"""Scale-up probe: time registered queries on generated tables at a base
scale and at N times that scale, and report the wall-clock ratio.

    python tools/scale_probe.py [multiplier] [name1,name2]

The multiplier defaults to 10 and the names to ``bench.HEADLINE``.  Both
table sets are written by ``perfbench/gen.py`` into a temp dir that is
removed at exit.  Each key is timed at both scales with bench.py's own
loop (one warm run, then the median of the count-timed runs).

The question this answers is the 100 TB question in miniature: does each
plan's cost grow ~linearly with data, or does something blow up
super-linearly (a pair join without blocking would)?  A ratio above 1.5x
the multiplier is flagged SUPER-LINEAR.  A key that raises prints
``name: FAIL <exception>`` (its traceback on stderr) and the probe goes
on; the exit status is 1 if any key failed.  Results are recorded in
SCALE.md.
"""

from __future__ import annotations

import importlib.util
import os
import sys
import tempfile
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# gen.py's scale 0.1 has sf0.1's row counts (lineitem 600,000, orders
# 150,000, events 100,000, documents 5,000), the corpus bench.py times.
BASE_SCALE = 0.1
# One fixed seed, so reruns and both scales draw from the same generator.
SEED = 7


def _load(name: str, rel: str):
    """Load a file of the checkout by path (``perfbench/`` is no package)."""
    spec = importlib.util.spec_from_file_location(name, os.path.join(REPO, rel))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    import bench
    from cassandra_snap_to_hadoop_spark.registry import load_all
    from cassandra_snap_to_hadoop_spark.session import drop_persisted, get_spark

    gen = _load("perfbench_gen", "perfbench/gen.py")
    mult = int(argv[0]) if argv else 10
    names = argv[1].split(",") if len(argv) > 1 else list(bench.HEADLINE)
    spark = get_spark("scale_probe")
    registry = load_all()

    def median_s(name: str, sf_dir: str) -> float:
        try:
            return bench._median(bench._timed_runs(registry[name], spark, sf_dir, extend_fast=True))
        finally:
            drop_persisted(spark)  # outside the timed region

    failed = 0
    with tempfile.TemporaryDirectory(prefix="scale_probe_") as tmp:
        base_dir, big_dir = os.path.join(tmp, "1x"), os.path.join(tmp, f"{mult}x")
        gen.write_tables(SEED, BASE_SCALE, base_dir)
        gen.write_tables(SEED, BASE_SCALE * mult, big_dir)
        print(f"# scale probe @ perfbench/gen.py seed={SEED} scale={BASE_SCALE}, "
              f"multiplier={mult}", flush=True)
        for name in names:
            try:
                base, big = median_s(name, base_dir), median_s(name, big_dir)
            except Exception as exc:  # report, then probe the next key
                failed += 1
                traceback.print_exc()  # stderr; stdout keeps one line per key
                head = (str(exc).strip().splitlines() or [""])[0][:200]
                print(f"{name}: FAIL {type(exc).__name__}: {head}", flush=True)
                continue
            ratio = big / base if base else float("inf")
            print(
                f"{name}: 1x={base:.2f}s {mult}x={big:.2f}s ratio={ratio:.1f} "
                f"({'~linear' if ratio <= mult * 1.5 else 'SUPER-LINEAR'})",
                flush=True,
            )
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
