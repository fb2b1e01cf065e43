#!/usr/bin/env python
"""Optimization-round measurement harness (guide §1).

    python tools/opt_measure.py <q1,q2,...|HEADLINE> [--sf DIR] [--runs N]
        [--plans plans/r11 --tag before|after] [--json OUT]

For each query: time the computation with the *noop sink* (forces every
column of every row, excludes sink cost — guide §1.4), label the job
(§1.5), count Exchanges / note join strategy from the formatted plan, flag
a CartesianProduct or row-at-a-time Python eval (BatchEvalPython), and
optionally write the full ``explain("formatted")`` to
``plans/r11/<name>_<tag>.txt`` (the judge-facing evidence artifact).

This is the measurement loop for OPTIMIZATION_r11.md; bench.py remains the
driver-facing headline (count()-timed, unchanged methodology).
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout


def main(argv: list[str] | None = None) -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap = argparse.ArgumentParser()
    ap.add_argument("queries")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", default=None)
    ap.add_argument("--tag", default="before")
    ap.add_argument("--json", dest="json_out", default=None)
    args = ap.parse_args(argv)

    from cassandra_snap_to_hadoop_spark.plans.explain import (
        broadcast_join_count,
        count_shuffles,
        uses_cartesian_product,
        uses_rowwise_python,
    )
    from cassandra_snap_to_hadoop_spark.registry import load_all
    from cassandra_snap_to_hadoop_spark.session import drop_persisted, get_spark

    spark = get_spark("opt_measure")
    registry = load_all()
    if args.queries == "HEADLINE":
        from bench import HEADLINE

        names = list(HEADLINE)
    else:
        names = args.queries.split(",")

    out: dict[str, dict] = {}
    for name in names:
        q = registry[name]
        df = q.fn(spark, args.sf)
        n_ex = count_shuffles(df)
        n_bc = broadcast_join_count(df)
        cart, rowwise = uses_cartesian_product(df), uses_rowwise_python(df)
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(args.plans, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(buf.getvalue())

        def run_once() -> float:
            spark.sparkContext.setJobDescription(f"opt:{name}")
            t0 = time.perf_counter()
            q.fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            spark.sparkContext.setJobDescription(None)
            return dt

        run_once()  # warm
        runs = sorted(round(run_once(), 3) for _ in range(args.runs))
        med = runs[len(runs) // 2]
        out[name] = {"noop_median": med, "runs": runs, "exchanges": n_ex, "bcast_joins": n_bc,
                     "cartesian": cart, "rowwise_python": rowwise}
        print(f"{name}: median={med}s runs={runs} exchanges={n_ex} bcast={n_bc} "
              f"cartesian={cart} rowwise_python={rowwise}", flush=True)
        drop_persisted(spark)

    total = round(sum(v["noop_median"] for v in out.values()), 3)
    print(f"TOTAL noop median: {total}s over {len(out)} queries")
    if args.json_out:
        with open(args.json_out, "w") as f:
            json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
