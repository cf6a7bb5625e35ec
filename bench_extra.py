#!/usr/bin/env python3
"""Optimization-round measurement harness (guide §1: measure first).

NOT the driver bench (bench.py is frozen for measurement) — this file
exists so optimization work can (a) time individual queries in isolation
with the noop sink (§1.4: computes every column, no sink cost, no
count() column pruning), (b) write each query's executedPlan, with the
expression ids (`#12`), exchange ids (`plan_id=34`) and lambda variable
ids (`lambda x_5`) stripped, to <dir>/<query>.txt, so two checkouts'
plans compare with `diff -r` whatever ran before in the session, and
(c) sweep an arbitrary subset of queries in bench order under the same
session conf and inter-query unpersist discipline bench.py uses, so
numbers here are comparable to the frozen ledger.

Usage:
  python bench_extra.py --queries dedup_lsh_quality setsim_prefix_join \
      --plans /tmp/plans_before      # time + dump plans
  python bench_extra.py --queries ... --reps 3   # timing only
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", nargs="+", required=True)
    ap.add_argument("--plans", metavar="DIR", help="write id-stripped executedPlans here")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--sink", choices=["noop", "count"], default="noop")
    ap.add_argument("--cpus", type=int, default=CPUS)
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from pdf_craft_spark.queries import QUERIES
    from pdf_craft_spark.queries.dedup import release_unprotected
    from pdf_craft_spark.session import get_spark

    # mirror bench.py's query-class session conf so numbers line up
    spark = get_spark(
        cores=args.cpus,
        app_name="bench-extra",
        shuffle_partitions=args.cpus,
        extra_conf={
            "spark.locality.wait": "0s",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    jsc = spark.sparkContext._jsc
    keep = {int(k) for k in jsc.getPersistentRDDs().keySet()}
    out: dict[str, list[float]] = {}
    for name in args.queries:
        secs = []
        for rep in range(args.reps):
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.time()
            df = QUERIES[name](spark, SF_DIR)
            if args.sink == "noop":
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            secs.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        if args.plans:
            df = QUERIES[name](spark, SF_DIR)
            txt = df._jdf.queryExecution().executedPlan().toString()
            with open(os.path.join(args.plans, f"{name}.txt"), "w") as f:
                f.write(re.sub(r"#\d+|plan_id=\d+|(?<=lambda \w)_\d+", "", txt))
        out[name] = secs
        print(f"# {name}: {secs}", file=sys.stderr)
        # bench.py's inter-query unpersist discipline
        release_unprotected(spark, keep)
    print(json.dumps({"sf_dir": SF_DIR, "cpus": args.cpus, "sink": args.sink, "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
