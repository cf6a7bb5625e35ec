#!/usr/bin/env python3
"""Optimization-round measurement harness (guide §1: measure first).

NOT the driver bench (bench.py is frozen for measurement) — this file
exists so optimization work can (a) time individual queries in isolation
with the noop sink (§1.4: computes every column, no sink cost, no
count() column pruning), (b) capture `.explain("formatted")` plans into
plans/r06/<query>_<tag>.txt for before/after evidence, and (c) sweep an
arbitrary subset of queries in bench order under the same session conf
and inter-query unpersist discipline bench.py uses, so numbers here are
comparable to the frozen ledger.

Usage:
  python bench_extra.py --queries dedup_lsh_quality setsim_prefix_join \
      --tag before --plans           # time + dump plans
  python bench_extra.py --queries ... --reps 3   # timing only
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", nargs="+", required=True)
    ap.add_argument("--tag", default=None, help="plan file suffix (before/after)")
    ap.add_argument("--plans", action="store_true", help="dump formatted plans")
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
    plans_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")
    os.makedirs(plans_dir, exist_ok=True)

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
        if args.plans and args.tag:
            df = QUERIES[name](spark, SF_DIR)
            mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
            txt = df._jdf.queryExecution().explainString(mode)
            with open(os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(txt)
        out[name] = secs
        print(f"# {name}: {secs}", file=sys.stderr)
        # bench.py's inter-query unpersist discipline
        release_unprotected(spark, keep)
    print(json.dumps({"sf_dir": SF_DIR, "cpus": args.cpus, "sink": args.sink, "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
