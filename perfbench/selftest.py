#!/usr/bin/env python3
"""Self-test of the benchmark: every workload at a tiny size on 2 cores.

Run from the root of a checkout (takes a few minutes):

    python3 perfbench/selftest.py

It checks that
- every end-to-end metric of BENCHMARK.json prints with its unit untraced,
  and every per-layer metric with ``--trace 1``;
- each workload reports no failed op;
- a planted defect (one document with a dropped output span) is caught;
- extraction moves no shuffle bytes on extract_longtail, and
  corpus_queries builds each artifact at most once per iteration.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from workloads import ARTIFACTS, WORKLOADS  # noqa: E402


def bench(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--cores", "2", "--tiny", *extra]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if proc.returncode:
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    print(proc.stdout.strip().splitlines()[-2])
    return json.loads(proc.stdout.strip().splitlines()[-1])


def expect(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        raise SystemExit(1)


def main() -> None:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    for kind, trace in (("end_to_end", 0), ("per_layer", 1)):
        want = {m["name"]: m["unit"] for m in spec[kind]}
        for workload in WORKLOADS:
            r = bench(workload, trace)
            got = {n: m["unit"] for n, m in r["metrics"].items()}
            expect(got == want, f"{workload} --trace {trace}: every {kind} metric with its unit")
            expect(r["correct"] and r["failed"] == 0 and r["attempted"] > 0,
                   f"{workload} --trace {trace}: correct, failed_share 0")
            values = {n: m["value"] for n, m in r["metrics"].items()}
            if workload == "extract_longtail" and trace:
                expect(values["pipeline.shuffle_bytes"] == 0, "extract_longtail: no shuffle bytes")
            if workload == "corpus_queries" and trace:
                expect(0 < values["artifacts.builds"] <= len(ARTIFACTS),
                       "corpus_queries: artifacts built at most once")
    r = bench("ingest_short_books", 1, "--plant-defect")
    expect(r["failed"] > 0 and not r["correct"], "planted defect: failed_share > 0")


if __name__ == "__main__":
    main()
