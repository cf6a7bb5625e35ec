#!/usr/bin/env python3
"""pdf_craft_spark benchmark runner.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest_short_books --seed 1 \\
        --seconds 10 --trace 0

Each run is one fresh single-process ``local[nproc]`` session from
``pdf_craft_spark.session.get_spark`` with no extra configuration, driven
by one client that submits the workload's jobs one after another (a closed
loop).  The workload repeats for about ``--seconds`` seconds, and at least
the workload's minimum number of times; the last line of
stdout is one JSON object with the correctness verdict and the metrics:
the end-to-end metrics of BENCHMARK.json with ``--trace 0`` and its
per-layer metrics with ``--trace 1``.  A traced run runs one untimed
iteration, then alternates untraced and traced ones (U T U T U at least),
so its tracing overhead is measured in the same session, warm against
warm.

``--tiny`` shrinks every input (the self-test uses it); ``--plant-defect``
drops one output row (a span of one document, or a row of one query result)
before the output check, which must then report a failed op.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_SAMPLES = 2


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--plant-defect", action="store_true")
    ap.add_argument("--probe-setup", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def start_session(cores: int):
    """The user's set-up: build the session, ship the package and warm the
    Python workers with one trivial kernel job."""
    t0 = time.perf_counter()
    from pdf_craft_spark.session import get_spark
    from pdf_craft_spark.shipping import ensure_package_shipped

    spark = get_spark(cores=cores)
    t1 = time.perf_counter()
    ensure_package_shipped(spark)
    t2 = time.perf_counter()

    def warm(batches):
        import pdf_craft_spark.operators.document  # noqa: F401

        yield from batches

    spark.range(0, cores, 1, cores).mapInPandas(warm, "id long").write.format("noop").mode(
        "overwrite"
    ).save()
    t3 = time.perf_counter()
    return spark, {"session.get_spark_s": t1 - t0, "shipping.ship_s": t2 - t1, "setup_s": t3 - t0}


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(pid, []))
    while todo:
        out.append(todo.pop())
        todo.extend(children.get(out[-1], []))
    return out


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM (it exits when its stdin closes) and
    wait until it and its Python workers are gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    pids = _descendants(os.getpid())
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


def _probe_setup(root: str, cores: int) -> float:
    """One set-up in a fresh process (JVM and Python workers included)."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--probe-setup", "--cores", str(cores)],
        cwd=root, capture_output=True, text=True, timeout=120,
    )
    if proc.returncode:
        raise RuntimeError(f"set-up probe failed:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])["setup_s"]


class Run:
    """What one benchmark run shares with its workload."""

    def __init__(self, args, root: str, work: str):
        self.root, self.work = root, work
        self.seed, self.cores, self.trace = args.seed, args.cores, bool(args.trace)
        self.run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
        self.spark = self.ledger = None
        self.tracer = None
        self.tracers: list = []
        self.last_iteration = -1


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pdf_craft_spark", "session.py")):
        print("run from the root of a pdf_craft_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    work = os.path.join(root, ".bench_work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # keep Spark's scratch files and Python temp files inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        if args.probe_setup:
            spark, timings = start_session(args.cores)
            stop_session(spark)
            print(json.dumps(timings))
            return 0
        return _bench(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _bench(args, root: str, work: str) -> int:
    import workloads
    from tracing import SparkLedger, Tracer

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    run = Run(args, root, work)
    wl = workloads.make(args.workload, run, args.tiny)
    sizes = wl.make_inputs()
    print(f"{args.workload} seed={args.seed} cores={args.cores} inputs: "
          + ", ".join(f"{k}={v}" for k, v in sizes.items()))
    setups = [] if run.trace else [_probe_setup(root, args.cores)
                                   for _ in range(SETUP_SAMPLES - 1)]
    spark, timings = start_session(args.cores)
    setups.append(timings["setup_s"])
    walls: dict[bool, list[float]] = {False: [], True: []}
    seq: dict[int, float] = {}  # iteration -> wall, warm-up left out
    layers: list[dict] = []
    problems: list[str] = []
    try:
        run.spark, run.ledger = spark, SparkLedger(spark)
        run.tracer = Tracer(f"{run.run_id}-prepare")
        t0 = time.perf_counter()
        wl.prepare()
        t_prepared = time.perf_counter()
        t_end = time.perf_counter() + args.seconds
        k = 0
        if run.trace:
            # one untimed iteration first, so the untraced (U) and traced (T)
            # iterations that follow are all warm and compare like with like
            run.tracer = Tracer(f"{run.run_id}-warm")
            wl.iteration(k, False)
            k += 1
        while True:
            traced = run.trace and k % 2 == 0
            run.tracer = Tracer(f"{run.run_id}-it{k}")
            wall = wl.iteration(k, traced)
            run.last_iteration = k
            walls[traced].append(wall)
            seq[k] = wall
            busy = sum(s["run_s"] for s in run.ledger.stages(f"it{k}:", tasks=False))
            if busy > wall * args.cores:
                problems.append(f"iteration {k}: executor run time {busy:.1f} s exceeds "
                                f"wall x cores = {wall * args.cores:.1f} s")
            if traced:
                run.tracers.append(run.tracer)
                layers.append(wl.layer_metrics(k, wall))
                layers[-1]["pyworkers.start_s"] = sum(
                    v.get("time to start Python workers", 0.0)
                    + v.get("time to initialize Python workers", 0.0)
                    for _, _, v in run.ledger.sql_nodes(f"it{k}:")
                )
            k += 1
            # stop once the minimum count is done and another iteration
            # would end past the window; a traced run runs U T U T U at
            # least and ends on a U, so every T has a U on both sides
            room = time.perf_counter() + wall <= t_end
            if run.trace:
                done = k >= 6 and k % 2 == 0 and not room
            else:
                done = k >= wl.min_iterations and not room
            if done:
                break
        t1 = time.perf_counter()
        attempted, failed = wl.check(args.plant_defect)
        t2 = time.perf_counter()
    finally:
        stop_session(spark)

    wall_s = statistics.median(walls[False])
    problems += wl.plausible(wall_s)
    for p in problems:
        print(f"implausible: {p}", file=sys.stderr)
    print(f"{args.workload}: iterations={k} walls={[round(w, 3) for w in walls[False]]} "
          f"traced={[round(w, 3) for w in walls[True]]} setups={[round(s, 3) for s in setups]} "
          f"prepare={t_prepared - t0:.1f}s measure={t1 - t_prepared:.1f}s check={t2 - t1:.1f}s "
          f"steps=({' '.join(f'{g}={s:.2f}' for g, s in run.ledger.step_s.items())}) "
          f"failed_share={failed / attempted:.4f}")
    if run.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = dict.fromkeys(units, 0.0)  # layers this workload bypasses stay 0
        for name in layers[0]:
            values[name] = statistics.median(m[name] for m in layers)
        values["session.get_spark_s"] = timings["session.get_spark_s"]
        values["shipping.ship_s"] = timings["shipping.ship_s"]
        # each traced iteration against the mean of its two untraced neighbours
        values["trace.overhead_share"] = statistics.median(
            seq[i] / ((seq[i - 1] + seq[i + 1]) / 2) for i in seq if i % 2 == 0
        ) - 1
        undeclared = set(values) - set(units)
        if undeclared:
            raise RuntimeError(f"metrics not declared in BENCHMARK.json: {sorted(undeclared)}")
        results = os.path.join(root, ".bench_results")
        os.makedirs(results, exist_ok=True)
        with open(os.path.join(results, f"{run.run_id}-spans.json"), "w") as f:
            json.dump([s for t in run.tracers for s in t.spans], f)
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = {"wall_s": wall_s, "setup_s": statistics.median(setups)}
    result = {
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
