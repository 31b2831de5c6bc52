"""Benchmark entry point: one workload per process, one closed-loop client.

    python3 perfbench/run.py --workload inreach_poll --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
into ``.perfbench_work/`` and removed at exit. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a traced run with ``--trace 1``). Progress goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# BENCHMARK.json is the metric registry: names, units, and which are
# printed by an untraced (end_to_end) or traced (per_layer) run.
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    METRICS = {k: {m["name"]: m["unit"] for m in v} for k, v in json.load(_fh).items()
               if k in ("end_to_end", "per_layer")}
# Warm-up runs whole rounds until a round is no more than 10% faster
# than the one before, between the workload's ``warmup_rounds`` bounds;
# the upper bound keeps a run within its time budget.
WARMUP_SETTLED = 0.9
T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T0:6.1f}s]: {msg}", file=sys.stderr, flush=True)


def prepare_env(work: str) -> None:
    """Keep every file Spark and Python write inside the work dir, and
    let the Python workers import the library whatever the cwd is."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    # for both JVMs spark-submit starts; without -XX:-UsePerfData each
    # writes /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={shlex.quote(os.path.join(work, 'warehouse'))} pyspark-shell")
    sys.path.insert(0, ROOT)


def drop_leaked_blocks(spark) -> None:
    """Untimed, between ops: unpersist leftover checkpoint blocks and
    run a JVM GC, as ``bench.py`` does, so one op's heap debt does not
    land on the next."""
    try:
        for _rid, rdd in spark.sparkContext._jsc.getPersistentRDDs().items():
            rdd.unpersist()
        spark.sparkContext._jvm.System.gc()
    except Exception:  # noqa: BLE001 - best effort, never fails an op
        pass


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile that leaves at least 10 samples beyond it,
    and which percentile that is. A run of fewer than 30 ops keeps a
    third of its samples beyond it instead, so the tail is never one
    stray op."""
    xs = sorted(samples)
    k = len(xs) - max(min(10, len(xs) // 3), 1)
    return xs[k - 1], 100.0 * k / len(xs)


class Runner:
    """The closed-loop client: runs rounds of ops, checks each output
    and counts failures."""

    def __init__(self, workload, spark, seed: int, rss):
        self.w, self.spark, self.seed, self.rss = workload, spark, seed, rss
        self.op_rss_kb: list[int] = []
        self.attempted = self.failed = 0
        self.op_seq = 0

    def one_op(self, name: str, rnd: int) -> float:
        sc = self.spark.sparkContext
        tr = self.w.tracer
        op_id = f"op{self.op_seq}"
        self.op_seq += 1
        tr.op_id = op_id
        sc.setJobGroup(op_id, name)
        self.rss.reset()
        t0 = time.perf_counter()
        ok = False
        try:
            with tr.span("op", query=name, round=rnd):
                out = self.w.run_op(name, op_id)
            dt = time.perf_counter() - t0
            self.rss.sample()
            self.op_rss_kb.append(self.rss.peak_kb)
            ok = self.w.verify(name, out)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            dt = time.perf_counter() - t0
            log(f"{name} FAILED: {type(e).__name__}: {str(e)[:300]}")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            tr.op_id = None
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"{name} output did not verify")
        if tr.enabled:
            self.w.record_op(name, op_id, dt)
        drop_leaked_blocks(self.spark)
        return dt

    def round(self, rnd: int) -> list[float]:
        """One round in a seeded order; returns the op latencies."""
        names = self.w.ops()
        random.Random(self.seed * 7_000_003 + rnd).shuffle(names)
        return [self.one_op(n, rnd) for n in names]


def run(args) -> dict:
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return run_in(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_in(args, work: str) -> dict:
    prepare_env(work)
    from spans import Tracer, TreeRss, patch_module_function
    from workloads import WORKLOADS

    from etl_inreach_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))  # what `nproc` prints
    workload = WORKLOADS[args.workload]
    timed_rounds = max(2, round(args.seconds / workload.round_s))
    warmup_min, warmup_max = workload.warmup_rounds
    with TreeRss() as rss:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=cpus)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        try:
            tracer = Tracer(enabled=False)
            w = workload(spark, ROOT, work, args.seed, tracer, args.scale)
            t0 = time.perf_counter()
            w.setup(generations=(warmup_max + 2 * timed_rounds) * len(w.ops()))
            log(f"session {session_s:.2f} s, inputs and answers {time.perf_counter() - t0:.2f} s")
            w.broken = args.break_op
            runner = Runner(w, spark, args.seed, rss)
            t0 = time.perf_counter()
            rounds, prev = 0, None
            while rounds < warmup_max:
                t = sum(runner.round(-1 - rounds))
                rounds += 1
                log(f"warm-up round {rounds}: {t:.2f} s")
                if rounds >= warmup_min and t >= WARMUP_SETTLED * prev:
                    break
                prev = t
            warmup_s = time.perf_counter() - t0
            setup_s = time.perf_counter() - T0
            first_timed = len(runner.op_rss_kb)
            lat = [dt for r in range(timed_rounds) for dt in runner.round(r)]
            op_rss_mb = statistics.median(runner.op_rss_kb[first_timed:] or [rss.peak_kb]) / 1024
            run_s = sum(lat)
            log(f"timed: {timed_rounds} rounds, {len(lat)} ops, run_s {run_s:.2f}, "
                f"op latencies {' '.join(f'{x:.3f}' for x in lat)}")
            if args.trace:
                tracer.enabled = True
                patch_module_function(tracer, "etl_inreach_spark", "load_table", "catalog.load_table")
                traced = [dt for r in range(timed_rounds) for dt in runner.round(timed_rounds + r)]
                layer = w.layer_metrics(tracer, sum(traced), run_s, cpus)
                layer["session.start_s"] = session_s
                layer["session.warmup_s"] = warmup_s
                spans = os.path.join(ROOT, ".perfbench_work", f"spans-{args.workload}-{args.seed}.json")
                tracer.dump(spans)
                log(f"spans: {spans}")
        finally:
            stop_spark(spark)
    p_tail, q_tail = tail(lat)
    log(f"threads {cpus}; op_tail_s is p{q_tail:.1f} of {len(lat)} ops; warm-up {rounds} rounds")
    if args.trace:
        metrics = {k: layer.get(k, 0.0) for k in METRICS["per_layer"]}
    else:
        metrics = {"setup_s": setup_s, "run_s": run_s, "op_p50_s": statistics.median(lat),
                   "op_tail_s": p_tail, "ok_frac": (runner.attempted - runner.failed) / runner.attempted,
                   "peak_rss_mb": op_rss_mb}
    return {"correct": runner.failed == 0, "attempted": runner.attempted, "failed": runner.failed,
            "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}}


def unit_of(name: str) -> str:
    return METRICS["end_to_end"].get(name) or METRICS["per_layer"][name]


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for
    every one of them to exit."""
    from pyspark import SparkContext

    from spans import process_tree

    procs = set(process_tree(os.getpid())) - {os.getpid()}
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 60
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in procs):
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["inreach_poll", "analytics_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "small"], default="full",
                    help="'small' shrinks the inputs for the self-check")
    ap.add_argument("--break-op", default=None, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "etl_inreach_spark")):
        log(f"the library package etl_inreach_spark is not in {ROOT}; run from a checkout")
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
