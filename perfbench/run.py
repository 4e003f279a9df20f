"""spark-em benchmark: one workload per run, in a fresh Spark local-mode JVM.

    python3 perfbench/run.py --workload pages_em --seed 42 --seconds 1 --trace 0

Run from the root of a source checkout. The run

1. empties its work directory ``.perfbench/`` (Spark local dirs, generated
   inputs, temp files) inside the checkout;
2. sets up: starts the session, generates the workload's inputs from the
   seed, fits what the workload fits, and runs one untimed warm-up
   iteration (``setup_s`` covers all of it);
3. runs whole timed iterations of the workload's job until ``--seconds``
   have passed, releasing every cache between iterations;
4. checks the last iteration's outputs against independent computations and
   runs the checker self-test;
5. prints one JSON object as its last line: the end-to-end metrics with
   ``--trace 0``, the per-layer metrics of a traced run with ``--trace 1``.

The end-to-end timings are CPU seconds of the run's process tree (the
Python driver, the JVM, the Python daemon and workers), not wall time: on a
shared host the wall time of the same iteration moved by up to 80 % with
the host's load, its CPU time by about a third as much. Wall times are
reported by the traced run.

See perfbench/README.md for the workloads, metrics and reference figures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
from collections import Counter

from proc import process_tree, tree_cpu_s, tree_rss_bytes

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
#: fixed JVM heap, so the host's RAM does not size the run
HEAP = "3g"
#: task slots: min(MAX_SLOTS, cores available); the reference figures in
#: README.md were taken at 4
MAX_SLOTS = 4

#: per-layer metric families; every traced run reports all of them, with 0
#: for a layer the workload does not reach
LAYERS = ("set_join", "blocker", "topk", "dedup", "connected_components",
          "features", "random_forest", "sim", "pages")
PY_LAYERS = ("random_forest", "sim", "dedup")


class RssSampler(threading.Thread):
    """Peak resident set of this process and all its descendants (the Spark
    JVM, the Python daemon and its workers), sampled from /proc."""

    def __init__(self, period_s: float = 0.2):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes())
            self._stop_event.wait(self.period_s)

    def stop(self) -> None:
        self._stop_event.set()
        self.join()


def prepare_environment() -> None:
    """Paths and temp dirs set before the JVM and Python workers start."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(WORK, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # the package is not installed: workers import it from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path[:0] = [ROOT, HERE]


def stop_spark(spark) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes), and
    wait until no process this run started is left."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(process_tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def start_spark(conf: dict[str, str]):
    from entityblockingbysimilarityjoins_spark.session import get_spark

    slots = min(MAX_SLOTS, len(os.sched_getaffinity(0)))
    spark = get_spark(
        app_name="perfbench", master=f"local[{slots}]", shuffle_partitions=2 * slots,
        extra_conf={
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions":
                # a heap of fixed size whose generations do not adapt to
                # GC pause times, which grow when the host is busy (with the
                # adaptive policy on, two runs of ten peaked 1.9 GB higher)
                f"-Xms{HEAP} -XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy "
                f"-XX:ParallelGCThreads={slots} -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
                "-Djava.net.preferIPv6Addresses=false",
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every execution and job back at the end
            "spark.ui.retainedJobs": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            **conf,
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed_iteration(wl) -> tuple[float, float]:
    """(wall s, CPU s of the process tree) of one iteration."""
    c0, t0 = tree_cpu_s(), time.perf_counter()
    wl.iteration()
    return time.perf_counter() - t0, tree_cpu_s() - c0


def layer_metrics(spans, setup_spans) -> dict[str, float]:
    """Median over the traced iterations of each layer's span figures."""
    per_iter: dict[str, list[float]] = {}
    for it in spans:
        sums: dict[str, float] = {}
        for sp in it:
            m = sp.metrics
            add = {"wall_s": sp.wall_s, "cpu_s": sp.cpu_s, "rows_out": sp.rows_out,
                   "shuffle_mb": m["shuffle_bytes"] / 2**20,
                   "spark_jobs": m["spark_jobs"]}
            if sp.layer in PY_LAYERS:
                add.update(py_run_s=m["py_run_s"], py_init_s=m["py_init_s"],
                           py_sent_mb=m["py_sent_bytes"] / 2**20)
            if sp.layer == "set_join":
                add["candidates"] = m["join_rows_max"]
            for k, v in add.items():
                key = f"{sp.layer}.{k}"
                sums[key] = sums.get(key, 0.0) + v
        for k, v in sums.items():
            per_iter.setdefault(k, []).append(v)
    out = {k: statistics.median(v) for k, v in per_iter.items()}
    for sp in setup_spans:
        if sp.step == "generate":
            out.update({"pages.wall_s": sp.wall_s, "pages.cpu_s": sp.cpu_s,
                        "pages.rows_out": sp.rows_out,
                        "pages.shuffle_mb": sp.metrics["shuffle_bytes"] / 2**20,
                        "pages.spark_jobs": sp.metrics["spark_jobs"]})
        elif sp.step == "fit":
            out["random_forest.fit_s"] = sp.wall_s
    return out


def per_layer_names() -> list[tuple[str, str]]:
    names = []
    for layer in LAYERS:
        names += [(f"{layer}.wall_s", "s"), (f"{layer}.cpu_s", "s"),
                  (f"{layer}.rows_out", "count"),
                  (f"{layer}.shuffle_mb", "MB"), (f"{layer}.spark_jobs", "count")]
        if layer in PY_LAYERS:
            names += [(f"{layer}.py_run_s", "s"), (f"{layer}.py_init_s", "s"),
                      (f"{layer}.py_sent_mb", "MB")]
    names += [("set_join.candidates", "count"), ("random_forest.fit_s", "s"),
              ("trace.overhead_s", "s"), ("setup.wall_s", "s"), ("job.wall_s", "s")]
    return names


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    prepare_environment()
    from spans import Tracer  # noqa: E402  (after sys.path is set)

    import selftest
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    rss = RssSampler()
    rss.start()
    spark = start_spark(WORKLOADS[args.workload].spark_conf())
    try:
        traced = bool(args.trace)
        tracer = Tracer(spark, traced=traced)
        wl = WORKLOADS[args.workload](spark, WORK, args.seed, tracer)
        wl.setup()
        # one warm-up iteration pays for class loading, code generation and
        # Python worker start (≈ 1.3 times the CPU of the next one); the
        # next still pays ≈ 20 % more than later ones for JIT compilation,
        # about equally in every run, and a second warm-up does not fit
        # the run budget
        timed_iteration(wl)
        wl.release()
        setup_wall_s = time.perf_counter() - T_START
        setup_s = tree_cpu_s()
        setup_spans = list(tracer.spans)

        walls, cpus, iteration_spans = [], [], []
        t_run = time.perf_counter()
        while True:
            n0 = len(tracer.spans)
            wall, cpu = timed_iteration(wl)
            walls.append(wall)
            cpus.append(cpu)
            iteration_spans.append(tracer.spans[n0:])
            # the peak covers set-up and one timed iteration, a fixed amount
            # of work however many iterations the run has time for
            if rss.is_alive():
                rss.stop()
            if time.perf_counter() - t_run >= args.seconds:
                break
            wl.release()
        t_checks = time.perf_counter()
        tracer.harvest()

        results, quality = wl.check()
        results += selftest.run()
        attempted = len(walls) + len(results)
        failed = sum(not c.ok for c in results)
        for c in results:
            print(f"check {'ok  ' if c.ok else 'FAIL'} {c.name}: {c.detail}", file=sys.stderr)

        job_cpu_s = statistics.median(cpus)
        if traced:
            metrics = {k: 0.0 for k, _ in per_layer_names()}
            metrics.update(layer_metrics(iteration_spans, setup_spans))
            # what tracing adds to an iteration: the time outside its spans
            # (listener-bus waits and status-store reads around each span)
            metrics["trace.overhead_s"] = statistics.median(
                w - sum(sp.wall_s for sp in spans)
                for w, spans in zip(walls, iteration_spans))
            metrics["setup.wall_s"] = setup_wall_s
            metrics["job.wall_s"] = statistics.median(walls)
            units = dict(per_layer_names())
            tracer.write(os.path.join(WORK, f"trace_{wl.name}.json"))
            for sp in iteration_spans[-1]:
                if sp.joins:
                    print(f"joins {sp.step}: {dict(Counter(sp.joins))}", file=sys.stderr)
            report = {k: {"value": metrics[k], "unit": units[k]} for k in units}
        else:
            rates = wl.rates()
            report = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "job_cpu_s": {"value": job_cpu_s, "unit": "s"},
                "records_per_cpu_s": {"value": wl.n_records / job_cpu_s, "unit": "1/s"},
                "blocking_pairs_per_cpu_s": {"value": rates["blocking_pairs_per_cpu_s"],
                                             "unit": "1/s"},
                "scoring_pairs_per_cpu_s": {"value": rates["scoring_pairs_per_cpu_s"],
                                            "unit": "1/s"},
                "peak_rss_mb": {"value": rss.peak_bytes / 2**20, "unit": "MB"},
                "pair_recall": {"value": quality["pair_recall"], "unit": "ratio"},
                "match_f1": {"value": quality["match_f1"], "unit": "ratio"},
            }
        print(f"setup_s={setup_s:.2f} setup_wall_s={setup_wall_s:.2f} "
              f"loop_s={t_checks - t_run:.2f} "
              f"checks_s={time.perf_counter() - t_checks:.2f} "
              f"iterations={len(walls)} walls={[round(w, 3) for w in walls]} "
              f"cpus={[round(c, 2) for c in cpus]} "
              f"steps={ {k: round(v, 2) for k, v in wl.walls.items()} } "
              f"step_cpus={ {k: round(v, 2) for k, v in wl.cpus.items()} }", file=sys.stderr)
    finally:
        t_end = time.perf_counter()
        if rss.is_alive():
            rss.stop()
        stop_spark(spark)
        for sub in ("local", "tmp", "docs", "pages.parquet"):
            shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
    print(f"teardown_s={time.perf_counter() - t_end:.2f}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": report}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
