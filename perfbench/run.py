#!/usr/bin/env python3
"""Durable-path benchmark of the KG pipeline.

    python3 perfbench/run.py --workload lexicon_durable --seed 1 --seconds 10 --trace 0

Run from the repository root. One driver process, one pipeline call at a
time (a closed loop with one client), Spark in local mode with one task slot
per available CPU. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. Workloads,
metrics and their units are described in perfbench/spec.json and
perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def driver_memory_mb() -> int:
    """A quarter of the machine's RAM, between 1 and 4 GiB. Sized from the
    total, not from what is free at the moment, so every run on one machine
    gets the same heap."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemTotal:"))
    return max(1024, min(4096, total_kb // 4096))


def cpu_seconds() -> float:
    """CPU seconds used so far by this process and all its descendants (the
    driver JVM and its Python workers), reaped children included."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stats[int(d)] = fields
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            ticks += sum(int(x) for x in stats[pid][11:15])
        todo.extend(children.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def spark_conf(work: Path, event_log: Path | None = None) -> dict:
    conf = {
        "spark.driver.memory": f"{driver_memory_mb()}m",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # keep the JVM's temp files and perf data inside the checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log.as_uri(),
                     "spark.eventLog.compress": "false"})
    return conf


def start_session(work: Path, event_log: Path | None = None):
    from knowledge_extraction_pipeline_spark.session import get_spark

    ncpu = len(os.sched_getaffinity(0))
    spark = get_spark(master=f"local[{ncpu}]", shuffle_partitions=ncpu,
                      extra_conf=spark_conf(work, event_log))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def drop_cached(spark) -> None:
    """Release what a pipeline call left cached, so the next call in this
    driver starts from the same state as the first."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


class Bench:
    def __init__(self, workload: str, seed: int, work: Path, params: str):
        import workloads as wl

        self.wl = wl
        self.workload, self.seed, self.work = workload, seed, work
        spec = json.loads((HERE / "spec.json").read_text())["workloads"][workload]
        self.params = spec["test_params" if params == "test" else "params"]
        self.n_runs = 0

    def setup(self, spark) -> None:
        t0 = time.perf_counter()
        self.inp = self.wl.PREPARE[self.workload](spark, self.seed, self.work,
                                                  self.params)
        t1 = time.perf_counter()
        # warm-up: the compute-path reference runs the same stage plans
        self.ref = self.wl.REFERENCE[self.workload](spark, self.inp)
        drop_cached(spark)
        print(f"setup: input {t1 - t0:.1f} s, reference {time.perf_counter() - t1:.1f} s",
              file=sys.stderr)
        if self.workload == "lexicon_durable":
            self.turns_in = spark.read.parquet(self.inp["transcripts"]).count()
        else:
            self.turns_in = 0

    def new_run_dir(self, spark) -> str:
        """A fresh run_dir, with the extract slot committed for open_vocab."""
        self.n_runs += 1
        run_dir = str(self.work / "runs" / f"run{self.n_runs}")
        if self.workload == "open_vocab":
            self.wl.commit_extract_slot(spark, self.inp, run_dir)
        return run_dir

    def transcripts(self, spark):
        if self.workload == "lexicon_durable":
            return spark.read.parquet(self.inp["transcripts"])
        return None  # extract is committed; run_pipeline never reads it

    def timed(self, spark, run_dir: str, call) -> dict:
        """One pipeline call, then its output checks (untimed)."""
        from knowledge_extraction_pipeline_spark.sources.tables import read_manifest

        out = {"ok": False}
        c0, t0 = cpu_seconds(), time.perf_counter()
        try:
            res = call(spark, self.transcripts(spark), run_dir)
            out["wall_s"] = time.perf_counter() - t0
            out["cpu_s"] = cpu_seconds() - c0
            out["persistent_rdds"] = len(spark.sparkContext._jsc.getPersistentRDDs())
            out["triples"] = read_manifest(run_dir)["stages"]["extract"]["tables"] \
                ["triples_raw"]["rows"]
            out["res"] = res
            bad = self.wl.check_run(spark, self.workload, self.params, self.inp,
                                    self.ref, res.nodes, res.edges, res.assignments)
            for b in bad:
                print(f"check failed: {b}", file=sys.stderr)
            out["ok"] = not bad
        except Exception:
            out.setdefault("wall_s", time.perf_counter() - t0)
            traceback.print_exc()
        return out


def run_untraced(bench: Bench, seconds: float) -> dict:
    from knowledge_extraction_pipeline_spark.plans.pipeline import run_pipeline

    t0 = time.perf_counter()
    spark = start_session(bench.work)
    bench.setup(spark)
    run_dir = bench.new_run_dir(spark)
    setup_s = time.perf_counter() - t0

    runs, window = [], time.perf_counter()
    while True:
        runs.append(bench.timed(spark, run_dir, run_pipeline))
        print(f"call {len(runs)}: {runs[-1]['wall_s']:.2f} s wall, "
              f"{runs[-1].get('cpu_s', 0.0):.2f} s CPU", file=sys.stderr)
        drop_cached(spark)
        if time.perf_counter() - window >= seconds:
            break
        run_dir = bench.new_run_dir(spark)
    spark.stop()

    cpus = [r["cpu_s"] for r in runs if "cpu_s" in r]
    rates = [r["triples"] / r["cpu_s"] for r in runs if "triples" in r]
    return {"runs": runs, "metrics": {
        "cpu_s": (statistics.median(cpus) if cpus else 0.0, "s"),
        "triples_per_cpu_s": (statistics.median(rates) if rates else 0.0, "triples/cpu-s"),
        "setup_s": (setup_s, "s"),
    }}


def run_traced(bench: Bench) -> dict:
    """An untraced call, then a traced call in a new SparkContext of the same
    warm driver JVM with the event log on; per-layer metrics from the
    traced call."""
    from knowledge_extraction_pipeline_spark.plans.pipeline import run_pipeline
    from tracing import Tracer, layer_metrics, lsh_stats, output_counts, read_event_log, \
        traced_run_pipeline

    t0 = time.perf_counter()
    spark = start_session(bench.work)
    start_s = time.perf_counter() - t0
    bench.setup(spark)
    untraced = bench.timed(spark, bench.new_run_dir(spark), run_pipeline)
    spark.stop()

    log_dir = bench.work / "events"
    spark = start_session(bench.work, event_log=log_dir)
    jvm = spark._jvm
    gc_ms = lambda: sum(b.getCollectionTime()  # noqa: E731
                        for b in jvm.java.lang.management.ManagementFactory
                        .getGarbageCollectorMXBeans())
    run_dir = bench.new_run_dir(spark)
    tracer = Tracer(spark)
    gc_s = {}

    def call(s, transcripts, d):
        gc0 = gc_ms()
        res = traced_run_pipeline(s, tracer, transcripts, d)
        gc_s["session.gc_s"] = (gc_ms() - gc0) / 1000.0
        return res

    traced = bench.timed(spark, run_dir, call)
    pid = jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    runs = [untraced, traced]
    metrics = {"trace.overhead_s": traced["wall_s"] - untraced["wall_s"],
               "pipeline.wall_s": untraced["wall_s"],
               "session.start_s": start_s, "session.jvm_peak_rss_mb": hwm_kb / 1024.0,
               **gc_s}
    if traced["ok"]:
        res = traced["res"]
        metrics["pipeline.persistent_rdds_after"] = traced["persistent_rdds"]
        if "triples" in untraced:
            metrics["pipeline.triples_per_s"] = untraced["triples"] / untraced["wall_s"]
        metrics.update(output_counts(spark, res, run_dir, bench.turns_in))
        metrics.update(lsh_stats(res.mentions.select("norm_term").distinct()))
        pairs = metrics["link.lsh_candidate_pairs"]
        metrics["link.fuzzy_yield"] = (metrics["link.edges_out.fuzzy"] / pairs
                                       if pairs else 0.0)
    spark.stop()
    metrics.update(layer_metrics(tracer.spans, read_event_log(log_dir)))
    tracer.dump(HERE / "_out" / f"spans-{bench.workload}-{bench.seed}.json")

    units = {m["name"]: m["unit"] for m in
             json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]}
    return {"runs": runs, "metrics": {k: (v, units[k]) for k, v in metrics.items()
                                      if k in units}}


def stop_gateway() -> None:
    """Stop the driver JVM this process launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--params", choices=("bench", "test"), default="bench",
                    help="'test' swaps in the tiny inputs the benchmark's own tests use")
    args = ap.parse_args(argv)

    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        import knowledge_extraction_pipeline_spark  # noqa: F401
        import workloads
    except ImportError as e:
        print(f"cannot import the program: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.PREPARE:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = HERE / "_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ.pop("SPARK_GRAFT_TMPFS", None)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    try:
        bench = Bench(args.workload, args.seed, work, args.params)
        out = run_traced(bench) if args.trace else run_untraced(bench, args.seconds)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_gateway()
        shutil.rmtree(work, ignore_errors=True)

    runs = out["runs"]
    failed = sum(not r["ok"] for r in runs)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(runs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
