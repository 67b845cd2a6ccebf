"""The benchmark's own tests, at tiny input sizes.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())
SPEC = json.loads((HERE / "spec.json").read_text())

# Every metric the benchmark was specified with. Each is either emitted or
# listed in spec.json as dropped, with the reason.
SPECIFIED = {
    "end_to_end": ["wall_s", "triples_per_s", "setup_s", "failed_frac"],
    "per_layer": [
        "extract.wall_s", "extract.driver_plan_s", "extract.task_s",
        "extract.shuffle_write_bytes", "extract.turns_in", "extract.mentions_out",
        "extract.triples_out",
        "link.wall_s", "link.task_s", "link.shuffle_read_bytes", "link.task_skew",
        "link.terms_in", "link.edges_out.alias", "link.edges_out.resolver_norm",
        "link.edges_out.charsort", "link.edges_out.fuzzy", "link.lsh_bucket_max",
        "link.lsh_candidate_pairs", "link.fuzzy_yield",
        "canonicalize.wall_s", "canonicalize.edges_in", "canonicalize.components",
        "canonicalize.jobs", "canonicalize.driver_path",
        "materialize.plan_s", "materialize.nodes_s", "materialize.edges_s",
        "materialize.task_s", "materialize.shuffle_read_bytes",
        "materialize.shuffle_write_bytes", "materialize.spill_bytes",
        "materialize.task_skew", "materialize.jobs", "materialize.nodes_out",
        "materialize.edges_out",
        "tables.jobs_per_write", "tables.post_write_s", "tables.bytes_written",
        "tables.read_s",
        "pipeline.persistent_rdds_after", "pipeline.stages_recomputed",
        "session.start_s", "session.jvm_peak_rss_mb", "session.gc_s",
        "trace.overhead_s",
    ],
}


def _bench(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--params", "test"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_specified_metrics_are_declared_or_dropped():
    for kind, names in SPECIFIED.items():
        declared = {m["name"] for m in BENCHMARK[kind]}
        for name in names:
            assert name in declared or name in SPEC["dropped_metrics"], name
    assert {m["name"] for m in BENCHMARK["per_layer"]} == set(SPEC["per_layer"])
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(SPEC["workloads"])


@pytest.mark.parametrize("workload,trace", [
    ("lexicon_durable", 0), ("lexicon_durable", 1), ("open_vocab", 1)])
def test_every_metric_emitted_with_its_unit(workload, trace):
    out = _bench(workload, trace)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    declared = BENCHMARK["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == \
        {m["name"]: m["unit"] for m in declared}
    for v in out["metrics"].values():
        assert isinstance(v["value"], (int, float))


def test_not_importable_exits_nonzero(tmp_path):
    """Without the program next to it, the benchmark fails without a result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "_out", "__pycache__"))
    (tmp_path / "BENCHMARK.json").write_text((ROOT / "BENCHMARK.json").read_text())
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "lexicon_durable",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from knowledge_extraction_pipeline_spark.session import get_spark

    s = get_spark(master="local[2]", shuffle_partitions=2, extra_conf={
        "spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("warehouse"))})
    yield s
    s.stop()


def test_corrupted_output_counts_as_failed(spark, tmp_path):
    import workloads as wl
    from pyspark.sql import functions as F

    from knowledge_extraction_pipeline_spark.plans.pipeline import run_pipeline

    p = SPEC["workloads"]["lexicon_durable"]["test_params"]
    inp = wl.prepare_lexicon(spark, 5, tmp_path, p)
    ref = wl.lexicon_reference(spark, inp)
    res = run_pipeline(spark, spark.read.parquet(inp["transcripts"]),
                       str(tmp_path / "run"))

    def check(nodes, edges):
        return wl.check_run(spark, "lexicon_durable", p, inp, ref, nodes, edges,
                            res.assignments)

    assert check(res.nodes, res.edges) == []

    edges = res.edges.withColumn("_i", F.monotonically_increasing_id())
    first = edges.agg(F.min("_i")).first()[0]
    assert check(res.nodes, edges.filter(F.col("_i") != first).drop("_i"))

    victim = res.nodes.agg(F.min("canon")).first()[0]
    nodes = res.nodes.withColumn(
        "canon", F.when(F.col("canon") == victim, F.lit("corrupted canon"))
        .otherwise(F.col("canon")))
    assert check(nodes, res.edges)
