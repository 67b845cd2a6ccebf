"""Traced run: spans around the benchmark's calls into each layer, Spark
jobs attributed to spans through job groups, task metrics from the event log.

The program is not instrumented. `traced_run_pipeline` composes the public
stage functions exactly as plans/pipeline.run_pipeline does and wraps each
call in a span; before each call it sets a Spark job group named after the
span, so every job the call starts is tagged with it in the event log.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

STAGE_LAYERS = ("extract", "link", "canonicalize", "materialize")
LAYERS = STAGE_LAYERS + ("tables", "pipeline")


class Tracer:
    """Spans kept in memory; `dump` writes them out once the run is over."""

    def __init__(self, spark: SparkSession):
        self._jsc = spark.sparkContext._jsc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, **tags):
        rec = {"id": len(self.spans), "trace": 0, "name": name, "layer": layer,
               "parent": self._stack[-1] if self._stack else None, **tags}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._jsc.setJobGroup(f"span-{rec['id']}", name, False)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self._jsc.setJobGroup(f"span-{parent['id']}", parent["name"], False)
            else:
                self._jsc.clearJobGroup()

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans, indent=1))


def traced_run_pipeline(spark: SparkSession, tr: Tracer, transcripts: DataFrame | None,
                        run_dir: str):
    """plans.pipeline.run_pipeline (enable_fuzzy=True), call for call, with a
    span around each call into a layer."""
    from knowledge_extraction_pipeline_spark.operators.canonicalize import canonicalize_stage
    from knowledge_extraction_pipeline_spark.operators.extract import extract_stage
    from knowledge_extraction_pipeline_spark.operators.link import distinct_terms, link_stage
    from knowledge_extraction_pipeline_spark.operators.materialize import materialize_stage
    from knowledge_extraction_pipeline_spark.plans.pipeline import PipelineResult
    from knowledge_extraction_pipeline_spark.sources.tables import (
        checkpoint_read,
        checkpoint_write,
        stage_committed,
    )

    def write(df, stage, table):
        with tr.span("checkpoint_write", "tables", stage=stage, table=table):
            return checkpoint_write(df, run_dir, stage, table)

    def read(stage, table):
        with tr.span("checkpoint_read", "tables", stage=stage, table=table):
            return checkpoint_read(spark, run_dir, stage, table)

    with tr.span("run_pipeline", "pipeline"):
        recomputed: list[str] = []
        if stage_committed(run_dir, "extract", "mentions") and \
           stage_committed(run_dir, "extract", "triples_raw"):
            mentions = read("extract", "mentions")
            triples_raw = read("extract", "triples_raw")
        else:
            with tr.span("extract_stage", "extract"):
                m, t = extract_stage(transcripts)
            mentions = write(m, "extract", "mentions")
            triples_raw = write(t, "extract", "triples_raw")
            recomputed.append("extract")

        terms = None

        def _terms():
            nonlocal terms
            if terms is None:
                with tr.span("distinct_terms", "link"):
                    terms = distinct_terms(mentions).localCheckpoint(eager=True)
            return terms

        if stage_committed(run_dir, "link", "candidates"):
            candidates = read("link", "candidates")
        else:
            vocab = _terms()
            with tr.span("link_stage", "link"):
                c = link_stage(mentions, enable_fuzzy=True, terms=vocab)
            candidates = write(c, "link", "candidates")
            recomputed.append("link")

        if stage_committed(run_dir, "canonicalize", "assignments"):
            assignments = read("canonicalize", "assignments")
        else:
            vocab = _terms()
            with tr.span("canonicalize_stage", "canonicalize"):
                a = canonicalize_stage(vocab, candidates)
            assignments = write(a, "canonicalize", "assignments")
            recomputed.append("canonicalize")

        if stage_committed(run_dir, "materialize", "nodes") and \
           stage_committed(run_dir, "materialize", "edges"):
            nodes = read("materialize", "nodes")
            edges = read("materialize", "edges")
        else:
            with tr.span("materialize_stage", "materialize"):
                n, e = materialize_stage(spark, mentions, triples_raw, assignments)
            nodes = write(n, "materialize", "nodes")
            edges = write(e, "materialize", "edges")
            recomputed.append("materialize")

    return PipelineResult(
        mentions=mentions, triples_raw=triples_raw, candidates=candidates,
        assignments=assignments, nodes=nodes, edges=edges,
        recomputed_stages=recomputed)


# ── event log ────────────────────────────────────────────────────────────

def read_event_log(log_dir: Path) -> dict:
    """Jobs (group, SQL execution, times, tasks) from a local, uncompressed
    Spark event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[tuple[int, dict]] = []
    executions: dict[int, str] = {}
    for f in sorted(log_dir.rglob("events_*")) + sorted(log_dir.glob("local-*")):
        with f.open() as fh:
            for line in fh:
                # skip the bulky plan events without decoding them
                if '"Event":"SparkListenerJob' not in line[:40] and \
                   '"Event":"SparkListenerTaskEnd"' not in line[:40] and \
                   "SQLExecutionStart" not in line[:80]:
                    continue
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    p = e.get("Properties") or {}
                    ex = p.get("spark.sql.execution.id")
                    jobs[e["Job ID"]] = {
                        "group": p.get("spark.jobGroup.id"),
                        "execution": int(ex) if ex is not None else None,
                        "start": e["Submission Time"] / 1000.0, "end": None,
                        "tasks": []}
                    for s in e["Stage IDs"]:
                        stage_job.setdefault(s, e["Job ID"])
                elif ev == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif ev == "SparkListenerTaskEnd":
                    tasks.append((e["Stage ID"], e.get("Task Metrics") or {}))
                elif ev.endswith("SQLExecutionStart"):
                    executions[e["executionId"]] = (e.get("details") or "").split("\n")[0]
    for stage, m in tasks:
        if stage in stage_job:
            jobs[stage_job[stage]]["tasks"].append(m)
    return {"jobs": jobs, "executions": executions}


def _task_sums(jobs: list[dict]) -> dict:
    run_ms, sr, sw, spill, out = [], 0, 0, 0, 0
    for j in jobs:
        for m in j["tasks"]:
            run_ms.append(m.get("Executor Run Time", 0))
            r = m.get("Shuffle Read Metrics") or {}
            sr += r.get("Local Bytes Read", 0) + r.get("Remote Bytes Read", 0)
            sw += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            spill += m.get("Disk Bytes Spilled", 0)
            out += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    med = statistics.median(run_ms) if run_ms else 0
    return {"task_s": sum(run_ms) / 1000.0, "shuffle_read_bytes": sr,
            "shuffle_write_bytes": sw, "spill_bytes": spill, "output_bytes": out,
            "task_skew": (max(run_ms) / med) if med else 1.0, "jobs": len(jobs)}


def self_times(spans: list[dict]) -> dict:
    """Per layer: span durations minus the part covered by child spans."""
    out = {layer: 0.0 for layer in LAYERS}
    for s in spans:
        kids = sum(c["end"] - c["start"] for c in spans if c["parent"] == s["id"])
        out[s["layer"]] += (s["end"] - s["start"]) - kids
    return out


def layer_metrics(spans: list[dict], log: dict) -> dict:
    """Per-layer times and task metrics. Inside a checkpoint_write span the
    first SQL execution (the write, which runs the stage's compute) counts
    toward the stage's layer and the later executions (post-write re-scans)
    toward `tables`."""
    by_group: dict[str, list[dict]] = {}
    for j in log["jobs"].values():
        by_group.setdefault(j["group"], []).append(j)

    layer_jobs = {layer: [] for layer in LAYERS}
    wall = {layer: 0.0 for layer in LAYERS}
    plan = {layer: 0.0 for layer in LAYERS}
    part: dict[str, float] = {}
    writes, post_write_s, read_s, executions = 0, 0.0, 0.0, 0
    for s in spans:
        jobs = sorted(by_group.get(f"span-{s['id']}", []), key=lambda j: j["start"])
        dur = s["end"] - s["start"]
        if s["name"] == "checkpoint_write":
            writes += 1
            execs = sorted({j["execution"] for j in jobs if j["execution"] is not None})
            executions += len(execs)
            first = [j for j in jobs if execs and j["execution"] == execs[0]]
            rest = [j for j in jobs if j not in first]
            w_end = max((j["end"] for j in first), default=s["start"])
            layer = s["stage"]
            layer_jobs[layer] += first
            layer_jobs["tables"] += rest
            wall[layer] += w_end - s["start"]
            plan[layer] += (first[0]["start"] - s["start"]) if first else 0.0
            post_write_s += s["end"] - w_end
            key = f"{s['stage']}.{s['table']}"
            part[key] = part.get(key, 0.0) + w_end - s["start"]
        elif s["name"] == "checkpoint_read":
            layer_jobs["tables"] += jobs
            read_s += dur
        elif s["layer"] in STAGE_LAYERS:
            layer_jobs[s["layer"]] += jobs
            wall[s["layer"]] += dur
            plan[s["layer"]] += dur if not jobs else 0.0
        else:
            layer_jobs[s["layer"]] += jobs

    sums = {layer: _task_sums(js) for layer, js in layer_jobs.items()}
    stage_spans = {s["name"]: s for s in spans}
    cc = stage_spans.get("canonicalize_stage")
    m = {
        "extract.wall_s": wall["extract"],
        "extract.driver_plan_s": plan["extract"],
        "extract.task_s": sums["extract"]["task_s"],
        "extract.shuffle_write_bytes": sums["extract"]["shuffle_write_bytes"],
        "link.wall_s": wall["link"],
        "link.task_s": sums["link"]["task_s"],
        "link.shuffle_read_bytes": sums["link"]["shuffle_read_bytes"],
        "link.task_skew": sums["link"]["task_skew"],
        "canonicalize.wall_s": wall["canonicalize"],
        "canonicalize.jobs": len(by_group.get(f"span-{cc['id']}", [])) if cc else 0,
        "materialize.plan_s": plan["materialize"],
        "materialize.nodes_s": part.get("materialize.nodes", 0.0),
        "materialize.edges_s": part.get("materialize.edges", 0.0),
        "materialize.task_s": sums["materialize"]["task_s"],
        "materialize.shuffle_read_bytes": sums["materialize"]["shuffle_read_bytes"],
        "materialize.shuffle_write_bytes": sums["materialize"]["shuffle_write_bytes"],
        "materialize.spill_bytes": sums["materialize"]["spill_bytes"],
        "materialize.task_skew": sums["materialize"]["task_skew"],
        "materialize.jobs": sums["materialize"]["jobs"],
        "tables.jobs_per_write": executions / writes if writes else 0.0,
        "tables.post_write_s": post_write_s,
        "tables.bytes_written": sum(_task_sums(by_group.get(f"span-{s['id']}", []))
                                    ["output_bytes"] for s in spans
                                    if s["name"] == "checkpoint_write"),
        "tables.read_s": read_s,
    }
    m.update({f"{layer}.self_s": v for layer, v in self_times(spans).items()})
    return m


# ── counts the traced run takes outside every span ───────────────────────

def lsh_stats(terms: DataFrame) -> dict:
    """LSH bucket sizes and candidate pairs for the run's vocabulary, with
    the link stage's own banding parameters and functions."""
    from knowledge_extraction_pipeline_spark.config import (
        LSH_NUM_BANDS,
        LSH_NUM_HASHES,
        LSH_SHINGLE_SIZE,
    )
    from knowledge_extraction_pipeline_spark.functions.text import (
        char_shingles,
        lsh_bands,
        minhash_signature,
    )

    sig = minhash_signature(F.array_distinct(char_shingles(F.col("norm_term"),
                                                           LSH_SHINGLE_SIZE)),
                            LSH_NUM_HASHES)
    banded = terms.select("norm_term", F.posexplode(
        lsh_bands(sig, LSH_NUM_HASHES, LSH_NUM_BANDS)).alias("band_idx", "band_hash"))
    bucket_max = banded.groupBy("band_idx", "band_hash").count() \
        .agg(F.max("count")).first()[0] or 0
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (a.join(b, ["band_idx", "band_hash"])
             .filter(F.col("a.norm_term") < F.col("b.norm_term"))
             .select("a.norm_term", "b.norm_term").distinct().count())
    return {"link.lsh_bucket_max": bucket_max, "link.lsh_candidate_pairs": pairs}


def output_counts(spark: SparkSession, res, run_dir: str, turns_in: int) -> dict:
    """Row counts of the run's tables (manifest) and of its candidate edges."""
    from knowledge_extraction_pipeline_spark.operators.canonicalize import DRIVER_CC_THRESHOLD
    from knowledge_extraction_pipeline_spark.sources.tables import read_manifest

    rows = {f"{st}.{t}": v["rows"] for st, s in read_manifest(run_dir)["stages"].items()
            for t, v in s["tables"].items()}
    extracted = "extract" in res.recomputed_stages
    phases = {r["phase"]: r["count"] for r in res.candidates.groupBy("phase").count().collect()}
    decided = res.candidates.filter(F.coalesce(F.col("phase") != "ambiguous", F.lit(True)))
    cc_edges = decided.select("src", "dst").filter(F.col("src") != F.col("dst")) \
        .distinct().count()
    m = {
        "extract.turns_in": turns_in if extracted else 0,
        "extract.mentions_out": rows["extract.mentions"] if extracted else 0,
        "extract.triples_out": rows["extract.triples_raw"] if extracted else 0,
        "link.terms_in": res.mentions.select("norm_term").distinct().count(),
        "canonicalize.edges_in": decided.count(),
        "canonicalize.components": res.assignments.select("canon").distinct().count(),
        "canonicalize.driver_path": int(cc_edges <= DRIVER_CC_THRESHOLD),
        "materialize.nodes_out": rows["materialize.nodes"],
        "materialize.edges_out": rows["materialize.edges"],
        "pipeline.stages_recomputed": len(res.recomputed_stages),
    }
    for p in ("alias", "resolver_norm", "charsort", "fuzzy"):
        m[f"link.edges_out.{p}"] = phases.get(p, 0)
    return m
