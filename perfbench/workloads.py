"""Input generators, compute-path references and output checks for the
benchmark's workloads.

Every input is a pure function of the seed. The program under test only ever
receives the generated tables: transcripts for `lexicon_durable`, a committed
mentions + triples_raw pair for `open_vocab`.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


# ── lexicon_durable ──────────────────────────────────────────────────────

def prepare_lexicon(spark: SparkSession, seed: int, work: Path, p: dict) -> dict:
    """Write the synthetic transcripts (157-term lexicon) to Parquet once.
    Each timed run reads this table back, as a user's job reads its input."""
    from knowledge_extraction_pipeline_spark.sources.transcripts_gen import (
        generate_transcripts,
    )

    src = str(work / "input" / "transcripts")
    generate_transcripts(spark, p["n_convs"], seed=seed).write.mode("overwrite").parquet(src)
    return {"transcripts": src}


def lexicon_reference(spark: SparkSession, inp: dict) -> dict:
    """Compute-path result (no checkpoints) on the same input."""
    from knowledge_extraction_pipeline_spark.api import build_knowledge_graph

    nodes, edges = build_knowledge_graph(spark, spark.read.parquet(inp["transcripts"]))
    return {"nodes": digest(nodes), "edges": digest(edges)}


# ── open_vocab ───────────────────────────────────────────────────────────
# Entity names are two words of three consonant-vowel syllables each, drawn
# by hash from 85 syllables: ~6e5 possible words, so distinct entities share
# few character 4-shingles and LSH buckets stay small. A low-entropy
# alphabet makes buckets blow up and link dominates beyond any run budget.

_CONSONANTS, _VOWELS = "bcdfghjklmnprstvz", "aeiou"
_SYLLABLES = [c + v for c in _CONSONANTS for v in _VOWELS]


def open_vocab_mentions(spark: SparkSession, seed: int, n_entities: int,
                        n_turns: int) -> DataFrame:
    """Mentions over `n_entities` planted entities, plus their `_entity` id.

    Turn t mentions entity t mod n_entities first (so every entity occurs
    when n_turns >= n_entities), then 1..3 more entities drawn log-uniformly
    (Zipf-like head). Each mention is the base name (60%, in lower, Title or
    UPPER case), its hyphenated form (20%) or a typo with the 3rd and 4th
    letters of the last word swapped (20%): the case forms merge in the
    exact phase, hyphen forms in the resolver-normalization phase, typos in
    the char-sort and MinHash phases."""
    from knowledge_extraction_pipeline_spark.config import CATEGORIES, IMPORTANCE_LEVELS

    syl = F.array(*[F.lit(s) for s in _SYLLABLES])

    def h(*cols):
        return F.xxhash64(F.lit(seed), *cols)

    def word(e, w):
        return F.concat(*[
            F.element_at(syl, (F.pmod(h(e, F.lit(w), F.lit(s)),
                                      F.lit(len(_SYLLABLES))) + 1).cast("int"))
            for s in range(3)])

    t = F.col("t")
    k = (F.pmod(h(t, F.lit("k")), F.lit(3)) + 2).cast("int")

    def zipf(j):
        u = F.pmod(h(t, j, F.lit("z")), F.lit(1_000_000)).cast("double") / 1e6
        return F.least(F.lit(n_entities - 1),
                       F.floor(F.pow(F.lit(float(n_entities)), u))).cast("long")

    turns = spark.range(0, n_turns, 1, 4).withColumnRenamed("id", "t").select(
        "t", F.transform(F.sequence(F.lit(0), k - 1), lambda j: F.struct(
            F.when(j == 0, F.pmod(t, F.lit(n_entities))).otherwise(zipf(j)).alias("e"),
            F.pmod(h(t, j, F.lit("v")), F.lit(100)).alias("roll"),
            j.alias("j"))).alias("ms"))
    m = turns.select("t", F.explode("ms").alias("m")).select("t", "m.*")

    e, roll = F.col("e"), F.col("roll")
    w0, w1 = word(e, 0), word(e, 1)
    typo = F.concat(w0, F.lit(" "), F.substring(w1, 1, 2), F.substring(w1, 4, 1),
                    F.substring(w1, 3, 1), F.substring(w1, 5, 100))
    norm = (F.when(roll < 60, F.concat(w0, F.lit(" "), w1))
            .when(roll < 80, F.concat(w0, F.lit("-"), w1))
            .otherwise(typo))
    term = (F.when(roll < 20, F.initcap(norm))
            .when(roll < 30, F.upper(norm)).otherwise(norm))
    cats = F.array(*[F.lit(c) for c in CATEGORIES])
    imps = F.array(*[F.lit(c) for c in IMPORTANCE_LEVELS])
    return m.select(
        F.format_string("conv%09d", (t / 8).cast("long")).alias("conv_id"),
        (t % 8).cast("int").alias("turn_idx"),
        term.alias("term"),
        norm.alias("norm_term"),
        F.element_at(cats, (F.pmod(h(e, F.lit("c")), F.lit(len(CATEGORIES))) + 1)
                     .cast("int")).alias("category"),
        F.element_at(imps, (F.pmod(h(e, F.lit("i")), F.lit(len(IMPORTANCE_LEVELS))) + 1)
                     .cast("int")).alias("importance"),
        F.col("j").cast("int").alias("start"),
        F.concat(F.lit("we discussed "), term, F.lit(" at length")).alias("quote"),
        F.lit(1.0).alias("confidence"),
        e.alias("_entity"),
    )


def triples_from_mentions(mentions: DataFrame) -> DataFrame:
    """Within-turn co-occurring norm-term pairs, subj < obj, one row per
    (pair, turn): the triples_raw contract of the extract stage."""
    per_turn = mentions.groupBy("conv_id", "turn_idx").agg(
        F.array_sort(F.collect_set("norm_term")).alias("ns"))
    pairs = F.filter(
        F.flatten(F.transform(F.col("ns"), lambda a: F.transform(
            F.col("ns"), lambda b: F.struct(a.alias("subj"), b.alias("obj"),
                                            (a < b).alias("keep"))))),
        lambda p: p["keep"])
    return per_turn.select("conv_id", "turn_idx", F.explode(pairs).alias("p")).select(
        F.col("p.subj").alias("subj"), F.lit("CO_OCCURS").alias("pred"),
        F.col("p.obj").alias("obj"), "conv_id", "turn_idx")


def prepare_open_vocab(spark: SparkSession, seed: int, work: Path, p: dict) -> dict:
    base = work / "input"
    m = open_vocab_mentions(spark, seed, p["n_entities"], p["n_turns"])
    m.write.mode("overwrite").parquet(str(base / "mentions_planted"))
    planted = spark.read.parquet(str(base / "mentions_planted"))
    triples_from_mentions(planted).write.mode("overwrite").parquet(
        str(base / "triples_raw"))
    return {"planted": str(base / "mentions_planted"),
            "triples_raw": str(base / "triples_raw")}


def read_mentions(spark: SparkSession, inp: dict) -> DataFrame:
    """The generated mentions without the planted entity id."""
    return spark.read.parquet(inp["planted"]).drop("_entity")


def commit_extract_slot(spark: SparkSession, inp: dict, run_dir: str) -> None:
    """Commit the generated pair as the run's extract checkpoint, with the
    program's own writer, so run_pipeline resumes past extract."""
    from knowledge_extraction_pipeline_spark.sources.tables import checkpoint_write

    checkpoint_write(read_mentions(spark, inp), run_dir, "extract", "mentions")
    checkpoint_write(spark.read.parquet(inp["triples_raw"]), run_dir, "extract",
                     "triples_raw")


def open_vocab_reference(spark: SparkSession, inp: dict) -> dict:
    """Compute-path result: the stage composition of
    api.build_knowledge_graph after extract, on the same mentions/triples."""
    from knowledge_extraction_pipeline_spark.operators.canonicalize import canonicalize_stage
    from knowledge_extraction_pipeline_spark.operators.link import distinct_terms, link_stage
    from knowledge_extraction_pipeline_spark.operators.materialize import materialize_stage

    m = read_mentions(spark, inp)
    tr = spark.read.parquet(inp["triples_raw"])
    asn = canonicalize_stage(distinct_terms(m), link_stage(m))
    nodes, edges = materialize_stage(spark, m, tr, asn)
    return {"nodes": digest(nodes), "edges": digest(edges),
            "groups": planted_group_errors(spark, inp, asn)}


def planted_group_errors(spark: SparkSession, inp: dict, assignments: DataFrame) -> dict:
    """How the canonicalization treats the planted entity groups: groups
    split across several canons, and canons that merge several groups."""
    planted = spark.read.parquet(inp["planted"]).select("norm_term", "_entity").distinct()
    j = planted.join(assignments.select("norm_term", "canon"), "norm_term")
    split = j.groupBy("_entity").agg(F.countDistinct("canon").alias("n")) \
        .filter(F.col("n") > 1).count()
    merged = j.groupBy("canon").agg(F.countDistinct("_entity").alias("n")) \
        .filter(F.col("n") > 1).count()
    return {"split": split, "false_merge": merged}


# ── checks shared by every workload ──────────────────────────────────────

def digest(df: DataFrame) -> list:
    """Order-insensitive content digest: row count, XOR and exact sum of the
    per-row xxhash64 (maps hashed as sorted entry arrays)."""
    cols = [F.array_sort(F.map_entries(F.col(f.name))) if isinstance(f.dataType, T.MapType)
            else F.col(f.name) for f in df.schema.fields]
    row = df.select(F.xxhash64(*cols).alias("h")).agg(
        F.count(F.lit(1)), F.bit_xor("h"), F.sum(F.col("h").cast("decimal(38,0)"))).first()
    return [int(row[0]), int(row[1] or 0), str(row[2] or 0)]


def unresolved_endpoints(nodes: DataFrame, edges: DataFrame,
                         assignments: DataFrame) -> int:
    """Edge endpoints that do not resolve through `assignments` to exactly
    one node."""
    ends = edges.select(F.col("subj").alias("norm_term")).union(
        edges.select(F.col("obj").alias("norm_term"))).distinct()
    per_node = nodes.groupBy("canon").agg(F.count(F.lit(1)).alias("n_nodes"))
    resolved = (ends.join(assignments.select("norm_term", "canon"), "norm_term", "left")
                .join(per_node, "canon", "left")
                .groupBy("norm_term")
                .agg(F.count("canon").alias("n_asn"),
                     F.sum(F.coalesce("n_nodes", F.lit(0))).alias("n_nodes")))
    return resolved.filter((F.col("n_asn") != 1) | (F.col("n_nodes") != 1)).count()


def check_run(spark: SparkSession, workload: str, p: dict, inp: dict, ref: dict,
              nodes: DataFrame, edges: DataFrame, assignments: DataFrame) -> list[str]:
    """Every check of one run; an empty list means the run's output is
    correct."""
    bad = []
    for name, df in (("nodes", nodes), ("edges", edges)):
        got = digest(df)
        if got != ref[name]:
            bad.append(f"{name} digest {got} != compute path {ref[name]}")
    if workload == "lexicon_durable":
        n = nodes.count()
        if n != p["expected_nodes"]:
            bad.append(f"{n} nodes, expected {p['expected_nodes']}")
    if workload == "open_vocab":
        groups = planted_group_errors(spark, inp, assignments)
        if groups != ref["groups"]:
            bad.append(f"planted groups {groups} != compute path {ref['groups']}")
    n_bad = unresolved_endpoints(nodes, edges, assignments)
    if n_bad:
        bad.append(f"{n_bad} edge endpoints do not resolve to exactly one node")
    return bad


PREPARE = {"lexicon_durable": prepare_lexicon, "open_vocab": prepare_open_vocab}
REFERENCE = {"lexicon_durable": lexicon_reference, "open_vocab": open_vocab_reference}
