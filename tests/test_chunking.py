"""Chunking / windowing operators (SURVEY §2.5)."""

from pyspark.sql import functions as F

from knowledge_extraction_pipeline_spark.operators.chunking import (
    context_window,
    extract_headers_udf,
    merge_small_chunks,
    semantic_chunks,
    split_paragraphs_udf,
    split_sentences_udf,
)


def test_sentence_paragraph_header_udfs(spark):
    df = spark.createDataFrame(
        [("Dr. Smith et al. proved it. A new method works! Does it scale? Yes.",
          "para one\n\npara two\n\npara three",
          "# Title\nbody\n1.2 Methods\nmore\nALL CAPS HEADER\nrest")],
        "a string, b string, c string")
    row = df.select(
        split_sentences_udf("a").alias("s"),
        split_paragraphs_udf("b").alias("p"),
        extract_headers_udf("c").alias("h"),
    ).collect()[0]
    assert len(row["s"]) == 4 and row["s"][0].startswith("Dr. Smith")
    assert row["p"] == ["para one", "para two", "para three"]
    assert len(row["h"]) == 3


def test_semantic_chunks_cover_all_turns(spark, transcripts):
    sub = transcripts.filter(F.col("conv_id") < "conv000000020")
    chunks = semantic_chunks(sub).cache()
    # chunks partition each conversation: ranges are contiguous & complete
    spans = chunks.groupBy("conv_id").agg(
        F.min("first_turn_idx").alias("lo"), F.max("last_turn_idx").alias("hi"),
        F.sum(F.col("last_turn_idx") - F.col("first_turn_idx") + 1).alias("covered"),
    )
    turns = sub.groupBy("conv_id").agg(
        F.min("turn_idx").alias("lo2"), F.max("turn_idx").alias("hi2"),
        F.count(F.lit(1)).alias("n"))
    j = spans.join(turns, "conv_id")
    bad = j.filter((F.col("lo") != F.col("lo2")) | (F.col("hi") != F.col("hi2"))
                   | (F.col("covered") != F.col("n")))
    assert bad.count() == 0
    st = chunks.agg(F.count(F.lit(1)).alias("n_chunks"),
                    F.max("n_words").alias("max_words")).collect()[0]
    assert st["n_chunks"] > 0 and st["max_words"] <= 250

    merged = merge_small_chunks(chunks)
    assert merged.count() <= chunks.count()
    spans2 = merged.groupBy("conv_id").agg(
        F.sum(F.col("last_turn_idx") - F.col("first_turn_idx") + 1).alias("covered"))
    assert spans2.join(turns, "conv_id").filter(
        F.col("covered") != F.col("n")).count() == 0


def test_context_window(spark, transcripts):
    cw = context_window(transcripts.limit(0).unionByName(
        transcripts.filter(F.col("conv_id") == "conv000000000")), n=1)
    rows = {r["turn_idx"]: r for r in cw.collect()}
    mid = sorted(rows)[1]
    assert rows[mid]["context"].count(rows[mid]["text"]) >= 1
    # context of turn k contains turn k-1's text
    assert rows[sorted(rows)[0]]["text"] in rows[mid]["context"]
