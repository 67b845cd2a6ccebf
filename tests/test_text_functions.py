"""Scalar text/vector functions (functions/text.py, functions/vectors.py)."""

from pyspark.sql import functions as F

from knowledge_extraction_pipeline_spark.functions.text import (
    char_shingles,
    has_citations,
    lang_id,
    normalize_term,
    normalize_term_resolver,
    quality_score,
    token_count,
    word_count,
    word_shingles,
)
from knowledge_extraction_pipeline_spark.functions.vectors import cosine, dot, norm


def _one(spark, col, value):
    return spark.createDataFrame([(value,)], "v string").select(col(F.col("v")).alias("r")).collect()[0]["r"]


def test_normalize_variants(spark):
    assert _one(spark, normalize_term, "  Machine   Learning ") == "machine learning"
    assert _one(spark, normalize_term, "Spark-SQL") == "spark-sql"
    assert _one(spark, normalize_term_resolver, "Spark-SQL_x") == "spark sql x"


def test_counts(spark):
    assert _one(spark, word_count, "a bb ccc   dddd") == 4
    # token estimate: ceil(len/4) per word → 1+1+1+1
    assert _one(spark, token_count, "a bb ccc dddd") == 4
    assert _one(spark, token_count, "supercalifragilistic") == 5


def test_citations(spark):
    assert _one(spark, has_citations, "as shown (Smith et al., 2020) here")
    assert _one(spark, has_citations, "see refs [1-3] and [7]")
    assert _one(spark, has_citations, "see Figure 5 for details")
    assert not _one(spark, has_citations, "no citations in this text at all")


def test_lang_id(spark):
    assert _one(spark, lang_id, "the cat and the dog of the house is big") == "en"
    assert _one(spark, lang_id, "el perro y la casa de los gatos") == "es"
    assert _one(spark, lang_id, "der hund und die katze ist das haus") == "de"
    assert _one(spark, lang_id, "中文文本在这里") == "zh"


def test_quality_monotone(spark):
    good = "the quick brown fox jumps over a lazy dog and then runs to the hills " * 3
    junk = "@@## !! ?? ;; :: %% ^^ && ** (( ))"
    df = spark.createDataFrame([(good,), (junk,)], "v string")
    rows = df.select(quality_score(F.col("v")).alias("q")).collect()
    assert rows[0]["q"] > rows[1]["q"]


def test_shingles(spark):
    r = spark.createDataFrame([("a b c d",)], "v string").select(
        word_shingles(F.col("v"), 3).alias("w"),
        char_shingles(F.col("v"), 4).alias("c"),
    ).collect()[0]
    assert r["w"] == ["a b c", "b c d"]
    assert r["c"][0] == "#a#b" and r["c"][-1] == "c#d#"


def test_vector_ops(spark):
    df = spark.createDataFrame([([1.0, 2.0, 2.0], [2.0, 1.0, 2.0])],
                               "a array<double>, b array<double>")
    r = df.select(dot(F.col("a"), F.col("b")).alias("d"),
                  norm(F.col("a")).alias("n"),
                  F.round(cosine(F.col("a"), F.col("b")), 6).alias("c")).collect()[0]
    assert r["d"] == 8.0 and r["n"] == 3.0
    assert abs(r["c"] - round(8.0 / 9.0, 6)) < 1e-9


def test_redact_pii_planted(spark):
    from knowledge_extraction_pipeline_spark.operators.text_analysis import (
        redact_pii,
    )
    rows = [
        (1, "contact alice.smith+x@example.co.uk or call +1 (555) 123-4567"),
        (2, "ssn 123-45-6789 from host 192.168.0.1 twice: 10.0.0.255"),
        (3, "no pii here at all, just words"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in redact_pii(d).collect()}
    assert got[1]["n_email"] == 1 and got[1]["n_phone"] == 1
    assert "[EMAIL]" in got[1]["text_redacted"]
    assert "[PHONE]" in got[1]["text_redacted"]
    assert "alice" not in got[1]["text_redacted"]
    assert got[2]["n_ssn"] == 1 and got[2]["n_ipv4"] == 2
    assert "[SSN]" in got[2]["text_redacted"]
    assert got[2]["text_redacted"].count("[IPV4]") == 2
    assert got[3]["text_redacted"] == rows[2][1]
    assert got[3]["n_email"] == got[3]["n_phone"] == 0


def test_repetition_stats_planted(spark):
    from knowledge_extraction_pipeline_spark.operators.text_analysis import (
        repetition_stats,
    )
    rows = [
        (1, "spam spam spam spam"),                      # fully degenerate
        (2, "all words here are completely different"),  # no repetition
        (3, ""),                                         # empty edge case
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_stats(d).collect()}
    assert got[1]["n_words"] == 4
    assert got[1]["distinct_word_ratio"] == 0.25
    assert got[1]["top_word_frac"] == 1.0
    assert got[1]["top_bigram_frac"] == 1.0
    assert got[2]["distinct_word_ratio"] == 1.0
    assert got[2]["top_word_frac"] == round(1 / 6, 6)
    assert got[3]["n_words"] == 0 and got[3]["top_word_frac"] == 0.0


def test_repetition_stats_long_degenerate_doc(spark):
    """The operator exists to catch long degenerate documents, so it must be
    LINEAR on them: 200k words, half distinct (100k unique + 100k of one
    repeated token) would be ~2·10¹⁰ comparisons under the old O(u·n)
    per-row expression; the explode+groupBy rewrite finishes in seconds."""
    import time

    from knowledge_extraction_pipeline_spark.operators.text_analysis import (
        repetition_stats,
    )
    n_uniq = 100_000
    text = " ".join(f"w{i}" for i in range(n_uniq)) + " spam" * n_uniq
    d = spark.createDataFrame([(1, text)], "doc_id long, text string")
    t0 = time.time()
    r = repetition_stats(d).collect()[0]
    wall = time.time() - t0
    n = 2 * n_uniq
    assert r["n_words"] == n
    # 100k distinct singletons + 'spam' (100k + 1 occurrences... 'spam' is
    # one more distinct word): uniq = n_uniq + 1
    assert r["distinct_word_ratio"] == round((n_uniq + 1) / n, 6)
    assert r["top_word_frac"] == round(n_uniq / n, 6)
    # 'spam spam' appears n_uniq - 1 times among n - 1 bigrams
    assert r["top_bigram_frac"] == round((n_uniq - 1) / (n - 1), 6)
    assert wall < 120, f"degenerate doc took {wall:.0f}s — not linear"


def test_sample_and_split_decorrelated(spark):
    """A default 20% sample must span train/val/test, not hide inside the
    train buckets (ADVICE r3: shared hash + seed made sample∘split produce
    zero val/test rows)."""
    from knowledge_extraction_pipeline_spark.operators.text_analysis import (
        deterministic_sample,
        hash_split,
    )
    d = spark.range(10_000).withColumnRenamed("id", "doc_id")
    sampled = hash_split(deterministic_sample(d, 0.2))
    counts = {r["split"]: r["count"]
              for r in sampled.groupBy("split").count().collect()}
    assert set(counts) == {"train", "val", "test"}, counts
    # val+test ≈ 10% of the sample, not zero
    assert counts["val"] + counts["test"] > 50


def test_deterministic_sample_and_split(spark):
    from knowledge_extraction_pipeline_spark.operators.text_analysis import (
        deterministic_sample,
        hash_split,
    )
    d = spark.range(10_000).withColumnRenamed("id", "doc_id")
    frac = deterministic_sample(d, 0.2)
    n = frac.count()
    assert 1600 < n < 2400                       # ~20%, hash-uniform
    # stable: same rows on re-evaluation and under repartitioning
    ids1 = {r["doc_id"] for r in frac.collect()}
    ids2 = {r["doc_id"] for r in
            deterministic_sample(d.repartition(7), 0.2).collect()}
    assert ids1 == ids2
    # growth-stable: a kept key stays kept when the corpus grows
    ids_small = {r["doc_id"] for r in
                 deterministic_sample(d.limit(5000), 0.2).collect()}
    assert ids_small == {i for i in ids1 if i < 5000}

    s = hash_split(d)
    counts = {r["split"]: r["count"] for r in s.groupBy("split").count().collect()}
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > 8500 and counts["val"] > 300 and counts["test"] > 300
    # partition of the corpus: every row exactly one split
    assert sum(counts.values()) == 10_000
    import pytest as _pytest
    with _pytest.raises(ValueError):
        hash_split(d, weights={"a": 0.5, "b": 0.4})


def test_collocations_planted(spark):
    """'new york' appears 3×; unigram counts and the integer lift are exact:
    lift_e6 = (c_ab·N·10^6) div (c_a·c_b)."""
    from knowledge_extraction_pipeline_spark.operators.text_analysis import (
        collocations,
    )
    docs = spark.createDataFrame(
        [(0, "new york is big"), (1, "i love new york"), (2, "new york wins")],
        "doc_id long, text string")
    rows = {r["bigram"]: r for r in collocations(docs, top_n=5).collect()}
    ny = rows["new york"]
    n_tokens = 4 + 4 + 3
    assert (ny["c_ab"], ny["c_a"], ny["c_b"]) == (3, 3, 3)
    assert ny["lift_e6"] == (3 * n_tokens * 1_000_000) // (3 * 3)
    # top-ordering is by c_ab desc then bigram asc
    top = collocations(docs, top_n=5).collect()
    assert top[0]["bigram"] == "new york"


def test_collocations_degenerate_docs(spark):
    """Empty and single-word docs contribute no bigrams (the slice-length
    guard) but their tokens still count toward N and unigram counts."""
    from knowledge_extraction_pipeline_spark.operators.text_analysis import (
        collocations,
    )
    docs = spark.createDataFrame(
        [(0, ""), (1, "solo"), (2, "  "), (3, "pair here")],
        "doc_id long, text string")
    rows = collocations(docs, top_n=10).collect()
    assert [r["bigram"] for r in rows] == ["pair here"]
    r = rows[0]
    # N = solo + pair + here = 3 tokens; c_ab=1, c_a=c_b=1
    assert (r["c_ab"], r["c_a"], r["c_b"]) == (1, 1, 1)
    assert r["lift_e6"] == 3 * 1_000_000


def test_zorder_key_interleaves_and_clusters(spark):
    from pyspark.sql import functions as F

    import pytest

    from knowledge_extraction_pipeline_spark.functions.layout import (
        zorder_key,
    )
    df = spark.createDataFrame(
        [(0b101, 0b011), (3, 3), (0, 0), (2**40 + 1, 0)], "x long, y long")
    got = [r["z"] for r in df.select(
        zorder_key(F.col("x"), F.col("y"), bits=16).alias("z")).collect()]
    # x=101, y=011 -> bits (y2 x2 y1 x1 y0 x0) = 0 1 1 0 1 1 = 0b011011
    assert got[0] == 0b011011
    assert got[1] == 0b1111
    assert got[2] == 0
    # values beyond `bits` are masked, not corrupting: 2^40+1 acts as 1
    assert got[3] == 0b01
    with pytest.raises(ValueError):
        zorder_key(F.col("x"), F.col("y"), bits=0)
    # locality: nearby (x,y) pairs land nearer in z than far ones
    z = lambda x, y: ((x & 1) | ((y & 1) << 1) | (((x >> 1) & 1) << 2)
                      | (((y >> 1) & 1) << 3))
    assert abs(z(2, 2) - z(3, 3)) < abs(z(0, 0) - z(3, 3))


def test_write_zordered_tightens_file_stats(spark, tmp_path):
    """Z-ordered layout: per-file (x-range x y-range) bounding boxes must
    cover far less area than a random layout's — that area is exactly what
    min/max-stat pruning pays for on 2-D predicates."""
    import pyarrow.parquet as papq
    from pyspark.sql import functions as F

    from knowledge_extraction_pipeline_spark.functions.layout import (
        write_zordered,
    )
    n = 20_000
    df = (spark.range(n)
          .select((F.xxhash64("id") % 1024).alias("x"),
                  (F.xxhash64(F.col("id") + 7) % 1024).alias("y"))
          .filter((F.col("x") >= 0) & (F.col("y") >= 0)))
    plain, zord = str(tmp_path / "plain"), str(tmp_path / "zord")
    df.repartition(8).write.parquet(plain)
    write_zordered(df, zord, "x", "y", bits=10, n_files=8)

    def area(path):
        import glob
        import os
        tot = 0
        for f in glob.glob(os.path.join(path, "*.parquet")):
            md = papq.read_metadata(f)
            xs, ys = [], []
            for rg in range(md.num_row_groups):
                row = md.row_group(rg)
                for ci in range(row.num_columns):
                    col = row.column(ci)
                    st = col.statistics
                    if st is None:
                        continue
                    name = col.path_in_schema
                    if name == "x":
                        xs += [st.min, st.max]
                    elif name == "y":
                        ys += [st.min, st.max]
            if xs and ys:
                tot += (max(xs) - min(xs) + 1) * (max(ys) - min(ys) + 1)
        return tot
    a_plain, a_zord = area(plain), area(zord)
    # random layout: every file spans ~the full 1024x1024 square;
    # z-ordered: each file owns a Z-curve segment -> far smaller boxes
    assert a_zord < a_plain / 2, (a_plain, a_zord)
