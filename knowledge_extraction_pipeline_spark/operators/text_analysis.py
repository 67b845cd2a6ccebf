"""Text-analysis operators over a document corpus: language ID, quality
scoring, token counting, fingerprinting. All JVM-side Column expressions
(functions/text.py) — a single map-side scan at any corpus size."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import (
    fingerprint,
    lang_id,
    quality_score,
    token_count,
    word_count,
)


def _rank_hash(key_col, seed: int, tag: str):
    """The portable md5 rank key f"{tag}:{seed}:{key}" (hex string — ASCII
    ordering agrees between Spark and DuckDB). The tag decorrelates each
    operator's ordering; every oracle mirrors the exact concat format, so
    this ONE construction must stay the single source of it."""
    return F.md5(F.concat_ws(":", F.lit(tag), F.lit(str(seed)),
                             key_col.cast("string")))


def _corpus_words(text_col) -> "F.Column":
    """The corpus word-tokenization rule (lowercase, whitespace split, empty
    tokens dropped), shared by repetition/contamination/TextRank/collocation
    so the vocabularies — and their DuckDB oracles' list_filter/
    string_split_regex mirror — can never drift apart."""
    return F.filter(F.split(F.lower(F.trim(text_col)), r"\s+"),
                    lambda w: w != "")


def annotate(docs: DataFrame, text_col: str = "text") -> DataFrame:
    c = F.col(text_col)
    return docs.select(
        "*",
        lang_id(c).alias("lang_pred"),
        quality_score(c).alias("quality"),
        word_count(c).alias("n_words"),
        token_count(c).alias("n_tokens"),
        fingerprint(c).alias("fp64"),
    )


def _hash_bucket(key_col, seed: int, tag: str, buckets: int = 10_000):
    """Engine-portable deterministic bucket in [0, buckets): first 8 md5
    bytes of f"{tag}:{seed}:{key}" mod buckets — the same uint64 DuckDB
    computes with CAST(concat('0x', substr(md5(...),1,16)) AS UBIGINT).
    The per-operator `tag` decorrelates the bucket spaces: without it a
    default 20% sample kept exactly buckets 0-1999 — entirely inside the
    train split's 0-8999 — so sample∘split silently had zero val/test
    rows."""
    h = F.conv(F.substring(F.md5(F.concat_ws(
        ":", F.lit(tag), F.lit(str(seed)), key_col.cast("string"))),
        1, 16), 16, 10).cast("decimal(20,0)")
    return (h % buckets).cast("int")


def deterministic_sample(docs: DataFrame, fraction: float,
                         key_col: str = "doc_id",
                         seed: int = 42) -> DataFrame:
    """Reproducible corpus sampling for web-scale data prep: keep a row iff
    its key's hash bucket falls below fraction·10⁴. No RNG state, no
    shuffle, stable under re-runs / retries / repartitioning — the property
    `rand()`-based sampling loses the moment a task retries — and stable
    under corpus growth (a kept key stays kept)."""
    return docs.filter(
        _hash_bucket(F.col(key_col), seed, "sample")
        < int(round(fraction * 10_000)))


def hash_split(docs: DataFrame, weights: dict[str, float] | None = None,
               key_col: str = "doc_id", seed: int = 42) -> DataFrame:
    """Deterministic train/val/test assignment: the key's hash bucket is cut
    at the cumulative weight boundaries. Every engine that can md5 agrees on
    the split, so downstream stages (and the oracle) never disagree about
    which rows are train."""
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    if abs(sum(weights.values()) - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {weights}")
    b = _hash_bucket(F.col(key_col), seed, "split")
    expr, acc = None, 0.0
    for name, wt in weights.items():
        acc += wt
        cond = b < int(round(acc * 10_000))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    # float-accumulation guard: the last boundary is exactly 10_000
    return docs.withColumn("split", expr.otherwise(list(weights)[-1]))


# PII patterns — deliberately RE2-safe (no lookaround/backrefs) so the exact
# same pattern strings run in Spark's Java regex AND the DuckDB oracle's RE2.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"\+?\d{1,2}[-. ]?\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
]


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Training-data hygiene: replace emails / phone numbers / SSN-shaped ids
    / IPv4 addresses with typed tags ([EMAIL], [PHONE], ...), plus per-kind
    match counts. Pure regexp expressions — one codegen'd map-side scan, no
    shuffle, no Python."""
    out = docs
    red = F.col(text_col)
    for kind, pat in PII_PATTERNS:
        out = out.withColumn(
            f"n_{kind}", F.size(F.regexp_extract_all(red, F.lit(pat), F.lit(0)))
            .cast("long"))
        red = F.regexp_replace(red, pat, f"[{kind.upper()}]")
    return out.withColumn("text_redacted", red)


def repetition_stats(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Gopher/C4-style repetition quality signals: distinct-word ratio,
    most-common-word fraction and most-common-bigram fraction (high values ⇒
    degenerate/boilerplate text a training-data pipeline should down-weight
    or drop).

    Counting strategy: explode tokens → groupBy(doc, token).count() →
    per-doc max — LINEAR in document length. (The previous pure-expression
    form computed `transform(uniq, u -> size(filter(words, w == u)))`,
    O(|uniq|·|words|) inside one row: ~10¹⁰ comparisons in a single task for
    a 100k-word high-entropy document, and long degenerate documents are
    exactly what this filter exists to catch.) The (doc, token) grouping key
    keeps partial aggregation effective — a degenerate doc repeating one
    word collapses map-side, so shuffle volume is per-doc vocabulary, not
    token count — and cannot be skewed across docs since doc_id is in the
    key. explode_outer keeps empty documents (null token row) so every input
    row appears in the output with zero stats."""
    words = _corpus_words(F.col(text_col))
    n = F.size(words)
    bigrams = F.zip_with(F.slice(words, 1, F.greatest(n - 1, F.lit(0))),
                         F.slice(words, 2, F.greatest(n - 1, F.lit(0))),
                         lambda a, b: F.concat_ws(" ", a, b))
    base = docs.select(F.col(id_col).alias("_id"), words.alias("_words"),
                       bigrams.alias("_bigrams"))

    def _stats(col: str, tok: str):
        return (
            base.select("_id", F.explode_outer(col).alias(tok))
            .groupBy("_id", tok).agg(F.count(F.lit(1)).alias("_c"))
            .groupBy("_id")
            .agg(
                F.sum(F.when(F.col(tok).isNotNull(), F.col("_c"))
                      .otherwise(F.lit(0))).cast("long").alias(f"_n{tok}"),
                F.count(F.col(tok)).cast("long").alias(f"_u{tok}"),
                F.max(F.when(F.col(tok).isNotNull(), F.col("_c")))
                .alias(f"_top{tok}"),
            ))

    w, b = _stats("_words", "_w"), _stats("_bigrams", "_b")
    # both sides are aggregates on _id — co-partitioned, no extra shuffle
    joined = w.join(b, "_id")
    nw = F.greatest(F.col("_n_w"), F.lit(1)).cast("double")
    return joined.select(
        F.col("_id").alias(id_col),
        F.col("_n_w").alias("n_words"),
        F.round(F.col("_u_w") / nw, 6).alias("distinct_word_ratio"),
        F.round(F.coalesce(F.col("_top_w"), F.lit(0)) / nw, 6)
        .alias("top_word_frac"),
        F.round(F.coalesce(F.col("_top_b"), F.lit(0))
                / F.greatest(F.col("_n_b"), F.lit(1)).cast("double"), 6)
        .alias("top_bigram_frac"),
    )


def contamination_check(train: DataFrame, eval_docs: DataFrame, n: int = 4,
                        max_train_df: int | None = None,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Benchmark-contamination detection: which training documents contain
    word n-grams from an evaluation set, and how much of each eval document
    they cover. The standard pre-training hygiene step (GPT-3 appendix C /
    PaLM-style 13-gram overlap — n is a parameter; the tiny synthetic corpus
    uses a smaller n so overlaps exist at test scale).

    Output: (train_id, eval_id, n_overlap, eval_ngrams, contamination_frac)
    where n_overlap counts DISTINCT shared n-grams and contamination_frac =
    n_overlap / |distinct n-grams of the eval doc|.

    Scale shape: each side explodes to narrow (doc, hash16) rows — the
    n-gram string itself never shuffles, only its 64-bit md5 prefix — and
    the join is a plain equi-join on that hash, AQE/broadcast eligible since
    the eval side is tiny by definition. `max_train_df` drops n-grams that
    occur in more than that many training docs (ubiquitous boilerplate
    phrases — the flood guard that keeps a stop-phrase from producing
    |train|×|eval| join rows). Hash collisions are bit-identical in Spark
    and the DuckDB oracle, so the comparison stays exact."""
    def grams(df: DataFrame, out_id: str) -> DataFrame:
        words = _corpus_words(F.col(text_col))
        cnt = F.size(words)
        idx = F.sequence(F.lit(0), F.greatest(cnt - n, F.lit(0)))
        ngr = F.when(cnt >= n, F.transform(
            idx, lambda i: F.concat_ws(
                " ", *[F.element_at(words, (i + j + 1).cast("int"))
                       for j in range(n)]))
        ).otherwise(F.array().cast("array<string>"))
        return (df.select(F.col(id_col).alias(out_id),
                          F.explode(F.array_distinct(ngr)).alias("_ng"))
                  .select(out_id, F.substring(F.md5("_ng"), 1, 16).alias("_h")))

    tr = grams(train, "train_id")
    ev = grams(eval_docs, "eval_id")
    # rows are already distinct per (doc, hash) thanks to array_distinct
    ev_tot = ev.groupBy("eval_id").agg(F.count(F.lit(1)).alias("eval_ngrams"))
    if max_train_df is not None:
        keep = (tr.groupBy("_h")
                  .agg(F.count(F.lit(1)).alias("_df"))
                  .filter(F.col("_df") <= max_train_df).select("_h"))
        tr = tr.join(keep, "_h")
    hits = (tr.join(ev, "_h")
              .groupBy("train_id", "eval_id")
              .agg(F.count(F.lit(1)).alias("n_overlap")))
    return hits.join(ev_tot, "eval_id").select(
        "train_id", "eval_id",
        F.col("n_overlap").cast("long").alias("n_overlap"),
        F.col("eval_ngrams").cast("long").alias("eval_ngrams"),
        F.round(F.col("n_overlap") / F.col("eval_ngrams").cast("double"), 6)
        .alias("contamination_frac"))


def domain_budget_sample(docs: DataFrame, budget_tokens: int,
                         group_col: str = "source", id_col: str = "doc_id",
                         text_col: str = "text", seed: int = 42) -> DataFrame:
    """Per-domain token-budget sampling: keep a deterministic, hash-ranked
    prefix of each domain's documents whose cumulative token count fits the
    budget — the data-mixing step that caps any one source's contribution to
    a training corpus. Keep/drop is stable under re-runs and corpus growth
    for rows that stay inside the budget.

    Scale shape: a naive `sum() OVER (PARTITION BY source ORDER BY hash)`
    serializes each domain into one task — and domains are few and huge at
    100 TB. Here the running sum is two-phase: rows are pre-bucketed by the
    FIRST HEX CHAR of their rank hash (a prefix of the sort key, so buckets
    are contiguous rank ranges), within-bucket cumsums run 16-way parallel
    per domain, and a 16-row-per-domain bucket-total prefix is added back —
    the same stitch as the bucketed as-of join (operators/asof.py)."""
    h = _rank_hash(F.col(id_col), seed, "budget")
    base = docs.select(
        F.col(group_col).alias("_grp"), F.col(id_col).alias("_id"),
        h.alias("_h"), token_count(F.col(text_col)).cast("long")
        .alias("n_tokens"))
    base = base.withColumn("_b", F.substring("_h", 1, 1))
    wsub = Window.partitionBy("_grp", "_b").orderBy("_h", "_id")
    sub = base.withColumn("_cum_in", F.sum("n_tokens").over(wsub))
    btot = (sub.groupBy("_grp", "_b")
               .agg(F.sum("n_tokens").alias("_tot")))
    wpre = (Window.partitionBy("_grp").orderBy("_b")
            .rowsBetween(Window.unboundedPreceding, -1))
    prefix = btot.withColumn(
        "_prev", F.coalesce(F.sum("_tot").over(wpre), F.lit(0)))
    return (sub.join(prefix.select("_grp", "_b", "_prev"), ["_grp", "_b"])
               .withColumn("cum_tokens",
                           (F.col("_prev") + F.col("_cum_in")).cast("long"))
               .filter(F.col("cum_tokens") <= budget_tokens)
               .select(F.col("_id").alias(id_col),
                       F.col("_grp").alias(group_col),
                       "n_tokens", "cum_tokens"))


def stratified_sample(docs: DataFrame, n_per_stratum: int,
                      stratum_col: str = "source", key_col: str = "doc_id",
                      seed: int = 42) -> DataFrame:
    """Exact-quota stratified sampling: the first n documents of each
    stratum under a deterministic hash ranking — the balanced-evaluation-set
    builder (fraction-based sampling can't guarantee per-class counts).
    Reproducible across engines/retries; a stratum smaller than the quota
    contributes all its rows.

    Scale: one rank window per stratum. Quota selection only ever KEEPS
    n_per_stratum rows, so if a stratum is huge, pre-filter with
    deterministic_sample to a few× the quota first (documented contract);
    the window then ranks a bounded candidate set."""
    h = _rank_hash(F.col(key_col), seed, "strat")
    w = Window.partitionBy(stratum_col).orderBy(h.asc(),
                                                F.col(key_col).asc())
    return (docs.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= n_per_stratum)
                .drop("_rn"))


def corpus_stats(docs: DataFrame, text_col: str = "text",
                 group_col: str = "source") -> DataFrame:
    """Per-source corpus statistics (reference analog: chunk stats,
    core/semantic_chunker.py:642-659)."""
    c = F.col(text_col)
    return (
        docs
        .select(F.col(group_col).alias("grp"),
                word_count(c).alias("w"), token_count(c).alias("t"),
                F.length(c).alias("n"))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("w").cast("long").alias("total_words"),
            F.sum("t").cast("long").alias("total_tokens"),
            F.round(F.avg("w"), 4).alias("avg_words"),
            F.min("n").cast("long").alias("min_chars"),
            F.max("n").cast("long").alias("max_chars"),
        )
    )


def textrank_keywords(docs: DataFrame, top_n: int = 30, min_cooc: int = 2,
                      max_iter: int = 10,
                      text_col: str = "text") -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau, EMNLP'04): rank words
    by PageRank over the adjacency graph of the corpus — the graph-centrality
    counterpart to the lexicon-driven concept extraction (reference analog:
    core/concept_extractor term mining).

    Graph: adjacent lowercase word pairs (window 2), undirected, self-loops
    dropped, kept when the pair co-occurs >= min_cooc times. Ranking is the
    repo's fixed-point integer PageRank (graph_algos.pagerank_scaled) so the
    result is bit-identical across engines and shuffle orders.

    Scale shape: pairs are built with one zip_with over the word array (no
    positional self-join), pair counting is a map-side-combinable groupBy on
    the pair key, and the graph itself is vocabulary-sized (Heaps-law
    sublinear in corpus size) — PageRank runs on the small projected graph,
    never on the token stream."""
    from .graph_algos import pagerank_scaled

    words = _corpus_words(F.col(text_col))
    n = F.size(words)
    pairs = F.zip_with(
        F.slice(words, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(words, 2, F.greatest(n - 1, F.lit(0))),
        lambda x, y: F.struct(F.least(x, y).alias("a"),
                              F.greatest(x, y).alias("b")))
    pc = (docs.select(F.explode(pairs).alias("p"))
              .filter(F.col("p.a") != F.col("p.b"))
              .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
              .agg(F.count(F.lit(1)).alias("c"))
              .filter(F.col("c") >= min_cooc))
    edges = (pc.select(F.col("a").alias("subj"), F.col("b").alias("obj"))
               .unionAll(pc.select(F.col("b").alias("subj"),
                                   F.col("a").alias("obj"))))
    ranks = pagerank_scaled(edges, max_iter=max_iter)
    return (ranks.orderBy(F.desc("rank_scaled"), F.asc("node"))
                 .limit(top_n)
                 .select(F.col("node").alias("keyword"), "rank_scaled"))


def collocations(docs: DataFrame, top_n: int = 30, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Corpus bigram collocations ranked by frequency with an association
    LIFT score — the KG-construction term-mining step (which adjacent word
    pairs co-occur more than chance predicts; Manning & Schütze ch. 5).

    lift(a,b) = P(ab) / (P(a)·P(b)) = c_ab·N / (c_a·c_b) with N = total
    token count. PMI is ln(lift) — monotone in it — but ln() last-ulp parity
    across engines is not guaranteed, so the score is emitted as the exact
    integer fixed-point lift_e6 = (c_ab·N·10^6) div (c_a·c_b): pure integer
    arithmetic, bit-identical in any engine (the repo-wide discipline).

    Scale shape: bigrams are built per-row with zip_with over two array
    slices (no positional self-join), counts are map-side-combinable
    aggregates, the unigram join is onto the bigram-count table (already
    aggregated, not the raw token stream), and top-n is TakeOrdered.
    Overflow: c_ab·N·10^6 <= N²·10^6 — safe in a long to N ≈ 3·10^6 tokens
    per job; beyond that scale the score to e3."""
    words = _corpus_words(F.col(text_col))
    base = docs.select(F.col(id_col).alias("id"), words.alias("_w"))
    uni = (base.select(F.explode("_w").alias("tok"))
           .groupBy("tok").agg(F.count(F.lit(1)).alias("c")))
    n_tokens = uni.agg(F.sum("c").alias("n"))
    big = base.select(F.explode(
        F.zip_with(F.slice(F.col("_w"), 1, F.greatest(F.size("_w") - 1, F.lit(0))),
                   F.slice(F.col("_w"), 2, F.greatest(F.size("_w") - 1, F.lit(0))),
                   lambda a, b: F.concat_ws(" ", a, b))).alias("bigram"))
    bc = big.groupBy("bigram").agg(F.count(F.lit(1)).alias("c_ab"))
    parts = bc.withColumn("_a", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1))) \
              .withColumn("_b", F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)))
    scored = (
        parts
        .join(uni.select(F.col("tok").alias("_a"), F.col("c").alias("c_a")), "_a")
        .join(uni.select(F.col("tok").alias("_b"), F.col("c").alias("c_b")), "_b")
        .crossJoin(F.broadcast(n_tokens))
        .select(
            "bigram",
            F.col("c_ab").cast("long").alias("c_ab"),
            F.col("c_a").cast("long").alias("c_a"),
            F.col("c_b").cast("long").alias("c_b"),
            F.expr("(c_ab * n * 1000000L) div (c_a * c_b)").alias("lift_e6"))
    )
    return scored.orderBy(F.desc("c_ab"), F.asc("bigram")).limit(top_n)


def repeated_ngrams(docs: DataFrame, n: int = 5, min_docs: int = 2,
                    top_n: int = 50, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Cross-document repeated n-gram spans — the substring-level near-dup
    signal (Lee et al. 2022 "Deduplicating Training Data Makes Language
    Models Better": repeated 50-grams mark template/boilerplate text that
    survives document-level dedup). Output: every word n-gram appearing in
    >= min_docs distinct documents, with its total occurrence count
    (overlapping occurrences all count) and document frequency, top-n by
    occurrence count.

    Scale shape: n-grams are built per-row with one transform over the word
    array (no positional self-join) and counted with a map-side-combinable
    groupBy — the classic wordcount plan, linear in token count. The
    distinct-doc count is a two-level aggregate on (ngram, doc) so a
    boilerplate n-gram occurring 10^9 times collapses map-side before the
    ngram-key shuffle. Top-n is TakeOrdered with a total-order tiebreak
    (ngram strings are unique), so the LIMIT boundary is deterministic."""
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    words = _corpus_words(F.col(text_col))
    cnt = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(cnt - n, F.lit(0)))
    ngr = F.when(cnt >= n, F.transform(
        idx, lambda i: F.concat_ws(
            " ", *[F.element_at(words, (i + j + 1).cast("int"))
                   for j in range(n)]))
    ).otherwise(F.array().cast("array<string>"))
    ex = docs.select(F.col(id_col).alias("_id"), F.explode(ngr).alias("ngram"))
    per_doc = (ex.groupBy("ngram", "_id")
                 .agg(F.count(F.lit(1)).alias("_c")))
    out = (per_doc.groupBy("ngram")
           .agg(F.sum("_c").cast("long").alias("n_occ"),
                F.count(F.lit(1)).cast("long").alias("n_docs"))
           .filter(F.col("n_docs") >= min_docs))
    return out.orderBy(F.desc("n_occ"), F.desc("n_docs"),
                       F.asc("ngram")).limit(top_n)


def temperature_weights(docs: DataFrame, budget_docs: int,
                        group_col: str = "source") -> DataFrame:
    """Temperature-based domain rebalancing: sampling probabilities
    p_i ∝ n_i^alpha with alpha = 0.5 — the multilingual/domain mixing rule
    (mBERT / XLM-R exponential smoothing) that upweights small domains
    relative to proportional sampling. alpha is fixed at 1/2 because
    sqrt() is correctly rounded under IEEE-754 in every engine, so the
    weights are bit-portable where pow(x, 0.7) would not be.

    Fixed-point discipline: each domain weight is the long
    w_e6 = round(sqrt(n_i)·10^6); the normalizer is the integer sum of
    those longs (order-free); p_e6 and the per-domain planned document
    count come from integer division. Output: (source, n_docs, w_e6,
    p_e6, planned_docs). planned_docs = (p_e6·budget) div 10^6, so the
    total planned is <= budget (floor rounding; the remainder is the
    caller's to distribute).

    Scale shape: one count per domain (map-side combinable), a one-row
    broadcast of the normalizer — nothing here grows with corpus size
    except the single count scan."""
    counts = (docs.groupBy(F.col(group_col).alias("grp"))
                  .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))
    w = counts.withColumn(
        "w_e6", F.round(F.sqrt(F.col("n_docs").cast("double")) * 1e6, 0)
        .cast("long"))
    tot = w.agg(F.sum("w_e6").alias("_tot"))
    return (w.crossJoin(F.broadcast(tot))
             .select(F.col("grp").alias(group_col), "n_docs", "w_e6",
                     F.expr("(w_e6 * 1000000L) div _tot").alias("p_e6"),
                     F.expr(f"((w_e6 * 1000000L) div _tot) * "
                            f"{int(budget_docs)}L div 1000000L")
                     .alias("planned_docs")))


def interleave_manifest(docs: DataFrame, shard_size: int = 100,
                        id_col: str = "doc_id", group_col: str = "source",
                        seed: int = 42) -> DataFrame:
    """Epoch-balanced training-order manifest: interleave every source's
    documents into ONE deterministic global order such that each source is
    spread uniformly across the epoch (all sources "finish together" —
    single-epoch proportional mixing without replacement, the order a
    multi-domain trainer actually reads).

    Weighted-fair-queuing discipline, all integer: within each source,
    documents are ranked by the portable md5 key (shuffled deterministically,
    decorrelated from the split/sample keys by the 'mix' tag); document r of
    a source with n docs gets virtual time vt = (r-1)·10¹² div n ∈ [0, 10¹²)
    — the (r-1)·10¹² product runs in DECIMAL(38,0)/HUGEINT so ranks beyond
    9.2M don't overflow a long. The global order is (vt, source, rank);
    global_ix numbers it and shard assigns fixed-size output shards.

    Scale shape: one window per source partition for the rank, a broadcast
    of per-source counts, then ONE global sort (Spark range-partitions
    global sorts, so no single-reducer bottleneck) — the same cost as
    writing the ordered manifest at all.
    """
    if shard_size <= 0:
        raise ValueError(f"shard_size must be positive, got {shard_size}")
    rank_w = Window.partitionBy(group_col).orderBy(
        _rank_hash(F.col(id_col), seed, "mix"), id_col)
    ranked = docs.select(F.col(id_col).alias("doc_id"),
                         F.col(group_col).alias("source")) \
                 .withColumn("src_rank",
                             F.row_number().over(rank_w).cast("long"))
    sizes = ranked.groupBy("source").agg(F.count(F.lit(1)).alias("_n"))
    vt = F.expr("CAST((CAST(src_rank - 1 AS DECIMAL(38,0)) * 1000000000000)"
                " div _n AS BIGINT)")
    ordered = (ranked.join(F.broadcast(sizes), "source")
               .withColumn("vt_scaled", vt).drop("_n"))
    gix = F.row_number().over(
        Window.orderBy("vt_scaled", "source", "src_rank")).cast("long")
    return (ordered.withColumn("global_ix", gix)
            .withColumn("shard",
                        F.expr(f"(global_ix - 1) div {int(shard_size)}L"))
            .select("doc_id", "source", "src_rank", "vt_scaled",
                    "global_ix", "shard"))
