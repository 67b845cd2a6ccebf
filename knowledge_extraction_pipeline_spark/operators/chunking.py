"""Sequence/windowing operators over per-conversation text — the Spark
mapping of the reference's semantic chunker (core/semantic_chunker.py).

In this engine the natural chunk is the TURN (stable conv_id/turn_idx
ordering); these operators exist for parity with the reference's sub-turn
segmentation and chunk-merge behavior, each implemented per SURVEY §2.5:

  sentence segmentation  :196-224  → vectorized regex inside a pandas UDF
                                     (Java regex lacks some lookbehinds)
  paragraph segmentation :230-256  → same
  section extraction     :258-288  → same (header regexes)
  word count             :294-296  → size(split(...)) expression
  topic-boundary detect  :314-351  → deterministic hash embedding + shifted
                                     cosine inside applyInPandas per conv
  semantic splitting     :386-454  → stateful scan in the same grouped pass
  small-chunk merge      :460-510  → same grouped pass
  coherence score        :617-620  → lag window + cosine
  prev/next linking      :631-632  → lag/lead window (operators/extract.py
                                     window_turns)
  context-window expand  (scripts/search.py:113-158) → collect_list over
                                     rowsBetween(-n, n)

The "embedding" used for topic boundaries is a deterministic hashed
bag-of-words vector (north rule: no model downloads / per-row Python at
scale); cosine thresholds keep the reference's semantics shape.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Sentence-boundary regex: split after . ! ? not preceded by common
# abbreviations (the high-signal subset of the reference's 20-lookbehind
# battery, semantic_chunker.py:207).
_SENT_RE = re.compile(
    r"(?<![A-Z]\.)(?<!\bDr\.)(?<!\bMr\.)(?<!\bMs\.)(?<!\bal\.)"
    r"(?<!\be\.g\.)(?<!\bi\.e\.)(?<=[.!?])\s+")
_PARA_RE = re.compile(r"\n\s*\n")
_HEADER_RE = re.compile(
    r"^(#{1,6}\s+.+|\d+(\.\d+)*\s+[A-Z].+|[A-Z][A-Z\s]{4,})$", re.MULTILINE)

_EMB_DIM = 32


def _hash_embed(texts: list[str]) -> np.ndarray:
    """Deterministic hashed bag-of-words embeddings, L2-normalized.
    crc32, NOT builtin hash() — the builtin is salted per process
    (PYTHONHASHSEED) and would differ across executors."""
    from zlib import crc32

    out = np.zeros((len(texts), _EMB_DIM), dtype=np.float64)
    for i, t in enumerate(texts):
        for w in (t or "").lower().split():
            out[i, crc32(w.encode()) % _EMB_DIM] += 1.0
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return out / norms


@F.pandas_udf(T.ArrayType(T.StringType()))
def split_sentences_udf(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: [s for s in _SENT_RE.split(t or "") if s.strip()])


@F.pandas_udf(T.ArrayType(T.StringType()))
def split_paragraphs_udf(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: [p for p in _PARA_RE.split(t or "") if p.strip()])


@F.pandas_udf(T.ArrayType(T.StringType()))
def extract_headers_udf(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: [m.group(0) for m in _HEADER_RE.finditer(t or "")])


_TOPIC_PLANES = 8
_TOPIC_SEED = 42


def _topic_cluster(embs: np.ndarray) -> np.ndarray:
    """Deterministic topic label per embedding: sign-random-projection bucket
    (8 seeded hyperplanes → 256 possible topics). The reference labels chunks
    with DBSCAN cluster ids (semantic_chunker.py:353-380); a density scan is
    inherently global, so at scale we use the standard LSH relaxation — same
    bucket ⇔ same topic label — which is deterministic, embarrassingly
    parallel, and stable under corpus growth (a chunk's label never depends
    on other chunks)."""
    rng = np.random.default_rng(_TOPIC_SEED)
    planes = rng.standard_normal((_TOPIC_PLANES, embs.shape[1]))
    bits = (embs @ planes.T) >= 0
    return (bits * (1 << np.arange(_TOPIC_PLANES))).sum(axis=1).astype(np.int32)


CHUNK_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("chunk_index", T.IntegerType()),
    T.StructField("text", T.StringType()),
    T.StructField("first_turn_idx", T.IntegerType()),
    T.StructField("last_turn_idx", T.IntegerType()),
    T.StructField("n_words", T.IntegerType()),
    T.StructField("coherence", T.DoubleType()),
    T.StructField("topic_cluster", T.IntegerType()),
])


def semantic_chunks(
    transcripts: DataFrame,
    min_words: int = 30,
    max_words: int = 200,
    boundary_threshold: float = 0.35,
) -> DataFrame:
    """Group consecutive turns of a conversation into semantic chunks:
    accumulate turns; close a chunk when (a) max_words would be exceeded, or
    (b) min_words reached AND the topic shifts (cosine of adjacent turn
    embeddings < boundary_threshold). The reference's accumulate/split loop
    (semantic_chunker.py:386-454) over turns instead of sentences.

    applyInPandas per conversation — the group is one conversation, the scan
    inside is a bounded pandas loop; cross-conversation parallelism is the
    scale axis (north rule: windowed by conv_id, stable turn_idx order)."""

    def chunk_conv(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("turn_idx").reset_index(drop=True)
        embs = _hash_embed(pdf["text"].tolist())
        sims = (embs[:-1] * embs[1:]).sum(axis=1) if len(pdf) > 1 else np.array([])
        rows, cur, cur_words, first = [], [], 0, 0
        conv = pdf["conv_id"].iloc[0]

        def flush(last_i):
            nonlocal cur, cur_words, first
            if not cur:
                return
            text = " ".join(cur)
            rows.append((conv, len(rows), text,
                         int(pdf["turn_idx"].iloc[first]),
                         int(pdf["turn_idx"].iloc[last_i]),
                         len(text.split()), 0.0, 0))
            cur, cur_words = [], 0
            first = last_i + 1

        for i in range(len(pdf)):
            w = len((pdf["text"].iloc[i] or "").split())
            if cur and cur_words + w > max_words:
                flush(i - 1)
            cur.append(pdf["text"].iloc[i])
            cur_words += w
            boundary = i < len(pdf) - 1 and sims[i] < boundary_threshold
            if cur_words >= min_words and boundary:
                flush(i)
        flush(len(pdf) - 1)

        out = pd.DataFrame(rows, columns=[f.name for f in CHUNK_SCHEMA.fields])
        # coherence: cosine(chunk, previous chunk) (semantic_chunker.py:617-620)
        ce = _hash_embed(out["text"].tolist())
        if len(out) > 1:
            out.loc[1:, "coherence"] = (ce[:-1] * ce[1:]).sum(axis=1).round(6)
        out["topic_cluster"] = _topic_cluster(ce)
        return out

    return (
        transcripts.select("conv_id", "turn_idx", "text")
        .groupBy("conv_id")
        .applyInPandas(chunk_conv, schema=CHUNK_SCHEMA)
    )


def merge_small_chunks(chunks: DataFrame, min_words: int = 30,
                       max_words: int = 200,
                       sim_threshold: float = 0.5) -> DataFrame:
    """Second pass: merge adjacent small chunks when similar enough and the
    merge stays under max_words (semantic_chunker.py:460-510)."""

    def merge_conv(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("chunk_index").reset_index(drop=True)
        if len(pdf) < 2:
            return pdf
        embs = _hash_embed(pdf["text"].tolist())
        out = []
        for i in range(len(pdf)):
            row = pdf.iloc[i].to_dict()
            if (out and (out[-1]["n_words"] < min_words or row["n_words"] < min_words)
                    and out[-1]["n_words"] + row["n_words"] <= max_words):
                prev_emb = _hash_embed([out[-1]["text"]])[0]
                if float(np.dot(prev_emb, embs[i])) > sim_threshold:
                    out[-1]["text"] = out[-1]["text"] + " " + row["text"]
                    out[-1]["last_turn_idx"] = row["last_turn_idx"]
                    out[-1]["n_words"] = len(out[-1]["text"].split())
                    continue
            out.append(row)
        res = pd.DataFrame(out)
        res["chunk_index"] = range(len(res))
        # merged texts get fresh labels (a merge can move the embedding)
        res["topic_cluster"] = _topic_cluster(_hash_embed(res["text"].tolist()))
        return res[[f.name for f in CHUNK_SCHEMA.fields]]

    return chunks.groupBy("conv_id").applyInPandas(merge_conv, schema=CHUNK_SCHEMA)


def context_window(df: DataFrame, n: int = 1,
                   text_col: str = "text") -> DataFrame:
    """Attach ±n neighboring turns' text as context (scripts/search.py:113-158
    context expansion) — collect_list over rowsBetween(-n, n)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx").rowsBetween(-n, n)
    return df.withColumn("context", F.concat_ws(" ", F.collect_list(text_col).over(w)))
