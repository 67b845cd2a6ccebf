"""Reference-parity: triple P/R >= 0.95 vs the reference's deterministic
operators on the same transcripts (BASELINE.json metric).

The oracle is the reference's own code run in-process (tests/ref_oracle.py)
when a reference checkout is present, and otherwise the frozen
``ref_fixture`` — the same reference functions' output at
``ref_fixture.N_CONVS`` conversations, written by scripts/gen_ref_fixture.py.
Both are compared against the pipeline run on those same transcripts."""

import pytest

from knowledge_extraction_pipeline_spark import ref_fixture
from knowledge_extraction_pipeline_spark.functions.lexicon import (
    apply_alias_py,
    normalize_term_py,
)
from knowledge_extraction_pipeline_spark.operators.canonicalize import canonicalize_stage
from knowledge_extraction_pipeline_spark.operators.extract import extract_stage
from knowledge_extraction_pipeline_spark.operators.link import distinct_terms, link_stage
from knowledge_extraction_pipeline_spark.operators.materialize import materialize_stage
from knowledge_extraction_pipeline_spark.sources.transcripts_gen import (
    generate_transcripts,
)

try:
    from . import ref_oracle
except FileNotFoundError:  # no reference checkout: the frozen fixture is the oracle
    ref_oracle = None


def T(term: str) -> str:
    return apply_alias_py(normalize_term_py(term))


def _spark_triples(spark, transcripts, enable_fuzzy: bool):
    m, tr = extract_stage(transcripts)
    m = m.cache()
    asn = canonicalize_stage(distinct_terms(m), link_stage(m, enable_fuzzy=enable_fuzzy))
    _, edges = materialize_stage(spark, m, tr, asn)
    out = {}
    for r in edges.collect():
        # edge endpoints are already alias-canonical normalized terms — the
        # same key space as T(oracle canonical_term)
        out[(r["subj"], r["pred"], r["obj"])] = (r["common"], r["strength"], r["confidence"])
    return out


def _oracle_triples(rows):
    _, rels = ref_oracle.oracle_graph(rows)
    out = {}
    for r in rels:
        key = (T(r["source"]), r["type"], T(r["target"]))
        out[key] = (len(r["evidence"]) if False else None, r["strength"], r["confidence"])
    return out


def _pr(ours: dict, oracle: dict) -> tuple[float, float]:
    inter = set(ours) & set(oracle)
    p = len(inter) / max(1, len(ours))
    r = len(inter) / max(1, len(oracle))
    return p, r


@pytest.fixture(scope="module")
def ref_transcripts(spark):
    return generate_transcripts(spark, ref_fixture.N_CONVS).cache()


@pytest.fixture(scope="module")
def oracle(ref_transcripts):
    if ref_oracle is None:
        return {(s, p, o): (None, strength, confidence)
                for s, p, o, _, strength, confidence in ref_fixture.EDGES}
    rows = ref_transcripts.select("conv_id", "turn_idx", "text").collect()
    return _oracle_triples(rows)


def test_parity_strict_no_fuzzy(spark, ref_transcripts, oracle):
    """With the fuzzy stage off, our pipeline IS the reference's deterministic
    path — expect near-exact triple parity."""
    ours = _spark_triples(spark, ref_transcripts, enable_fuzzy=False)
    p, r = _pr(ours, oracle)
    print(f"\nno-fuzzy: ours={len(ours)} oracle={len(oracle)} P={p:.4f} R={r:.4f}")
    assert p >= 0.99 and r >= 0.99
    # value parity on the intersection: strength/confidence byte-formulas
    for k in set(ours) & set(oracle):
        _, s_ours, c_ours = ours[k]
        _, s_orc, c_orc = oracle[k]
        assert abs(s_ours - s_orc) < 1e-4, k
        assert abs(c_ours - c_orc) < 1e-4, k


def test_parity_with_fuzzy(spark, ref_transcripts, oracle):
    """Full pipeline (LSH fuzzy linking on) must stay within the 0.95 band:
    typo/hyphen merges improve the graph but diverge from the reference's
    exact-only path by construction."""
    ours = _spark_triples(spark, ref_transcripts, enable_fuzzy=True)
    p, r = _pr(ours, oracle)
    print(f"\nfuzzy: ours={len(ours)} oracle={len(oracle)} P={p:.4f} R={r:.4f}")
    assert p >= 0.95 and r >= 0.95


def _oracle_groups(ref_transcripts):
    if ref_oracle is None:
        return {canon for canon, _, _ in ref_fixture.NODES}
    rows = ref_transcripts.select("conv_id", "turn_idx", "text").collect()
    concepts = ref_oracle.concepts_from_rows(rows)
    entities, _ = ref_oracle.graph_tools.exact_string_resolution(concepts)
    entities = ref_oracle.graph_tools.known_alias_resolution(entities)
    return {T(e.get("canonical_term") or e.get("term")) for e in entities}


def test_node_parity(spark, ref_transcripts):
    """Entity groups (exact+alias only) match the reference's resolution."""
    want_groups = _oracle_groups(ref_transcripts)

    m, _ = extract_stage(ref_transcripts)
    asn = canonicalize_stage(distinct_terms(m), link_stage(m, enable_fuzzy=False))
    got_groups = {T(r["canon"]) for r in asn.select("canon").distinct().collect()}
    assert got_groups == want_groups
