"""Data-engineering QA operators: table reconciliation (row-level diff
between two datasets — migration/backfill validation) and rule-based data
quality audits. Both are single-pass/single-join plans meant to run over
full 100 TB tables.

Scale shape: reconcile is one full outer equi-join on the key columns
(AQE-skew-splittable; column comparison is a null-safe JVM expression, no
Python); dq_audit is one map-side scan computing every rule as a
conditional sum — adding rules adds expressions, not passes.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _tagged_compare(left: DataFrame, right: DataFrame, keys: list[str],
                    compare_cols: list[str] | None,
                    lp: str, rp: str):
    """Shared scaffolding for reconcile_tables/snapshot_cdc: one full outer
    equi-join on `keys` with each side's compare columns prefixed (lp/rp)
    plus presence markers, and the null-safe all-columns-equal predicate.
    NOTE (both consumers): rows with NULL key values never equi-join, so a
    null-keyed row surfaces as an only_left + only_right (delete + insert)
    pair rather than a comparison — keys are expected non-null.
    Returns (joined, compare_cols, in_left, in_right, same)."""
    if not keys:
        raise ValueError("keys must be non-empty")
    if compare_cols is None:
        shared = [c for c in left.columns if c in set(right.columns)]
        compare_cols = [c for c in shared if c not in set(keys)]
    l = left.select(
        *[F.col(k).alias(k) for k in keys],
        *[F.col(c).alias(f"{lp}{c}") for c in compare_cols],
        F.lit(1).alias("_in_l"))
    r = right.select(
        *[F.col(k).alias(k) for k in keys],
        *[F.col(c).alias(f"{rp}{c}") for c in compare_cols],
        F.lit(1).alias("_in_r"))
    j = l.join(r, keys, "full_outer")
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"{lp}{c}").eqNullSafe(F.col(f"{rp}{c}"))
    return j, compare_cols, F.col("_in_l"), F.col("_in_r"), same


def reconcile_tables(left: DataFrame, right: DataFrame, keys: list[str],
                     compare_cols: list[str] | None = None,
                     details: bool = False) -> DataFrame:
    """Diff two tables keyed by `keys`. Returns (status, n_rows) counts over
    {equal, differs, only_left, only_right} — or, with details=True, the
    per-key rows (key cols + status) for every non-equal key. Comparison is
    null-safe column equality over `compare_cols` (default: all shared
    non-key columns), evaluated as JVM expressions — no hashing, so the
    verdicts are engine-portable. Keys must be unique per side (it's a diff,
    not a join explosion guard)."""
    j, _cols, in_l, in_r, same = _tagged_compare(
        left, right, keys, compare_cols, "_l_", "_r_")
    status = (F.when(in_l.isNull(), F.lit("only_right"))
              .when(in_r.isNull(), F.lit("only_left"))
              .when(same, F.lit("equal"))
              .otherwise(F.lit("differs")))
    tagged = j.select(*keys, status.alias("status"))
    if details:
        return tagged.filter(F.col("status") != "equal")
    return (tagged.groupBy("status")
            .agg(F.count(F.lit(1)).alias("n_rows")))


def dq_audit(df: DataFrame, rules: list[tuple[str, F.Column]],
             scale: int = 10**6) -> DataFrame:
    """Rule-based data-quality audit: `rules` is [(name, pass_condition)].
    One scan; returns per rule (rule, n_rows, n_violations,
    violation_rate_e6) with the rate in fixed-point e6 (exact integer
    division — engine-portable). A NULL pass_condition counts as a
    violation (unknown is not a pass)."""
    if not rules:
        raise ValueError("rules must be non-empty")
    for name, _ in rules:
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(
                f"rule name {name!r} must be a bare identifier "
                "([A-Za-z_][A-Za-z0-9_]*) — it becomes a column name and "
                "an expression fragment")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for name, cond in rules:
        aggs.append(
            F.coalesce(
                F.sum(F.when(cond.eqNullSafe(F.lit(True)), 0).otherwise(1)),
                F.lit(0)).alias(f"_v_{name}"))
    # one scan total: the 1-row aggregate is materialized once, then each
    # rule's output row is a select over it (never a rescan of df)
    row = df.agg(*aggs).localCheckpoint(eager=True)
    stacked = None
    for name, _ in rules:
        part = row.select(
            F.lit(name).alias("rule"), F.col("n_rows"),
            F.col(f"_v_{name}").cast("long").alias("n_violations"),
            F.expr(f"(_v_{name} * {scale}L) div greatest(n_rows, 1)")
            .alias("violation_rate_e6"))
        stacked = part if stacked is None else stacked.unionByName(part)
    return stacked


def snapshot_cdc(prev: DataFrame, curr: DataFrame, keys: list[str],
                 compare_cols: list[str] | None = None) -> DataFrame:
    """Change-data-capture extraction between two snapshots of a keyed
    table: one row per changed key with op ∈ {insert, update, delete} and
    the per-column before/after values (null-safe comparison, same single
    full-outer-join plan as reconcile_tables). Unchanged keys are not
    emitted — the output is the minimal change stream that replays prev
    into curr."""
    j, compare_cols, in_p, in_c, same = _tagged_compare(
        prev, curr, keys, compare_cols, "_b_", "_a_")
    op = (F.when(in_p.isNull(), F.lit("insert"))
          .when(in_c.isNull(), F.lit("delete"))
          .when(same, F.lit(None))
          .otherwise(F.lit("update")))
    out_cols = ([F.col(k) for k in keys] + [op.alias("op")]
                + [F.col(f"_b_{c}").alias(f"before_{c}")
                   for c in compare_cols]
                + [F.col(f"_a_{c}").alias(f"after_{c}")
                   for c in compare_cols])
    return j.select(*out_cols).filter(F.col("op").isNotNull())


GOLDEN_STRATEGIES = ("longest", "max", "min", "majority")


def golden_records(df: DataFrame, cluster_col: str,
                   rules: dict[str, str]) -> DataFrame:
    """Survivorship merge (MDM "golden record"): collapse each duplicate
    cluster to one row, choosing every field by its rule —
      longest:  value with max (length, value)      (ties → larger value)
      max/min:  plain extrema
      majority: most frequent value, ties → smallest value
    All rules are deterministic under any partitioning (max_by on a
    composite struct / exact counts). One groupBy for the scalar rules plus
    one two-level aggregate per majority field, equi-joined back — no
    windows, everything map-side-combinable."""
    bad = {f: s for f, s in rules.items() if s not in GOLDEN_STRATEGIES}
    if bad:
        raise ValueError(f"unknown strategies: {bad}; "
                         f"choose from {GOLDEN_STRATEGIES}")
    if not rules:
        raise ValueError("rules must be non-empty")
    aggs = []
    majority_fields = []
    for field, strat in rules.items():
        if strat == "longest":
            aggs.append(F.max_by(
                field, F.struct(F.length(field).alias("l"),
                                F.col(field).alias("v"))).alias(field))
        elif strat == "max":
            aggs.append(F.max(field).alias(field))
        elif strat == "min":
            aggs.append(F.min(field).alias(field))
        else:
            majority_fields.append(field)
    out = df.groupBy(cluster_col).agg(*aggs) if aggs else \
        df.select(cluster_col).distinct()
    for field in majority_fields:
        counts = (df.groupBy(cluster_col, field)
                  .agg(F.count(F.lit(1)).alias("_n")))
        best = (counts.groupBy(cluster_col)
                .agg(F.min_by(field, F.struct(
                    (-F.col("_n")).alias("nn"),
                    F.col(field).alias("v"))).alias(field)))
        out = out.join(best, cluster_col)
    return out


def pair_eval(pred: DataFrame, truth: DataFrame,
              keys: tuple[str, str] = ("id_a", "id_b"),
              scale: int = 10**6) -> DataFrame:
    """Pairwise evaluation harness (dedup/entity-resolution quality): given
    predicted and ground-truth pair sets, one row of exact counts plus
    fixed-point precision/recall/F1 (F1 = 2·hit/(n_pred+n_true), so every
    metric is an integer division of exact counts — engine-portable,
    order-free). Three count aggregates + one equi-join, no collect."""
    ks = list(keys)
    p = pred.select(*ks).distinct()
    t = truth.select(*ks).distinct()
    np_ = p.agg(F.count(F.lit(1)).alias("n_pred"))
    nt_ = t.agg(F.count(F.lit(1)).alias("n_true"))
    nh_ = p.join(t, ks).agg(F.count(F.lit(1)).alias("n_hit"))
    return (np_.crossJoin(nt_).crossJoin(nh_)
            .select("n_pred", "n_true", "n_hit",
                    F.expr(f"(n_hit * {scale}L) div greatest(n_pred, 1)")
                    .alias("precision_e6"),
                    F.expr(f"(n_hit * {scale}L) div greatest(n_true, 1)")
                    .alias("recall_e6"),
                    F.expr(f"(2 * n_hit * {scale}L)"
                           f" div greatest(n_pred + n_true, 1)")
                    .alias("f1_e6")))
