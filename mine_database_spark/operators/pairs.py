"""Candidate pairs from shared keys: posting lists and their pair explode.

Every pair generator in the package (co-occurrence edges, LSH band
buckets, shingle inverted indexes, winnowing fingerprints, simhash bands)
is the same two steps:

    post = postings(df, keys, id_col, cap)   # (*keys, ids), one row per key
    pairs = key_pairs(post)                  # one row per shared key, a_id < b_id

followed by the caller's own `distinct` (pair sets) or aggregate (shared-key
counts, weight sums). `guard_pair_volume` prices `key_pairs` before it runs.
The shape, the cap rule and the measurements behind them are in
docs/SHUFFLES.md ("Pair generation").
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def postings(
    df: DataFrame, keys: list[str], id_col: str, cap: int | None = None
) -> DataFrame:
    """Posting lists: one row `(*keys, ids)` per key, where `ids` is the
    set of distinct ids carrying that key.

    Rows with a NULL key or a NULL id are dropped before anything is
    counted, so a NULL never forms a posting list or counts toward a cap.

    `cap` drops every key held by more than `cap` rows. The per-key count
    (map-side combinable) and a left-semi join on the surviving keys run
    BEFORE `collect_set`, so the array of a capped key is never built:
    build memory per key is bounded by `cap` by construction.

    Contract: ids must be orderable (`key_pairs` compares them with `<`;
    structs order field by field). When `cap` is set, each (key, id)
    occurs at most once in `df`, so the count is the key's distinct-id
    frequency; without a cap, duplicate rows are harmless.
    """
    keys = list(keys)
    rows = df.select(*keys, F.col(id_col).alias("__id")).where(
        reduce(lambda a, b: a & b, [F.col(c).isNotNull() for c in [*keys, "__id"]])
    )
    if cap is not None:
        small = (
            rows.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") <= cap)
            .select(*keys)
        )
        rows = rows.join(small, keys, "left_semi")
    return rows.groupBy(*keys).agg(F.collect_set("__id").alias("ids"))


def key_pairs(post: DataFrame) -> DataFrame:
    """One row per (key, a_id, b_id) with a_id < b_id, exploded in-task
    from each posting list of `post` (a `postings` result, or any table
    with an `ids` array column). Every other column of `post` rides along,
    so callers `distinct` the pairs or aggregate per pair themselves. A
    key with f ids emits f·(f−1)/2 rows, all in one task."""
    rest = [c for c in post.columns if c != "ids"]
    return (
        post.select(*rest, F.explode("ids").alias("a_id"), "ids")
        .select(*rest, "a_id", F.explode("ids").alias("b_id"))
        .where(F.col("a_id") < F.col("b_id"))
    )


def guard_pair_volume(post: DataFrame, limit: int | None, hint: str) -> None:
    """Raise ValueError when `key_pairs(post)` would emit more than
    `limit` rows (Σ f·(f−1)/2 over the posting lists), with `hint` telling
    the caller how to shrink the volume. This is an eager Spark action at
    plan-build time: one aggregation over the posting table. `limit=None`
    skips it."""
    if limit is None:
        return
    vol = post.agg(
        F.expr("sum(cast(size(ids) as bigint) * (size(ids) - 1) div 2)")
    ).first()[0] or 0
    if vol > limit:
        raise ValueError(
            f"pair generation would emit {vol} candidate pairs "
            f"(> max_candidate_pairs={limit}); {hint}"
        )
