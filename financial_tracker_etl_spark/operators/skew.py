"""Skew-mitigation utilities.

AQE's skew-join handling (on in session.py) splits oversized partitions
at runtime, but only for sort-merge joins; aggregations and
deliberately-planned joins over a hot key (one symbol dominating the
quote stream, one template dominating documents) still need salting.
This is the standard two-phase recipe, kept generic:

    phase 1: shuffle on (key, salt) — spreads the hot key over
             ``buckets`` reducers, partial-aggregate there
    phase 2: shuffle the (much smaller) partials on key alone, finish

The salt must be deterministic (content-derived, never rand()) so
retried tasks and replayed batches produce identical rows — the same
determinism rule the upsert tie-breaks follow (SURVEY.md §7(a)).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def with_salt(df: DataFrame, from_cols: list[str], buckets: int = 16) -> DataFrame:
    """Deterministic salt in [0, buckets): xxhash64 of row-identifying
    columns — never ``rand()``, which breaks replay/retry determinism."""
    return df.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in from_cols]), F.lit(buckets))
    )


def salted_count(
    df: DataFrame,
    keys: list[str],
    salt_from: list[str],
    buckets: int = 16,
) -> DataFrame:
    """Two-phase count per key: (key, salt) partials, then key totals.
    Equivalent to ``groupBy(keys).count()`` for any input; worth it only
    when a key is hot enough to overwhelm one reducer."""
    partial = (
        with_salt(df, salt_from, buckets)
        .groupBy(*keys, "_salt")
        .agg(F.count(F.lit(1)).alias("_partial"))
    )
    return partial.groupBy(*keys).agg(F.sum("_partial").alias("count"))


def salted_agg(
    df: DataFrame,
    keys: list[str],
    salt_from: list[str],
    aggs: dict[str, tuple[Column, Column]],
    buckets: int = 16,
) -> DataFrame:
    """Two-phase aggregation for decomposable aggregates. ``aggs`` maps
    output name -> (partial_expr, final_expr_over_partial); e.g.
    ``{"n": (F.count(F.lit(1)), F.sum("n")), "mx": (F.max("x"), F.max("mx"))}``.
    Only sum/count/min/max-style (commutative-monoid) aggregates
    decompose this way — avg must be expressed as sum/count."""
    partial_exprs = [expr.alias(name) for name, (expr, _) in aggs.items()]
    final_exprs = [expr.alias(name) for name, (_, expr) in aggs.items()]
    partial = (
        with_salt(df, salt_from, buckets)
        .groupBy(*keys, "_salt")
        .agg(*partial_exprs)
    )
    return partial.groupBy(*keys).agg(*final_exprs)


def salted_window_count(
    df: DataFrame,
    keys: list[str],
    salt_from: list[str],
    buckets: int = 16,
    out_col: str = "count",
) -> DataFrame:
    """Skew-safe equivalent of attaching
    ``F.count(lit(1)).over(Window.partitionBy(*keys))`` to every row.

    A whole-partition window is NOT splittable by AQE skew handling: a
    head key carrying p% of the stream concentrates p% of the rows in
    one task, and that task grows linearly with corpus size. This form
    bounds per-task key mass at ~1/buckets: a (keys, salt) window
    computes partials over the balanced exchange, the distinct
    (keys, salt, partial) rows (|keys|*buckets, tiny) reduce to per-key
    totals, and the totals join back on the key — a sort-merge join
    AQE CAN skew-split, unlike the window.

    Measured (BASELINE.md round-9 skew probe, 40%-hub corpus, medians
    of interleaved draws): plain-window/salted = 1.45x at 2M rows, 2.07x
    at 4M — the gap grows with scale. On NATURALLY distributed keys
    the plain window is cheaper (no distinct+join): the measured
    crossover sits between 10% and 20% head share at 32 shuffle
    partitions, i.e. salt when the top key's row share exceeds ~5x
    the mean per-shuffle-partition share; full sweep table in the
    BASELINE.md round-9 note.

    The salt is deterministic (``with_salt``), so retried tasks and
    replayed batches attach identical counts.

    NULL keys (round-9 ADVICE medium): ``Window.partitionBy`` — like
    the ``groupBy``/``distinct`` below — treats NULL as one ordinary
    group, but a name-based equi-join-back would silently DROP every
    null-key row. The join-back therefore renames the totals side's
    keys and joins on ``eqNullSafe``, so null-key rows get their group
    count attached exactly as the plain window attaches it.
    """
    from pyspark.sql import Window

    salted = with_salt(df, salt_from, buckets).withColumn(
        "_partial",
        F.count(F.lit(1)).over(Window.partitionBy(*keys, "_salt")),
    )
    totals = (
        salted.select(*keys, "_salt", "_partial")
        .distinct()
        .groupBy(*keys)
        .agg(F.sum("_partial").cast("long").alias(out_col))
    )
    prefix = "__swc_"
    cols = set(df.columns) | {out_col}
    while any(prefix + k in cols for k in keys):
        prefix = "_" + prefix
    tagged = [prefix + k for k in keys]
    totals = totals.select(
        *[F.col(k).alias(t) for k, t in zip(keys, tagged)], out_col
    )
    cond = F.lit(True)
    for k, t in zip(keys, tagged):
        cond = cond & F.col(k).eqNullSafe(F.col(t))
    return salted.join(totals, cond).drop("_salt", "_partial", *tagged)
