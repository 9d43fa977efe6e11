"""[EXT] Distributed BPE tokenizer training over the ``documents``
table — the tokenizer-fitting stage of an LLM data pipeline (the
reference has no tokenizer tier; this extends SURVEY.md §2.K X3
token counting to the step that *produces* the token inventory).

The scale design follows how production BPE trainers (GPT-2,
SentencePiece) actually distribute: the corpus is first compressed to
the WORD-TYPE frequency table (one row per distinct word, weighted by
its corpus count) — a vocabulary-sized relation, millions of rows at
100 TB rather than trillions of tokens — and every subsequent
pair-count / merge step runs over that compressed table. Pair counting
is a single explode + hash aggregation (map-side partial combine);
the per-iteration "best pair" is a 1-row driver action over an
already-aggregated frame, and the merge application is a pure
column-expression fold (no Python UDF anywhere). Each merge's new
symbol table is a :class:`~financial_tracker_etl_spark.ext.LineageCuts`
cut: a localCheckpoint by default, or, with the checkpointDir conf set,
a parquet write into the training run's own directory, of which the
run keeps only its newest two.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from . import LineageCuts

# end-of-word marker, appended as a terminal symbol so merges cannot
# cross word boundaries and word-final units are distinguishable (the
# classic BPE formulation)
EOW = "</w>"


def word_type_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus word-TYPE frequency table: ``(word, n)`` with ``n`` the
    corpus-wide occurrence count. This is the trainer's working set —
    the token stream never materializes again after this aggregation."""
    words = df.select(
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("word")
    ).filter(F.col("word") != "")
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))


def _initial_symbols(word: Column) -> Column:
    """A word as its initial symbol sequence: characters + EOW."""
    return F.concat(F.split(word, ""), F.array(F.lit(EOW)))


def word_symbol_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``(syms: array<string>, n)`` — word types exploded to their
    initial character-level symbol sequences, the state the merge loop
    iterates on."""
    wc = word_type_counts(df, text_col)
    return wc.select(_initial_symbols(F.col("word")).alias("syms"), "n")


def pair_counts(symtab: DataFrame) -> DataFrame:
    """Adjacent-symbol-pair counts over the symbol table, weighted by
    word-type frequency: ``(left, right, pair_count)``.

    One explode over positions + one hash aggregation; the explode
    fan-out is bounded by symbols-per-word (a constant), so the shuffle
    carries pair keys (vocabulary-bounded), not the corpus."""
    pos = F.explode(F.sequence(F.lit(1), F.size("syms") - 1)).alias("i")
    pairs = symtab.filter(F.size("syms") >= 2).select(
        "n", "syms", pos
    ).select(
        F.element_at("syms", F.col("i")).alias("left"),
        F.element_at("syms", F.col("i") + 1).alias("right"),
        "n",
    )
    return pairs.groupBy("left", "right").agg(
        F.sum("n").alias("pair_count")
    )


def _apply_merge(syms: Column, left: str, right: str) -> Column:
    """Replace every left-to-right non-overlapping adjacent occurrence
    of ``(left, right)`` in a symbol array with the fused symbol — a
    pure ``aggregate`` fold, whole-stage-codegen'd, no UDF. The fold is
    inherently left-to-right and non-overlapping: once a pair fuses,
    the fused symbol (distinct from ``left``) cannot immediately fuse
    again, matching the reference BPE formulation."""
    merged = left + right
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def best_pair(symtab: DataFrame) -> tuple[str, str, int] | None:
    """The highest-count pair, ties broken lexicographically on
    (left, right) so training is fully deterministic. A 1-row driver
    action over the vocabulary-sized aggregate — the only driver
    round-trip per merge iteration."""
    row = (
        pair_counts(symtab)
        .orderBy(F.desc("pair_count"), F.asc("left"), F.asc("right"))
        .limit(1)
        .collect()
    )
    if not row:
        return None
    r = row[0]
    return (r["left"], r["right"], r["pair_count"])


def train_merges(
    df: DataFrame, n_merges: int, text_col: str = "text"
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges: the ordered merge list
    ``[(left, right, count_at_selection)]``.

    Each iteration: count pairs (distributed), pick the argmax (1-row
    collect), apply the merge to the symbol table (column fold), and
    cut the new state's lineage with the run's
    :class:`~financial_tracker_etl_spark.ext.LineageCuts` so the plan
    does not accrete one fold per iteration (plan growth, not data
    volume, is what kills iterative jobs at scale)."""
    cut = LineageCuts(df.sparkSession)
    symtab = cut(word_symbol_table(df, text_col))
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pick = best_pair(symtab)
        if pick is None or pick[2] < 1:
            break
        left, right, cnt = pick
        merges.append((left, right, cnt))
        symtab = cut(
            symtab.select(
                _apply_merge(F.col("syms"), left, right).alias("syms"), "n"
            )
        )
    return merges


def segment_with_merges(
    df: DataFrame, merges: list[tuple[str, str, int]], text_col: str = "text"
) -> DataFrame:
    """Apply a learned merge list to a corpus: per document, the BPE
    token count under the trained tokenizer (replays the merge folds in
    training order over each word's symbol sequence — inference is
    embarrassingly parallel, no shuffle at all)."""
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    seg = lambda w: _segmented_symbols(w, merges)  # noqa: E731
    counts = F.aggregate(
        F.filter(words, lambda w: w != ""),
        F.lit(0),
        lambda acc, w: acc + F.size(seg(w)),
    )
    return df.withColumn("n_bpe_trained_tokens", counts)


def _segmented_symbols(word: Column, merges: list[tuple[str, str, int]]) -> Column:
    syms = _initial_symbols(word)
    for left, right, _ in merges:
        syms = _apply_merge(syms, left, right)
    return syms
