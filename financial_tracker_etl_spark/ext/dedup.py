"""[EXT] Near-duplicate detection (SURVEY.md §2.K X1/X2).

Three tiers, trading exactness for scale:

- :func:`shingle_jaccard_pairs` — exact n-gram Jaccard via a
  shingle-inverted-index self-join. Exact but O(pairs sharing a
  shingle); the oracle-checkable baseline.
- :func:`minhash_near_dups` — MinHash + LSH banding: per-doc signature
  of K minima under independent hash functions, banded into B buckets;
  only same-bucket candidates get an exact Jaccard verification. This
  is the 100 TB path: cost is O(docs × K) + O(candidate pairs), never
  O(n²).
- :func:`simhash_fingerprints` — 60-bit SimHash via per-token hash bit
  votes; Hamming-ball lookup via 15-bit chunk banding.

All built-in expressions — no Python in the hot path. The hash family
is md5 (two 64-bit lanes per digest for MinHash, the top 60 bits for
SimHash): unlike round 1's xxhash64, md5 exists verbatim in DuckDB, so
every query here is driver-oracle-checkable end to end; md5 throughput
(~0.5 GB/s/core on short strings) is not the bottleneck next to the
shingle shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..partitioning import spread
from . import materialize_release
from .text import tokens_col


def shingles_col(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of normalized text. Empty array
    when the doc has fewer than n tokens."""
    toks = tokens_col(text)
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )
    return F.when(F.size(toks) >= n, F.array_distinct(gram)).otherwise(
        F.array().cast("array<string>")
    )


def doc_shingles(df: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """(doc_id, shingle) exploded inverted-index rows.

    The explode turns each document into all of its shingles, so it
    must run across cores, not on the source's split layout: a corpus
    stored as one row group would otherwise tokenize, explode and feed
    every downstream map stage on one task. ``partitioning.spread``
    hash-partitions the input on doc_id when its plan runs on too few
    partitions, and the per-document aggregates of the callers reuse
    that partitioning instead of planning their own exchange.

    Tokenization is staged into its own projection so the split/lower
    pass runs once per row — referencing ``shingles_col`` directly would
    inline the tokenizer n times per gram (CollapseProject keeps the
    stage split because the producer expression is non-cheap and
    multiply-referenced)."""
    src = spread(df.select("doc_id", text_col), "doc_id")
    toked = src.select("doc_id", tokens_col(F.col(text_col)).alias("_toks"))
    toks = F.col("_toks")
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )
    sh = F.when(F.size(toks) >= n, F.array_distinct(gram)).otherwise(
        F.array().cast("array<string>")
    )
    return toked.select("doc_id", F.explode(sh).alias("shingle"))


def shingle_jaccard_pairs(
    df: DataFrame, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """Exact pairwise n-gram Jaccard for every pair sharing >=1 shingle.

    jaccard = |A∩B| / (|A|+|B|-|A∩B|) — an exact integer ratio, so the
    double result is bit-identical across engines.

    The shingle table is PERSISTED before fan-out (stage_on_key
    contract): it feeds both self-join sides plus the per-doc counts,
    and each reference would otherwise re-run the per-row shingling
    explode over the corpus.
    """
    sh = doc_shingles(df, n, text_col).persist()
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    ca = counts.alias("ca")
    cb = counts.alias("cb")
    out = (
        common.join(ca, F.col("doc1") == F.col("ca.doc_id"))
        .join(cb, F.col("doc2") == F.col("cb.doc_id"))
        .select(
            "doc1",
            "doc2",
            "common",
            F.round(
                F.col("common")
                / (F.col("ca.n_shingles") + F.col("cb.n_shingles") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
    )
    return materialize_release(out, sh)


MINHASH_PRIME = 2_147_483_647  # 2^31 - 1, the MLlib MinHashLSH modulus


def minhash_signatures(
    df: DataFrame, k: int = 32, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """(doc_id, sig) MinHash signatures over n-gram shingles.

    The k hash functions are the affine family ``h_j = (a + j*b) mod
    p`` (p = 2^31-1) — the same construction Spark MLlib's MinHashLSH
    uses — where (a, b) are the first two 32-bit lanes of ONE
    md5(shingle) digest (b forced odd). One digest per shingle row,
    then k cheap integer expressions: products stay < 2^36, so BIGINT
    arithmetic is exact and identical in Spark and the DuckDB oracle.
    (The round-2 first cut used k/2 full md5 digests per row: measured
    ~4× slower at sf0.1 with no recall difference — the recall floor
    vs exact Jaccard is pinned in tests/test_ext.py.)

    Staged so each expensive step runs ONCE per row: shingle
    construction, then the digest projection, then the integer
    min-aggregation. Inlining the shingle expression k times instead
    blows the generated method past JIT limits and drops whole rows to
    interpreted eval — measured ~100× slower at sf0.1 (round 1).
    """
    return _signatures_from_shingles(doc_shingles(df, n, text_col), k)


def _signatures_from_shingles(sh: DataFrame, k: int) -> DataFrame:
    # expression trees built as SQL strings, ONE py4j round-trip per
    # lane instead of ~6 Column-API calls each: the k=32 min-agg
    # listcomp alone cost ~0.5 s of driver-side py4j chatter PER QUERY
    # CALL (r17 cProfile: 4.7k gateway round-trips, ~1.6 s of the
    # 4.6 s wall spent constructing the DAG, not computing). The
    # parsed expressions are identical to the Column-API originals
    # (same literal typing and promotions), pinned by the unchanged
    # DuckDB oracle hash.
    d = F.md5(F.col("shingle"))
    lanes = sh.select(
        "doc_id",
        F.conv(F.substring(d, 1, 8), 16, 10).cast("long").alias("_a"),
        F.conv(F.substring(d, 9, 8), 16, 10)
        .cast("long")
        .bitwiseOR(F.lit(1))
        .alias("_b"),
    )
    mins = lanes.groupBy("doc_id").agg(
        *[
            F.expr(f"min((_a + {j} * _b) % {MINHASH_PRIME}) AS _m{j}")
            for j in range(k)
        ]
    )
    return mins.select(
        "doc_id", F.array(*[f"_m{j}" for j in range(k)]).alias("sig")
    )


def minhash_near_dups(
    df: DataFrame,
    k: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.4,
    text_col: str = "text",
) -> DataFrame:
    """MinHash+LSH candidate generation + exact Jaccard verification.

    With k=32, bands=8 (rows/band r=4) the LSH S-curve crosses ~50%
    capture around j≈(1/b)^(1/r)≈0.6. Candidates are pairs agreeing on
    at least one full band; each candidate is then verified with the
    exact shingle Jaccard and filtered at ``threshold``.
    """
    rows_per_band = k // bands
    # signature build and candidate verification both consume the
    # exploded shingle rows; persist them once (MEMORY_AND_DISK, LRU-
    # evicted — small vs the corpus: ids + short strings) instead of
    # re-tokenizing the corpus twice. Halves wall time at sf0.1.
    # Same cache contract as dsir_importance / stage_on_key: the
    # O(pairs) output is materialized (persist + count — lineage kept,
    # see materialize_release) and the shingle cache released before
    # returning, so the dominant intermediate never outlives the
    # operator.
    from pyspark import StorageLevel

    sh = doc_shingles(df, n, text_col).persist(StorageLevel.MEMORY_AND_DISK)
    # the signature table is consumed by BOTH sides of the banding
    # self-join below: unpersisted, the k-way min-aggregation over the
    # corpus shingle rows executes twice per run (r17 plan audit: two
    # identical Exchange+HashAggregate subtrees under the self-join).
    # O(docs × k) rows — small next to the shingle cache it derives from.
    sig = _signatures_from_shingles(sh, k).persist(StorageLevel.MEMORY_AND_DISK)

    # one py4j round-trip for the whole band array (see
    # _signatures_from_shingles — same driver-side construction-cost
    # rationale; parsed expression identical to the Column original)
    band_array = "array({})".format(
        ", ".join(
            "struct({} AS band, concat_ws(',', {}) AS bucket)".format(
                b,
                ", ".join(
                    f"cast(element_at(sig, {b * rows_per_band + r + 1}) as string)"
                    for r in range(rows_per_band)
                ),
            )
            for b in range(bands)
        )
    )
    banded = sig.select(
        "doc_id", F.explode(F.expr(band_array)).alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")

    x = banded.alias("x")
    y = banded.alias("y")
    candidates = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc1"), F.col("y.doc_id").alias("doc2")
        )
        .distinct()
    )

    # exact verification restricted to LSH candidates only — the whole
    # point of LSH: never compute the full O(shared-shingle-pairs)
    # self-join. Cost is O(candidates × shingles-per-doc). Reuses the
    # persisted shingle rows from the signature pass.
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        candidates.join(a, F.col("doc1") == F.col("a.doc_id"))
        .join(
            b,
            (F.col("doc2") == F.col("b.doc_id"))
            & (F.col("a.shingle") == F.col("b.shingle")),
        )
        .groupBy("doc1", "doc2")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    ca = counts.alias("ca")
    cb = counts.alias("cb")
    pairs = (
        common.join(ca, F.col("doc1") == F.col("ca.doc_id"))
        .join(cb, F.col("doc2") == F.col("cb.doc_id"))
        .select(
            "doc1",
            "doc2",
            "common",
            F.round(
                F.col("common")
                / (F.col("ca.n_shingles") + F.col("cb.n_shingles") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return materialize_release(pairs, sh, sig)


SIMHASH_BITS = 60  # 15 hex chars of md5: fits a signed 64-bit on both engines
SIMHASH_CHUNKS = 4  # 4 × 15-bit chunks; Hamming<=3 pairs share >=1 chunk


def simhash_fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """60-bit SimHash: per-token md5 (top 15 hex chars as a BIGINT),
    per-bit majority vote.

    fingerprint bit i = 1 iff more than half the distinct tokens have
    bit i set (2·set_count > n). Banded into 4×15-bit chunks for
    Hamming-distance blocking (docs within Hamming distance 3 must
    agree on at least one chunk).

    Relational formulation — explode distinct tokens, ONE grouped
    aggregation computing all 60 bit-counts — rather than 60 separate
    higher-order array folds per row (round 1): one codegen'd pass over
    the token rows, map-side partial aggregation, and the md5→BIGINT
    step (``conv(hex,16,10)``) has an exact DuckDB twin
    (``CAST('0x'||substr(md5(t),1,15) AS BIGINT)``).
    """
    # a contentless doc has no fingerprint: without the filter, every
    # null-text doc hashed to fingerprint 0 (null token rows vanish in
    # the bit-count sums), so contentless docs paired with each other
    # AND with any low-bit-count fingerprint (round-15 fuzzer)
    toks = F.array_distinct(tokens_col(F.col(text_col)))
    exploded = df.filter(F.col(text_col).isNotNull()).select(
        "doc_id", F.explode_outer(toks).alias("_t")
    )
    h = F.conv(F.substring(F.md5(F.col("_t")), 1, 15), 16, 10).cast("long")
    hashed = exploded.select("doc_id", h.alias("_h"))
    # every per-bit expression is built as ONE SQL string instead of a
    # ~6-call Column composition: the 60-bit vote listcomp plus the
    # 60-term fingerprint fold cost ~10k py4j round-trips (= seconds
    # of DRIVER wall per query call, r17 cProfile) while the parsed
    # trees are identical — same literal typing (int 1/0 promote to
    # long exactly as F.lit did), same left-associated addition over
    # disjoint bit values, pinned by the unchanged DuckDB oracles.
    g = hashed.groupBy("doc_id").agg(
        F.count("_h").alias("_n"),
        *[
            F.expr(f"coalesce(sum(shiftright(_h, {i}) & 1), 0) AS _s{i}")
            for i in range(SIMHASH_BITS)
        ],
    )
    # disjoint bit positions: arithmetic + is bitwise OR here
    fp = " + ".join(
        f"(CASE WHEN _s{i} * 2 > _n THEN {1 << i}L ELSE 0L END)"
        for i in range(SIMHASH_BITS)
    )
    out = g.select("doc_id", F.expr(f"({fp}) AS simhash"))
    width = SIMHASH_BITS // SIMHASH_CHUNKS
    return out.select(
        "doc_id",
        "simhash",
        *[
            F.expr(
                f"cast(shiftright(simhash, {c * width}) & {(1 << width) - 1}"
                f" as bigint) AS chunk{c}"
            )
            for c in range(SIMHASH_CHUNKS)
        ],
    )


def simhash_near_dup_pairs(
    df: DataFrame, max_hamming: int = 3, text_col: str = "text"
) -> DataFrame:
    """(doc1, doc2, hamming): all document pairs within ``max_hamming``
    bits of SimHash distance, found via chunk blocking.

    Completeness: with 4 chunks, two fingerprints within Hamming
    distance 3 differ in at most 3 chunks (pigeonhole), so they MUST
    agree on at least one — candidates from the 4 chunk equi-joins are
    lossless for max_hamming <= 3, and the exact ``bit_count(xor)``
    filter afterwards makes the result identical to an all-pairs scan
    (which the DuckDB oracle runs at its tiny scale).

    Scale shape: explode 4 (chunk_idx, chunk_val) rows per doc, hash
    equi-join on them (bucketed, never all-pairs), distinct the
    candidate pairs, verify with one integer xor/popcount — the same
    candidates-only economics as MinHash banding.
    """
    fp = simhash_fingerprints(df, text_col)
    banded = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("ci"), F.col(f"chunk{c}").alias("cv")
                    )
                    for c in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.ci", "b.cv")
    x = banded.alias("x")
    y = banded.alias("y")
    # hamming filter BEFORE the candidate distinct: a pair matching on
    # j chunks reaches the distinct j times, and most candidates fail
    # the <= max_hamming cut — filtering first shrinks the only
    # pair-proportional exchange (measured at sf0.1: 2.94M candidate
    # rows carrying both 64-bit fingerprints down to 0.62M rows of
    # (doc1, doc2, hamming)). distinct commutes with the filter because
    # hamming is a function of the pair's two unique fingerprints.
    ham = F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash")))
    return (
        x.join(
            y,
            (F.col("x.ci") == F.col("y.ci"))
            & (F.col("x.cv") == F.col("y.cv"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .filter(ham <= max_hamming)
        .select(
            F.col("x.doc_id").alias("doc1"),
            F.col("y.doc_id").alias("doc2"),
            ham.cast("int").alias("hamming"),
        )
        .distinct()
    )
