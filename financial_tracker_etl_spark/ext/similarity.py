"""[EXT] Similarity search over the ``embeddings`` table
(SURVEY.md §2.K X2/X4).

Two paths:

- :func:`topk_cosine_bruteforce` — exact top-k for a small query set
  against the full corpus. The dot product is a sequential left fold
  (``F.aggregate`` over ``F.zip_with``) in DOUBLE, matching DuckDB's
  ``list_dot_product`` bit-for-bit. The query side is broadcast; the
  corpus side streams — at 100 TB this is one scan, no shuffle of the
  corpus.
- :func:`topk_cosine_lsh` — sign-random-projection LSH: deterministic
  pseudo-random hyperplanes, bucket on the sign pattern, exact re-rank
  within matching buckets (multi-probe via band splitting). The scale
  path: candidates per query drop from N to N/2^planes on average.

The hyperplane weights are pseudo-random CONSTANTS derived from
hashlib.md5 at plan-build time (:func:`plane_weights`) and inlined as
literals — no per-row hashing at all, and the DuckDB oracle embeds the
same literals, so the bucket assignment is engine-independent by
construction (round 1 used per-row xxhash64, which DuckDB lacks).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import broadcast

from . import materialize_release


def as_double_vec(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def _corpus(df: DataFrame) -> DataFrame:
    """Canonical ANN corpus: one row per (vec_id, embedding). An index
    treats vec_id as the vector's identity — a duplicated ingest row
    must not occupy two probe slots, two rank positions, or two
    candidate entries. Without the distinct, a duplicated QUERY row
    interacts with the oracles' join multiplicities quadratically
    (corpus JOIN u ON vec_id → 4 copies vs Spark's 2), so
    `row_number <= nprobe` probes a different number of DISTINCT
    clusters per engine — found by the round-15 fuzzer at sf0.1
    (subsample+dupes+permute, seed 777). Distinct on the raw
    (vec_id, embedding) pair: exact ingest copies collapse; genuinely
    conflicting payloads for one vec_id stay visible downstream."""
    v = as_double_vec(F.col("embedding"))
    return (
        # NULL vectors are excluded with the same identity rationale:
        # a vector-less row can't be indexed, probed, or ranked — and
        # the SQL twin's list_inner_product THROWS on null lists, so a
        # null reaching either engine's distance math is a crash or a
        # silent null-rank, not a result (round-15 fuzzer, content
        # nulls)
        df.filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
        .distinct()
        .select("vec_id", v.alias("v"), norm(v).alias("nrm"))
    )


def topk_cosine_bruteforce(
    embeddings: DataFrame, query_mod: int = 97, k: int = 10
) -> DataFrame:
    """Exact top-k cosine neighbors for query vectors
    (vec_id % query_mod == 0) against the whole corpus, self excluded.
    Deterministic rank tie-break on neighbor id."""
    from pyspark.sql import Window

    corpus = _corpus(embeddings)
    queries = corpus.filter((F.col("vec_id") % query_mod) == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        corpus.join(broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


def ivf_assignments(
    corpus: DataFrame, centroids: DataFrame
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid (the IVF
    inverted-file build). One broadcast nested-loop over the tiny
    centroid table + a max_by aggregation — the corpus never shuffles;
    at 100 TB the output would be written bucketed by ``cluster_id`` so
    probes read only matching buckets."""
    scored = corpus.join(broadcast(centroids)).select(
        "vec_id",
        "v",
        "nrm",
        F.col("centroid_id"),
        (dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn"))).alias(
            "ccos"
        ),
    )
    # max_by over a (score, -id) struct = deterministic nearest centroid
    return scored.groupBy("vec_id").agg(
        F.max_by(
            "centroid_id", F.struct(F.col("ccos"), -F.col("centroid_id"))
        ).alias("cluster_id"),
        F.first("v").alias("v"),
        F.first("nrm").alias("nrm"),
    )


def topk_cosine_ivf(
    embeddings: DataFrame,
    query_mod: int = 97,
    k: int = 10,
    centroid_mod: int = 23,
    nprobe: int = 4,
) -> DataFrame:
    """Approximate top-k via an IVF index: deterministic centroid
    sample (vec_id % centroid_mod == 1 — a k-means fit would slot in
    here unchanged), corpus bucketed by nearest centroid, queries probe
    their ``nprobe`` nearest clusters only. Candidate count drops to
    ~nprobe/C of the corpus; recall is tested against the exact
    brute-force in tests/test_ext.py."""
    from pyspark.sql import Window

    corpus = _corpus(embeddings)
    # == (1 % centroid_mod), not == 1: mod=1 (every vector a
    # centroid, the exactness-test degenerate) would otherwise select
    # NO centroids and silently return an empty result — the same
    # trap pq_codebook documents and guards
    centroids = corpus.filter(
        (F.col("vec_id") % centroid_mod) == (1 % centroid_mod)
    ).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    assigned = ivf_assignments(corpus, centroids)

    queries = corpus.filter((F.col("vec_id") % query_mod) == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    qscore = queries.join(broadcast(centroids)).select(
        "query_id",
        "qv",
        "qn",
        "centroid_id",
        (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias(
            "ccos"
        ),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("ccos").desc(), F.col("centroid_id").asc()
    )
    probes = (
        qscore.withColumn("_pr", F.row_number().over(wq))
        .filter(F.col("_pr") <= nprobe)
        .select("query_id", "qv", "qn", F.col("centroid_id").alias("cluster_id"))
    )

    cand = assigned.alias("c").join(
        broadcast(probes).alias("p"),
        (F.col("c.cluster_id") == F.col("p.cluster_id"))
        & (F.col("c.vec_id") != F.col("p.query_id")),
    )
    scored = cand.select(
        "query_id",
        F.col("c.vec_id").alias("neighbor_id"),
        (dot(F.col("p.qv"), F.col("c.v")) / (F.col("p.qn") * F.col("c.nrm"))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


def cosine_near_dup_pairs_exact(
    embeddings: DataFrame, threshold: float = 0.9
) -> DataFrame:
    """All-pairs exact cosine near-dup pairs — O(N²/2). The small-scale
    baseline the LSH path's recall is tested against; never the plan to
    run at 100 TB."""
    corpus = _corpus(embeddings)
    a = corpus.alias("a")
    b = corpus.alias("b")
    return (
        a.join(broadcast(b), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec1"),
            F.col("b.vec_id").alias("vec2"),
            (
                dot(F.col("a.v"), F.col("b.v"))
                / (F.col("a.nrm") * F.col("b.nrm"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .select("vec1", "vec2", F.round("cosine", 6).alias("cosine"))
    )


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """X2 embedding-cosine near-duplicate pairs (vec1 < vec2, cosine >=
    threshold), sign-LSH prefiltered: candidates are pairs agreeing on
    either half-bucket, then exact cosine verifies each candidate.

    Scale shape: two equi-joins on the half-bucket keys (shuffle
    partitioned by bucket — never the O(N²/2) cross product round 1
    shipped), distinct on the pair, then exact scoring of candidates
    only. Recall on true near-dups (θ small) is high — P[half-bucket
    agrees] = (1-θ/π)^(planes/2), two probes; the all-pairs exact twin
    stays available as :func:`cosine_near_dup_pairs_exact` and the
    recall floor is pinned in tests/test_ext.py.

    The bucketed corpus is PERSISTED before fan-out (stage_on_key
    contract): it feeds four join sides, and each reference would
    otherwise re-execute the 8 interpreted hyperplane projections per
    row. Candidate volume is ~N²/2^(planes/2) per probe — a FIXED
    bucket space, so doubling the corpus quadruples candidates; at
    real scale ``planes`` grows with log2(N) to hold per-bucket
    occupancy (and hence verify cost) constant, which is why it is a
    parameter and not a constant.
    """
    bucketed = sign_buckets(_corpus(embeddings), planes, dim)
    keyed = bucketed.select("vec_id", "v", "nrm", "b0", "b1").persist()

    def half_join(key: str) -> DataFrame:
        a = keyed.alias("a")
        b = keyed.alias("b")
        return a.join(
            b,
            (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        ).select(
            F.col("a.vec_id").alias("vec1"), F.col("b.vec_id").alias("vec2")
        )

    candidates = half_join("b0").unionByName(half_join("b1")).distinct()
    a = keyed.alias("ca")
    b = keyed.alias("cb")
    out = (
        candidates.join(a, F.col("vec1") == F.col("ca.vec_id"))
        .join(b, F.col("vec2") == F.col("cb.vec_id"))
        .select(
            "vec1",
            "vec2",
            (
                dot(F.col("ca.v"), F.col("cb.v"))
                / (F.col("ca.nrm") * F.col("cb.nrm"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .select("vec1", "vec2", F.round("cosine", 6).alias("cosine"))
    )
    return materialize_release(out, keyed)


def plane_weights(plane: int, dim: int) -> list[float]:
    """Component weights of pseudo-random hyperplane ``plane``:
    md5(plane:i) top 60 bits → ±[-1, 1). Computed once at plan-build
    time (driver-side, standard hashlib) and inlined as literals into
    BOTH the Spark plan and the DuckDB oracle SQL — the weights are
    configuration, not data, so hashing per row would be waste."""
    out = []
    for i in range(dim):
        h = int(hashlib.md5(f"{plane}:{i}".encode()).hexdigest()[:15], 16)
        out.append(((h % 1000) - 500) / 500.0)
    return out


def _hyperplane_sign(vec_col: str, plane: int, dim: int) -> Column:
    """Sign of the projection of the array column named ``vec_col``
    onto :func:`plane_weights` — sequential left fold, matching
    DuckDB's ``list_dot_product`` bit-for-bit.

    The weight array and fold are ONE parsed SQL expression instead of
    ``dim`` F.lit Column calls: 8 planes × 64 weights cost ~1k py4j
    round-trips (~0.55 s of driver wall per sign_buckets call).
    Parsed tree identical: repr(float) is the shortest round-trip
    decimal, so the ``D`` literals parse back to the exact same
    doubles, and the lambda fold is the same left-associated
    aggregate. The column is passed by name and backquoted into the
    SQL, so any column name parses as that one column reference."""
    arr = ",".join(f"{x!r}D" for x in plane_weights(plane, dim))
    quoted = "`" + vec_col.replace("`", "``") + "`"
    # the aggregate's zero and the per-element product mirror the old
    # F.lit(0.0) / x * wi exactly
    proj = F.expr(
        f"aggregate(zip_with({quoted}, array({arr}), (x, wi) -> x * wi), "
        "0.0D, (acc, x) -> acc + x)"
    )
    return F.when(proj >= 0, 1).otherwise(0)


def sign_buckets(
    corpus: DataFrame, planes: int = 8, dim: int = 64
) -> DataFrame:
    """corpus + two half-bucket keys (``b0``/``b1``): the sign pattern
    of the first and last planes/2 hyperplanes. Multi-probe banding —
    candidates match on either half, doubling recall for ~2× the
    candidate volume."""
    signs = [
        _hyperplane_sign("v", p, dim).cast("string")
        for p in range(planes)
    ]
    half = planes // 2
    return corpus.select(
        "*",
        F.concat(*signs[:half]).alias("b0"),
        F.concat(*signs[half:]).alias("b1"),
    )


def topk_cosine_lsh(
    embeddings: DataFrame,
    query_mod: int = 97,
    k: int = 10,
    planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: sign-LSH bucket join, exact cosine re-rank
    within candidates. Multi-probe: two 4-plane half-buckets, a
    candidate matches if either half matches (recall boost at the cost
    of ~2× candidates)."""
    from pyspark.sql import Window

    bucketed = sign_buckets(_corpus(embeddings), planes, dim)
    queries = bucketed.filter((F.col("vec_id") % query_mod) == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("b0").alias("qb0"),
        F.col("b1").alias("qb1"),
    )
    cand = bucketed.join(
        broadcast(queries),
        (F.col("vec_id") != F.col("query_id"))
        & ((F.col("b0") == F.col("qb0")) | (F.col("b1") == F.col("qb1"))),
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# K-means building blocks: data-derived centroids + assignment (E-step)
# ---------------------------------------------------------------------------


def label_centroids(emb: DataFrame, group_col: str = "label") -> DataFrame:
    """(group, pos, centroid): element-wise mean vector per group — the
    k-means M-step / nearest-class-mean model, and the data-derived
    counterpart of :func:`topk_cosine_ivf`'s literal centroids.

    Relational shape: posexplode -> ONE hash aggregation keyed
    (group, pos); map-side partial aggregation carries the 64×
    row inflation, so the shuffle moves only (groups × dims) partial
    sums per partition — at 100 TB the wire traffic is O(cardinality
    of the centroid table), not the corpus.

    Exactness: per-element sums go through DECIMAL(18,9) (exact,
    order-independent) and the mean is ONE double division, then
    round(6). The final round is load-bearing: a float's exact decimal
    expansion always terminates in ...5, so among hundreds of
    thousands of double→DECIMAL conversions a few land exactly on the
    9th-digit rounding boundary where Spark (HALF_UP) and DuckDB
    disagree by one ulp — observed as an 11th-significant-digit sum
    divergence at sf0.1. Rounding the mean to 6 digits absorbs it on
    both engines (and makes the downstream assignment's inputs
    bit-identical).
    """
    pv = emb.select(group_col, F.posexplode("embedding").alias("pos", "val"))
    return pv.groupBy(group_col, "pos").agg(
        F.round(
            F.sum(F.col("val").cast("double").cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("centroid")
    )


def kmeans_assign(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, assigned_label, dist): nearest centroid per vector by
    squared L2 — one k-means E-step against a (groups × dims) centroid
    table.

    Scale shape: the centroid table is tiny by construction and is
    BROADCAST onto the exploded corpus; the per-(vector, centroid)
    partial distances reduce through map-side combine into one
    (vec_id, label)-keyed aggregation, then a per-vector
    WindowGroupLimit picks the argmin. The corpus is never shuffled
    against itself.

    Determinism: squared terms are cast to DECIMAL(20,18) (values
    bounded ~1.5 for unit-scale embeddings) so the distance sum is
    exact and order-independent; argmin ties break on label asc.
    """
    from pyspark.sql import Window

    pv = emb.select("vec_id", F.posexplode("embedding").alias("pos", "val"))
    j = pv.join(broadcast(centroids), "pos")
    diff = F.col("val").cast("double") - F.col("centroid")
    dists = (
        j.select(
            "vec_id",
            F.col("label").alias("clabel"),
            (diff * diff).cast("decimal(20,18)").alias("_term"),
        )
        .groupBy("vec_id", "clabel")
        .agg(F.sum("_term").alias("_dist"))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("_dist").asc(), F.col("clabel").asc()
    )
    return (
        dists.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "vec_id",
            F.col("clabel").alias("assigned_label"),
            F.round(F.col("_dist").cast("double"), 6).alias("dist"),
        )
    )


def pq_codebook(
    corpus: DataFrame, m: int = 4, dim: int = 64, codeword_mod: int = 31
) -> DataFrame:
    """Product-quantization codebook: the vector space split into ``m``
    contiguous subspaces of ``dim/m`` dims; each subspace's codewords
    are the sub-vectors of a deterministic corpus sample
    (vec_id % codeword_mod == 1 — a per-subspace k-means fit slots in
    here unchanged, exactly like topk_cosine_ivf's centroid hook).
    Rows: (s, code_id, cw) with unit-normalized codeword slices."""
    sub = dim // m
    u = F.transform(F.col("v"), lambda x: x / F.col("nrm"))
    # == (1 % mod), not == 1: mod=1 then selects the whole corpus (the
    # degenerate every-vector-a-codeword case the exactness test uses)
    sample = corpus.filter(
        (F.col("vec_id") % codeword_mod) == (1 % codeword_mod)
    ).select(F.col("vec_id").alias("code_id"), u.alias("u"))
    parts = [
        sample.select(
            F.lit(s).alias("s"),
            "code_id",
            F.slice("u", s * sub + 1, sub).alias("cw"),
        )
        for s in range(m)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _subspace_slices(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    nrm_col: str,
    m: int,
    dim: int,
    out_col: str,
) -> DataFrame:
    """(id, s, <out_col>) — the unit-normalized vector split into its
    ``m`` contiguous subspace slices, one row per (row, subspace)."""
    sub = dim // m
    u = F.transform(F.col(vec_col), lambda x: x / F.col(nrm_col))
    parts = [
        df.select(
            id_col, F.lit(s).alias("s"), F.slice(u, s * sub + 1, sub).alias(out_col)
        )
        for s in range(m)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _pq_query_lut(
    queries: DataFrame, codebook: DataFrame, m: int, dim: int
) -> DataFrame:
    """Per-query ADC lookup table: dot(q_sub, codeword) for every
    (subspace, codeword) — m·C rows per query, broadcast downstream."""
    qsub = _subspace_slices(queries, "query_id", "qv", "qn", m, dim, "qsub")
    return qsub.join(broadcast(codebook), "s").select(
        "query_id",
        "s",
        F.col("code_id").alias("code"),
        dot(F.col("qsub"), F.col("cw")).alias("partial"),
    )


def _adc_topk(cand: DataFrame, m: int, k: int) -> DataFrame:
    """Fold (query_id, vec_id, s, partial) candidate rows into the
    fixed-order ADC sum p0+p1+...+p{m-1} (literal subspace order, not an
    unordered float SUM — the cross-engine determinism requirement) and
    rank top-k per query."""
    from pyspark.sql import Window

    per_pair = cand.groupBy("query_id", "vec_id").agg(
        *[
            F.max(F.when(F.col("s") == s, F.col("partial"))).alias(f"p{s}")
            for s in range(m)
        ]
    )
    adc = per_pair.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        sum((F.col(f"p{s}") for s in range(1, m)), F.col("p0")).alias("adc"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id").asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("adc", 6).alias("adc"))
    )


def pq_encode(corpus: DataFrame, codebook: DataFrame, m: int = 4, dim: int = 64) -> DataFrame:
    """Encode every vector as ``m`` small codes: per subspace, the
    nearest codeword by squared L2 (argmin of -2·dot(sub,cw)+dot(cw,cw);
    the dot(sub,sub) term is constant per argmin and dropped). Ties
    break on code_id asc.

    Scale shape: the codebook is broadcast; the corpus is scanned once
    per subspace slice and never shuffled against itself — the output
    codes table is ~m bytes/vector (64 floats → 4 codes here, a 64×
    memory cut), which is what makes the ADC scan below feasible over
    corpora whose raw vectors don't fit storage bandwidth."""
    subv = _subspace_slices(corpus, "vec_id", "v", "nrm", m, dim, "subv")
    scored = subv.join(broadcast(codebook), "s").select(
        "vec_id",
        "s",
        "code_id",
        (
            F.lit(-2.0) * dot(F.col("subv"), F.col("cw"))
            + dot(F.col("cw"), F.col("cw"))
        ).alias("d"),
    )
    return scored.groupBy("vec_id", "s").agg(
        F.min_by("code_id", F.struct(F.col("d"), F.col("code_id"))).alias("code")
    )


def topk_cosine_pq(
    embeddings: DataFrame,
    query_mod: int = 97,
    k: int = 10,
    m: int = 4,
    dim: int = 64,
    codeword_mod: int = 31,
) -> DataFrame:
    """Approximate top-k cosine via product quantization with
    asymmetric distance computation (ADC): each query builds a tiny
    lookup table dot(q_sub, codeword) per (subspace, codeword); the
    corpus is then scanned as CODES ONLY — each candidate's approximate
    cosine is the fixed-order sum of m table lookups, no float-vector
    arithmetic per pair at all.

    This is the classic IVF-PQ scale shape minus the IVF gating (which
    `topk_cosine_ivf` provides and composes with): at 100 TB the codes
    table is ~64× smaller than the raw vectors and the LUT join is a
    broadcast hash join against an m·C-row table. Approximation error
    is bounded by subspace quantization error; recall is tested against
    the exact brute-force in tests/test_ext.py.

    Determinism: the ADC sum is computed as p0+p1+p2+p3 in literal
    subspace order (not an unordered float SUM), so Spark and the
    DuckDB oracle agree bit-for-bit.
    """
    corpus = _corpus(embeddings)
    codebook = pq_codebook(corpus, m, dim, codeword_mod)
    codes = pq_encode(corpus, codebook, m, dim)
    queries = corpus.filter((F.col("vec_id") % query_mod) == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    lut = _pq_query_lut(queries, codebook, m, dim)
    cand = codes.join(broadcast(lut), ["s", "code"]).filter(
        F.col("vec_id") != F.col("query_id")
    )
    return _adc_topk(cand, m, k)


def topk_cosine_ivfpq(
    embeddings: DataFrame,
    query_mod: int = 97,
    k: int = 10,
    centroid_mod: int = 23,
    nprobe: int = 4,
    m: int = 4,
    dim: int = 64,
    codeword_mod: int = 31,
) -> DataFrame:
    """IVF + PQ composed — the production ANN shape at 100 TB (FAISS's
    IVFPQ): the IVF stage gates WHICH vectors are candidates (only the
    ``nprobe`` probed clusters, ~nprobe/C of the corpus), the PQ stage
    changes WHAT is scanned for them (4-byte codes + a per-query lookup
    table instead of raw float vectors). Compared to `topk_cosine_ivf`
    the candidate scan reads ~64× fewer bytes; compared to
    `topk_cosine_pq` it scores ~nprobe/C as many candidates. Both
    stages reuse the standalone operators' exact machinery, so the
    determinism story (fixed-order ADC sum, row_number tie-breaks) is
    identical.
    """
    from pyspark.sql import Window

    corpus = _corpus(embeddings)
    # == (1 % centroid_mod), not == 1: mod=1 (every vector a
    # centroid, the exactness-test degenerate) would otherwise select
    # NO centroids and silently return an empty result — the same
    # trap pq_codebook documents and guards
    centroids = corpus.filter(
        (F.col("vec_id") % centroid_mod) == (1 % centroid_mod)
    ).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    assigned = ivf_assignments(corpus, centroids).select("vec_id", "cluster_id")
    codebook = pq_codebook(corpus, m, dim, codeword_mod)
    codes = pq_encode(corpus, codebook, m, dim)

    queries = corpus.filter((F.col("vec_id") % query_mod) == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    qscore = queries.join(broadcast(centroids)).select(
        "query_id",
        "centroid_id",
        (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias(
            "ccos"
        ),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("ccos").desc(), F.col("centroid_id").asc()
    )
    probes = (
        qscore.withColumn("_pr", F.row_number().over(wq))
        .filter(F.col("_pr") <= nprobe)
        .select("query_id", F.col("centroid_id").alias("cluster_id"))
    )

    lut = _pq_query_lut(queries, codebook, m, dim)
    cand_vecs = assigned.join(broadcast(probes), "cluster_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    cand = cand_vecs.join(codes, "vec_id").join(
        broadcast(lut), ["query_id", "s", "code"]
    )
    return _adc_topk(cand, m, k)
