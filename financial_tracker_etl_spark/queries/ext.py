"""[EXT] LLM-data-pipeline queries (SURVEY.md §2.K X1-X4) over the
``documents`` and ``embeddings`` tables.

Oracle notes: every query here is oracle-checked. The hash-based
variants (MinHash/SimHash) use md5 — present verbatim in DuckDB — and
the LSH/IVF variants use literal hyperplane weights / modular centroid
selection, so their oracles replicate the exact candidate generation.
The round-1 xxhash64 family had no DuckDB twin and left 4 queries
rows-only. Approximate variants are additionally recall-tested against
their exact counterparts in tests/test_ext.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..ext.dedup import (
    minhash_near_dups,
    shingle_jaccard_pairs,
)
from ..ext.multimodal import documents_as_media, extract_features
from ..ext.similarity import (
    cosine_near_dup_pairs,
    topk_cosine_bruteforce,
    topk_cosine_ivf,
)
from ..ext.text import (
    exact_dedup,
    normalized_text,
    with_fingerprint,
    with_language_id,
    with_quality_score,
    with_token_stats,
)
from ..ext import materialize_release
from . import QuerySpec

_TOKS = "string_split(lower(trim(text)), ' ')"


def _hits_sql(words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"CAST(len(list_filter({_TOKS}, t -> t IN ({lst}))) AS INTEGER)"


# ---------------------------------------------------------------------------
# X3: token stats / quality / language-ID / fingerprint
# ---------------------------------------------------------------------------


def _q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return with_token_stats(docs).select(
        "doc_id", "n_tokens", "n_unique_tokens", "n_chars_norm", "avg_token_len"
    )


_TOKEN_STATS_ORACLE = f"""
SELECT doc_id,
       CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
       CAST(len(list_distinct({_TOKS})) AS INTEGER) AS n_unique_tokens,
       CAST(length(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS INTEGER)
         AS n_chars_norm,
       round(CAST(length(replace(trim(text), ' ', '')) AS DOUBLE)
             / len({_TOKS}), 6) AS avg_token_len
FROM documents
"""


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return with_quality_score(docs).select(
        "doc_id", "stopword_ratio", "lexical_diversity", "quality_score"
    )


_EN = ("the", "a", "and", "of", "to")

_QUALITY_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len({_TOKS}) AS DOUBLE) AS n,
         CAST(len(list_filter({_TOKS}, x -> x IN ('the','a','and','of','to'))) AS DOUBLE) AS stops,
         CAST(len(list_distinct({_TOKS})) AS DOUBLE) AS uniq,
         CASE WHEN len({_TOKS}) >= 20 AND len({_TOKS}) <= 200
              THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END AS band
  FROM documents
)
SELECT doc_id,
       round(stops / n, 6) AS stopword_ratio,
       round(uniq / n, 6) AS lexical_diversity,
       round(band * (1.0 - stops / n) * (uniq / n), 6) AS quality_score
FROM t
"""


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return with_language_id(docs).select("doc_id", "lang", "lang_pred")


_LANG_ORACLE = f"""
WITH h AS (
  SELECT doc_id, lang,
         {_hits_sql(('der', 'die', 'das', 'und', 'ist'))} AS de,
         {_hits_sql(('the', 'a', 'and', 'of', 'to'))} AS en,
         {_hits_sql(('el', 'la', 'de', 'y', 'que'))} AS es,
         {_hits_sql(('le', 'les', 'et', 'des', 'un'))} AS fr
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN de >= en AND de >= es AND de >= fr THEN 'de'
            WHEN en >= es AND en >= fr THEN 'en'
            WHEN es >= fr THEN 'es'
            ELSE 'fr' END AS lang_pred
FROM h
"""


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return with_fingerprint(docs).select("doc_id", "fingerprint")


_FINGERPRINT_ORACLE = """
SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""


# ---------------------------------------------------------------------------
# X1: exact dedup on a normalized-prefix content key
# ---------------------------------------------------------------------------


def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    key = F.substring(normalized_text(F.col("text")), 1, 60)
    return exact_dedup(docs, key).select("doc_id", "dedup_key", "n_duplicates")


_DEDUP_ORACLE = """
SELECT min(doc_id) AS doc_id,
       substr(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), 1, 60) AS dedup_key,
       count(*) AS n_duplicates
FROM documents
GROUP BY dedup_key
"""


# ---------------------------------------------------------------------------
# X1/X2: near-dup — exact shingle Jaccard (oracle) + MinHash/SimHash
# ---------------------------------------------------------------------------


def _q_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return shingle_jaccard_pairs(docs).filter(F.col("jaccard") >= 0.4)


_JACCARD_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(t) >= 3
                THEN list_transform(range(1, len(t) - 1),
                       i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
                ELSE [] END)) AS shingle
  FROM toks
),
counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc1, doc2, common,
       round(CAST(common AS DOUBLE) / (ca.n + cb.n - common), 6) AS jaccard
FROM pairs
JOIN counts ca ON doc1 = ca.doc_id
JOIN counts cb ON doc2 = cb.doc_id
WHERE CAST(common AS DOUBLE) / (ca.n + cb.n - common) >= 0.4
"""


def _q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_near_dups(docs)


_SHINGLES_CTE = """
toks AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(t) >= 3
                THEN list_transform(range(1, len(t) - 1),
                       i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
                ELSE [] END)) AS shingle
  FROM toks
)"""


def _minhash_oracle(k: int = 32, bands: int = 8, threshold: float = 0.4) -> str:
    """DuckDB twin of ext.dedup.minhash_near_dups: same affine family
    h_j = (a + j*b) mod 2^31-1 over the same single-md5 lanes, same
    banding, same exact-Jaccard verification — generated, not
    hand-kept, so k/bands stay in sync."""
    from ..ext.dedup import MINHASH_PRIME

    r = k // bands
    digests = (
        "CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT) AS a,\n"
        "         (CAST(concat('0x', substr(md5(shingle), 9, 8)) AS BIGINT) | 1) AS b"
    )
    lanes = ",\n         ".join(
        f"min((a + {j} * b) % {MINHASH_PRIME}) AS m{j}" for j in range(k)
    )
    band_rows = "\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"concat_ws(',', {', '.join(f'm{b * r + i}' for i in range(r))}) AS bucket "
        f"FROM sig"
        for b in range(bands)
    )
    return f"""
WITH {_SHINGLES_CTE.strip()},
dg AS (
  SELECT doc_id,
         {digests}
  FROM sh
),
sig AS (
  SELECT doc_id,
         {lanes}
  FROM dg GROUP BY doc_id
),
bands AS (
  {band_rows}
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
),
counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT doc1, doc2, count(*) AS common
  FROM cand
  JOIN sh a ON doc1 = a.doc_id
  JOIN sh b ON doc2 = b.doc_id AND a.shingle = b.shingle
  GROUP BY doc1, doc2
)
SELECT doc1, doc2, common,
       round(CAST(common AS DOUBLE) / (ca.n + cb.n - common), 6) AS jaccard
FROM common
JOIN counts ca ON doc1 = ca.doc_id
JOIN counts cb ON doc2 = cb.doc_id
WHERE round(CAST(common AS DOUBLE) / (ca.n + cb.n - common), 6) >= {threshold}
"""


def _simhash_oracle() -> str:
    """DuckDB twin of ext.dedup.simhash_fingerprints: same md5-top-60-
    bits token hash (CAST('0x'||hex AS BIGINT) == Spark conv(hex,16,10)),
    same one-pass bit-count aggregation and majority vote."""
    from ..ext.dedup import SIMHASH_BITS, SIMHASH_CHUNKS

    width = SIMHASH_BITS // SIMHASH_CHUNKS
    sums = ",\n         ".join(
        f"coalesce(sum((h >> {i}) & 1), 0) AS s{i}" for i in range(SIMHASH_BITS)
    )
    fp = "\n         + ".join(
        f"(CASE WHEN 2 * s{i} > n THEN (CAST(1 AS BIGINT) << {i}) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for i in range(SIMHASH_BITS)
    )
    chunks = ",\n       ".join(
        f"CAST((simhash >> {c * width}) & {(1 << width) - 1} AS BIGINT) AS chunk{c}"
        for c in range(SIMHASH_CHUNKS)
    )
    return f"""
WITH t AS (
  -- text IS NOT NULL mirrors simhash_fingerprints: a contentless doc
  -- has no fingerprint (the unnest already dropped these rows; the
  -- predicate makes the semantics explicit — round-15 fuzzer)
  SELECT doc_id,
         unnest(list_distinct(string_split(lower(trim(text)), ' '))) AS tok
  FROM documents WHERE text IS NOT NULL
),
h AS (
  SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
  FROM t
),
a AS (
  SELECT doc_id, count(h) AS n,
         {sums}
  FROM h GROUP BY doc_id
),
f AS (
  SELECT doc_id,
         {fp} AS simhash
  FROM a
)
SELECT doc_id, simhash,
       {chunks}
FROM f
"""


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash chunk-blocked near-dup pairs, exact-Hamming verified
    (ext.dedup.simhash_near_dup_pairs)."""
    from ..ext.dedup import simhash_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(docs)


def _simhash_pairs_oracle(max_hamming: int = 3) -> str:
    """All-pairs twin (exact at oracle scale): chunk blocking is
    lossless for hamming <= 3 with 4 chunks, so the blocked Spark
    result must equal this brute-force filter."""
    body = _simhash_oracle().strip()
    return f"""
WITH fp AS ({body})
SELECT a.doc_id AS doc1, b.doc_id AS doc2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the exact-Jaccard near-dup graph:
    (doc_id, cluster_id = component min). Oracle is a DuckDB recursive
    CTE computing the same transitive closure."""
    from ..ext.cluster import connected_components
    from ..partitioning import scoped_shuffle_partitions

    docs = load_table(spark, sf_dir, "documents")
    # pair generation spreads its own fan-out (doc_shingles) and is
    # materialized inside shingle_jaccard_pairs before the scope
    # opens, so its shuffles keep the session count. Only the
    # label-propagation loop runs under the count derived from the
    # corpus: the label vector is O(docs), and at the session count
    # every round would be 32 near-empty tasks.
    edges = shingle_jaccard_pairs(docs).filter(F.col("jaccard") >= 0.4)
    with scoped_shuffle_partitions(spark, docs):
        components = connected_components(edges)
    return components.select(F.col("node").alias("doc_id"), "cluster_id")


_CLUSTERS_ORACLE = """
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(t) >= 3
                THEN list_transform(range(1, len(t) - 1),
                       i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
                ELSE [] END)) AS shingle
  FROM toks
),
counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
edges AS (
  SELECT doc1, doc2 FROM pairs
  JOIN counts ca ON doc1 = ca.doc_id
  JOIN counts cb ON doc2 = cb.doc_id
  WHERE CAST(common AS DOUBLE) / (ca.n + cb.n - common) >= 0.4
),
sym AS (
  SELECT doc1 AS a, doc2 AS b FROM edges
  UNION SELECT doc2, doc1 FROM edges
),
reach(node, m) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.a, r.m FROM sym s JOIN reach r ON s.b = r.node
)
SELECT node AS doc_id, min(m) AS cluster_id FROM reach GROUP BY node
"""


# ---------------------------------------------------------------------------
# X2/X4: similarity search over embeddings
# ---------------------------------------------------------------------------


_CORPUS_CTE = """
corpus AS (
  -- DISTINCT mirrors ext.similarity._corpus: one row per
  -- (vec_id, embedding) — a duplicated ingest row must not occupy
  -- two probe slots / rank positions (round-15 fuzzer)
  SELECT DISTINCT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings WHERE embedding IS NOT NULL
)"""


def _weights_sql(plane: int, dim: int) -> str:
    from ..ext.similarity import plane_weights

    return "[" + ", ".join(repr(w) for w in plane_weights(plane, dim)) + "]"


def _bucket_sql(planes: int = 8, dim: int = 64) -> tuple[str, str]:
    """The two half-bucket sign patterns as SQL expressions over ``v``,
    embedding the SAME literal hyperplane weights the Spark plan inlines
    (ext.similarity.plane_weights) — bucket assignment is therefore
    engine-independent by construction."""

    def sign(p: int) -> str:
        return (
            f"(CASE WHEN list_dot_product(v, {_weights_sql(p, dim)}) >= 0 "
            f"THEN '1' ELSE '0' END)"
        )

    half = planes // 2
    b0 = "concat(" + ", ".join(sign(p) for p in range(half)) + ")"
    b1 = "concat(" + ", ".join(sign(p) for p in range(half, planes)) + ")"
    return b0, b1


def _q_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(emb, threshold=0.35)


def _cosine_pairs_oracle(threshold: float = 0.35) -> str:
    b0, b1 = _bucket_sql()
    return f"""
WITH {_CORPUS_CTE.strip()},
b AS (SELECT vec_id, v, nrm, {b0} AS b0, {b1} AS b1 FROM corpus),
cand AS (
  SELECT x.vec_id AS vec1, y.vec_id AS vec2
  FROM b x JOIN b y ON x.b0 = y.b0 AND x.vec_id < y.vec_id
  UNION
  SELECT x.vec_id, y.vec_id
  FROM b x JOIN b y ON x.b1 = y.b1 AND x.vec_id < y.vec_id
)
SELECT vec1, vec2, round(cosine, 6) AS cosine FROM (
  SELECT vec1, vec2,
         list_dot_product(a.v, c.v) / (a.nrm * c.nrm) AS cosine
  FROM cand JOIN b a ON vec1 = a.vec_id JOIN b c ON vec2 = c.vec_id
) WHERE cosine >= {threshold}
"""


def _q_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return topk_cosine_bruteforce(emb)


_TOPK_ORACLE = """
WITH corpus AS (
  -- DISTINCT mirrors ext.similarity._corpus (round-15 fuzzer): one
  -- row per (vec_id, embedding), so a duplicated ingest row can't
  -- fill two of the top-k rank slots
  SELECT DISTINCT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings WHERE embedding IS NOT NULL
),
queries AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM corpus WHERE vec_id % 97 = 0
),
scored AS (
  SELECT query_id, c.vec_id AS neighbor_id,
         list_dot_product(qv, c.v) / (qn * c.nrm) AS cosine
  FROM corpus c CROSS JOIN queries
  WHERE c.vec_id <> query_id
)
SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 10
"""


def _q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return topk_cosine_ivf(emb)


def _ann_ivf_oracle(
    query_mod: int = 97, k: int = 10, centroid_mod: int = 23, nprobe: int = 4
) -> str:
    """DuckDB twin of ext.similarity.topk_cosine_ivf: same modular
    centroid selection, same (cosine DESC, centroid_id ASC) assignment
    and probe ordering — no hashing involved, pure SQL."""
    return f"""
WITH {_CORPUS_CTE.strip()},
cent AS (
  SELECT vec_id AS centroid_id, v AS cv, nrm AS cn
  FROM corpus WHERE vec_id % {centroid_mod} = 1
),
asg AS (
  SELECT vec_id, v, nrm, centroid_id FROM (
    SELECT c.vec_id, c.v, c.nrm, cent.centroid_id,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY list_dot_product(c.v, cent.cv) / (c.nrm * cent.cn) DESC,
                      cent.centroid_id ASC) AS rn
    FROM corpus c CROSS JOIN cent
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn
  FROM corpus WHERE vec_id % {query_mod} = 0
),
probes AS (
  SELECT query_id, qv, qn, centroid_id AS cluster_id FROM (
    SELECT q.query_id, q.qv, q.qn, cent.centroid_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY list_dot_product(q.qv, cent.cv) / (q.qn * cent.cn) DESC,
                      cent.centroid_id ASC) AS pr
    FROM q CROSS JOIN cent
  ) WHERE pr <= {nprobe}
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         list_dot_product(p.qv, a.v) / (p.qn * a.nrm) AS cosine
  FROM asg a JOIN probes p
    ON a.centroid_id = p.cluster_id AND a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def _q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.similarity import topk_cosine_pq

    emb = load_table(spark, sf_dir, "embeddings")
    return topk_cosine_pq(emb)


def _ann_pq_oracle(
    query_mod: int = 97, k: int = 10, m: int = 4, dim: int = 64,
    codeword_mod: int = 31,
) -> str:
    """DuckDB twin of ext.similarity.topk_cosine_pq: same deterministic
    codeword sample, same argmin encode (squared-L2 with the constant
    dot(sub,sub) dropped), same fixed-order p0+p1+p2+p3 ADC sum."""
    sub = dim // m
    padd = "((p0 + p1) + p2) + p3" if m == 4 else " + ".join(
        f"p{s}" for s in range(m)
    )
    pcols = ", ".join(
        f"max(CASE WHEN c.s = {s} THEN partial END) AS p{s}" for s in range(m)
    )
    return f"""
WITH {_CORPUS_CTE.strip()},
u AS (
  SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM corpus
),
ss AS (SELECT unnest(range({m})) AS s),
cb AS (
  SELECT ss.s, u.vec_id AS code_id,
         list_slice(u.u, ss.s*{sub}+1, ss.s*{sub}+{sub}) AS cw
  FROM u CROSS JOIN ss WHERE u.vec_id % {codeword_mod} = {1 % codeword_mod}
),
subv AS (
  SELECT u.vec_id, ss.s,
         list_slice(u.u, ss.s*{sub}+1, ss.s*{sub}+{sub}) AS subv
  FROM u CROSS JOIN ss
),
codes AS (
  SELECT vec_id, s, code FROM (
    SELECT subv.vec_id, subv.s, cb.code_id AS code,
           row_number() OVER (
             PARTITION BY subv.vec_id, subv.s
             ORDER BY -2 * list_dot_product(subv.subv, cb.cw)
                      + list_dot_product(cb.cw, cb.cw) ASC,
                      cb.code_id ASC) AS rn
    FROM subv JOIN cb ON subv.s = cb.s
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, u AS uq FROM u WHERE vec_id % {query_mod} = 0),
lut AS (
  SELECT q.query_id, cb.s, cb.code_id AS code,
         list_dot_product(
           list_slice(q.uq, cb.s*{sub}+1, cb.s*{sub}+{sub}), cb.cw) AS partial
  FROM q CROSS JOIN cb
),
pairs AS (
  SELECT l.query_id, c.vec_id, {pcols}
  FROM codes c JOIN lut l ON c.s = l.s AND c.code = l.code
  WHERE c.vec_id <> l.query_id
  GROUP BY l.query_id, c.vec_id
)
SELECT query_id, neighbor_id, rank, round(adc, 6) AS adc
FROM (
  SELECT query_id, vec_id AS neighbor_id, {padd} AS adc,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY {padd} DESC, vec_id ASC) AS rank
  FROM pairs
) WHERE rank <= {k}
"""


def _q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.similarity import topk_cosine_ivfpq

    emb = load_table(spark, sf_dir, "embeddings")
    return topk_cosine_ivfpq(emb)


def _ann_ivfpq_oracle(
    query_mod: int = 97, k: int = 10, centroid_mod: int = 23, nprobe: int = 4,
    m: int = 4, dim: int = 64, codeword_mod: int = 31,
) -> str:
    """DuckDB twin of ext.similarity.topk_cosine_ivfpq: the IVF oracle's
    cluster assignment/probing composed with the PQ oracle's codebook/
    codes/LUT, candidates = probed clusters only, fixed-order ADC sum."""
    sub = dim // m
    padd = "((p0 + p1) + p2) + p3" if m == 4 else " + ".join(
        f"p{s}" for s in range(m)
    )
    pcols = ", ".join(
        f"max(CASE WHEN c.s = {s} THEN partial END) AS p{s}" for s in range(m)
    )
    return f"""
WITH {_CORPUS_CTE.strip()},
cent AS (
  SELECT vec_id AS centroid_id, v AS cv, nrm AS cn
  FROM corpus WHERE vec_id % {centroid_mod} = 1
),
asg AS (
  SELECT vec_id, centroid_id AS cluster_id FROM (
    SELECT c.vec_id, cent.centroid_id,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY list_dot_product(c.v, cent.cv) / (c.nrm * cent.cn) DESC,
                      cent.centroid_id ASC) AS rn
    FROM corpus c CROSS JOIN cent
  ) WHERE rn = 1
),
u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM corpus),
ss AS (SELECT unnest(range({m})) AS s),
cb AS (
  SELECT ss.s, u.vec_id AS code_id,
         list_slice(u.u, ss.s*{sub}+1, ss.s*{sub}+{sub}) AS cw
  FROM u CROSS JOIN ss WHERE u.vec_id % {codeword_mod} = {1 % codeword_mod}
),
subv AS (
  SELECT u.vec_id, ss.s,
         list_slice(u.u, ss.s*{sub}+1, ss.s*{sub}+{sub}) AS subv
  FROM u CROSS JOIN ss
),
codes AS (
  SELECT vec_id, s, code FROM (
    SELECT subv.vec_id, subv.s, cb.code_id AS code,
           row_number() OVER (
             PARTITION BY subv.vec_id, subv.s
             ORDER BY -2 * list_dot_product(subv.subv, cb.cw)
                      + list_dot_product(cb.cw, cb.cw) ASC,
                      cb.code_id ASC) AS rn
    FROM subv JOIN cb ON subv.s = cb.s
  ) WHERE rn = 1
),
q AS (
  SELECT c.vec_id AS query_id, c.v AS qv, c.nrm AS qn, u.u AS uq
  FROM corpus c JOIN u ON u.vec_id = c.vec_id
  WHERE c.vec_id % {query_mod} = 0
),
probes AS (
  SELECT query_id, centroid_id AS cluster_id FROM (
    SELECT q.query_id, cent.centroid_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY list_dot_product(q.qv, cent.cv) / (q.qn * cent.cn) DESC,
                      cent.centroid_id ASC) AS pr
    FROM q CROSS JOIN cent
  ) WHERE pr <= {nprobe}
),
lut AS (
  SELECT q.query_id, cb.s, cb.code_id AS code,
         list_dot_product(
           list_slice(q.uq, cb.s*{sub}+1, cb.s*{sub}+{sub}), cw) AS partial
  FROM q CROSS JOIN cb
),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM asg a JOIN probes p ON a.cluster_id = p.cluster_id
  WHERE a.vec_id <> p.query_id
),
pairs AS (
  SELECT cd.query_id, cd.vec_id, {pcols}
  FROM cand cd
  JOIN codes c ON c.vec_id = cd.vec_id
  JOIN lut l ON l.query_id = cd.query_id AND l.s = c.s AND l.code = c.code
  GROUP BY cd.query_id, cd.vec_id
)
SELECT query_id, neighbor_id, rank, round(adc, 6) AS adc
FROM (
  SELECT query_id, vec_id AS neighbor_id, {padd} AS adc,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY {padd} DESC, vec_id ASC) AS rank
  FROM pairs
) WHERE rank <= {k}
"""


_PCT_HASH_SQL = (
    "CAST(concat('0x', substr(md5(CAST({x} AS VARCHAR)), 1, 8)) AS BIGINT) % {m}"
)


def _q_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimates for the corpus's true
    top-20 tokens, next to the exact counts (est >= true always; the
    gap is the collision error the sketch trades for constant memory).
    Completes the sketch family: HLL (distincts), Bloom (membership),
    CMS (frequencies)."""
    from ..ext.sketches import cms_estimate, cms_sketch

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("token")
    )
    sketch = cms_sketch(toks)
    top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .orderBy(F.col("true_count").desc(), F.col("token").asc())
        .limit(20)
    )
    est = cms_estimate(sketch, top.select("token"))
    return top.join(est, top["token"] == est["k"]).select(
        "token", "true_count", "cms_est"
    )


_CMS_HASH_SQL = (
    "CAST(concat('0x', substr(md5(concat_ws('#', CAST(lane AS VARCHAR), "
    "token)), 1, 8)) AS BIGINT) % 512"
)

_CMS_ORACLE = f"""
WITH toks AS (
  SELECT unnest(string_split(lower(trim(text)), ' ')) AS token FROM documents
),
lanes AS (SELECT unnest(range(4)) AS lane),
cells AS (
  SELECT lane, {_CMS_HASH_SQL} AS bucket FROM toks CROSS JOIN lanes
),
sketch AS (
  SELECT lane, bucket, count(*) AS cell_count FROM cells GROUP BY lane, bucket
),
top AS (
  SELECT token, count(*) AS true_count FROM toks GROUP BY token
  ORDER BY true_count DESC, token ASC LIMIT 20
),
probe AS (
  SELECT token, lane, {_CMS_HASH_SQL} AS bucket FROM top CROSS JOIN lanes
),
est AS (
  SELECT token, CAST(min(coalesce(cell_count, 0)) AS BIGINT) AS cms_est
  FROM probe LEFT JOIN sketch USING (lane, bucket) GROUP BY token
)
SELECT t.token, CAST(t.true_count AS BIGINT) AS true_count, e.cms_est
FROM top t JOIN est e USING (token)
"""


def _q_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.sampling import pps_systematic_sample

    docs = load_table(spark, sf_dir, "documents")
    return pps_systematic_sample(docs)


# the oracle states the SEMANTICS with a plain global window — integer
# arithmetic makes it value-identical to the engine's two-pass sharded
# prefix sum, which exists purely for plan shape (no global sort)
_PPS_ORACLE = """
WITH cum AS (
  SELECT doc_id, n_chars AS weight,
         sum(n_chars) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w
  FROM documents
),
t AS (SELECT greatest(1, CAST(sum(n_chars) // 100 AS BIGINT)) AS step FROM documents)
SELECT doc_id, weight, CAST(cum_w AS BIGINT) AS cum_w
FROM cum CROSS JOIN t
WHERE (cum_w // step) > ((cum_w - weight) // step)
"""


def _q_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.sampling import shard_assignments

    docs = load_table(spark, sf_dir, "documents")
    return shard_assignments(docs)


_SHARDS_ORACLE = f"""
WITH h AS (
  SELECT doc_id, n_chars AS weight,
         {_PCT_HASH_SQL.format(x='doc_id', m=1_000_000_007)} AS h
  FROM documents
),
s AS (SELECT doc_id, weight, h, CAST(h % 16 AS INTEGER) AS shard_id FROM h)
SELECT doc_id, shard_id,
       CAST(row_number() OVER (PARTITION BY shard_id ORDER BY h, doc_id)
            AS BIGINT) AS shard_pos,
       weight
FROM s
"""


def _q_stratum_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.sampling import per_stratum_top_n

    docs = load_table(spark, sf_dir, "documents")
    return per_stratum_top_n(docs)


_STRATUM_TOPN_ORACLE = f"""
SELECT doc_id, lang, sample_rank FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY {_PCT_HASH_SQL.format(x='doc_id', m=1_000_000_007)} ASC,
                    doc_id ASC) AS sample_rank
  FROM documents
) WHERE sample_rank <= 50
"""


def _q_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-3 curation composition, end to end: substring-level dedup
    stats gate the corpus (drop docs that are mostly repeated spans),
    the survivors are PPS-sampled by length, and the sample is laid out
    into deterministic training shards — the full reduce-select-write
    chain a production corpus pass runs, each stage an already-oracled
    operator. Output: per-shard document count and total weight."""
    from ..ext.chunking import duplicate_span_stats
    from ..ext.sampling import pps_systematic_sample, shard_assignments

    docs = load_table(spark, sf_dir, "documents")
    spans = duplicate_span_stats(docs)
    # span stats are per document INSTANCE since the round-16
    # instance-key fix (duplicate doc_ids can carry different texts
    # under fuzz); the curation gate decides per doc_id: drop the id
    # if ANY instance is mostly repeated spans (max over instances),
    # which also dedups `keep` so the survivor join cannot fan out.
    # Identity on unique-id pristine input.
    keep = (
        spans.groupBy("doc_id")
        .agg(F.max("dup_ppm").alias("_mx"))
        .filter(F.col("_mx") < 500_000)
        .select("doc_id")
    )
    survivors = docs.join(keep, "doc_id")
    # shard the SAMPLED rows directly (they already carry doc_id +
    # weight) instead of re-joining onto documents: re-joining
    # multiplied a sampled doc by its duplicate count, diverging from
    # the oracle's `FROM sampled` whenever doc_id rows are duplicated
    # (round-15 fuzzed differential) — and one fewer join besides
    sampled = pps_systematic_sample(survivors, n_select=50).select(
        "doc_id", "weight"
    )
    sharded = shard_assignments(sampled, n_shards=8, token_col="weight")
    return sharded.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("weight").alias("total_weight"),
        F.max("shard_pos").alias("max_pos"),
    )


def _curation_v2_oracle(n: int = 8) -> str:
    span_cte = _dup_spans_oracle(n).strip().removeprefix("WITH ")
    # reuse the span oracle's CTE chain, rename its SELECT into a CTE
    return f"""
WITH {span_cte.rsplit("SELECT t.doc_id", 1)[0].rstrip()},
span_stats AS (
  -- per INSTANCE (doc_id, tkey), mirroring the round-16 Spark fix
  SELECT t.doc_id,
         CAST(floor(1000000 * coalesce(p.dup_tokens, 0) / t.n_tokens)
              AS BIGINT) AS dup_ppm
  FROM totals t LEFT JOIN per_doc p USING (doc_id, tkey)
),
keep AS (
  -- drop the id if ANY instance is mostly repeated spans; also dedups
  -- the key so the survivor join cannot fan out on duplicate ids
  SELECT doc_id FROM span_stats GROUP BY doc_id
  HAVING max(dup_ppm) < 500000
),
survivors AS (
  SELECT d.doc_id, d.n_chars FROM documents d
  JOIN keep USING (doc_id)
),
cum AS (
  SELECT doc_id, n_chars AS weight,
         sum(n_chars) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w
  FROM survivors
),
st AS (SELECT greatest(1, CAST(sum(n_chars) // 50 AS BIGINT)) AS step
       FROM survivors),
sampled AS (
  SELECT doc_id, weight FROM cum CROSS JOIN st
  WHERE (cum_w // step) > ((cum_w - weight) // step)
),
sh AS (
  SELECT doc_id, weight,
         CAST({_PCT_HASH_SQL.format(x='doc_id', m=1_000_000_007)} % 8
              AS INTEGER) AS shard_id,
         {_PCT_HASH_SQL.format(x='doc_id', m=1_000_000_007)} AS h
  FROM sampled
),
ranked AS (
  SELECT shard_id, weight,
         row_number() OVER (PARTITION BY shard_id ORDER BY h, doc_id)
           AS shard_pos
  FROM sh
)
SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(weight) AS BIGINT) AS total_weight,
       CAST(max(shard_pos) AS BIGINT) AS max_pos
FROM ranked GROUP BY shard_id
"""


def _q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.chunking import duplicate_span_stats

    docs = load_table(spark, sf_dir, "documents")
    return duplicate_span_stats(docs)


def _dup_spans_oracle(n: int = 8) -> str:
    """DuckDB twin of ext.chunking.duplicate_span_stats: same lead-window
    grams, same global md5-count dup predicate, same running-max
    interval merge."""
    leads = ", ".join(f"lead(tok, {i}) OVER w" for i in range(1, n))
    return f"""
WITH arrs AS (
  -- tkey mirrors the Spark instance key: duplicate doc_ids with
  -- different texts get their own deterministic gram stream
  SELECT doc_id, md5(coalesce(text, '')) AS tkey,
         string_split(lower(trim(text)), ' ') AS arr
  FROM documents
),
toks AS (
  SELECT doc_id, tkey, unnest(range(len(arr))) AS pos, unnest(arr) AS tok
  FROM arrs
),
grams AS (
  SELECT doc_id, tkey, pos, md5(concat_ws(' ', tok, {leads})) AS ghash,
         lead(tok, {n - 1}) OVER w AS _last
  FROM toks
  WINDOW w AS (PARTITION BY doc_id, tkey ORDER BY pos)
),
g AS (SELECT doc_id, tkey, pos, ghash FROM grams WHERE _last IS NOT NULL),
dup AS (SELECT ghash FROM g GROUP BY ghash HAVING count(*) > 1),
dup_pos AS (SELECT doc_id, tkey, pos FROM g JOIN dup USING (ghash)),
islanded AS (
  SELECT doc_id, tkey, pos,
         sum(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id, tkey ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM (
    SELECT doc_id, tkey, pos,
           max(pos + {n - 1}) OVER (PARTITION BY doc_id, tkey ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
    FROM dup_pos
  )
),
spans AS (
  SELECT doc_id, tkey, island, min(pos) AS span_start,
         max(pos) + {n - 1} AS span_end
  FROM islanded GROUP BY doc_id, tkey, island
),
per_doc AS (
  SELECT doc_id, tkey, count(*) AS n_dup_spans,
         sum(span_end - span_start + 1) AS dup_tokens
  FROM spans GROUP BY doc_id, tkey
),
totals AS (
  SELECT doc_id, md5(coalesce(text, '')) AS tkey,
         len(string_split(lower(trim(text)), ' ')) AS n_tokens
  FROM documents
)
SELECT t.doc_id, t.n_tokens,
       CAST(coalesce(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CAST(floor(1000000 * coalesce(p.dup_tokens, 0) / t.n_tokens) AS BIGINT)
         AS dup_ppm
FROM totals t LEFT JOIN per_doc p USING (doc_id, tkey)
"""


# ---------------------------------------------------------------------------
# Corpus assembly: data mixing, sequence packing, vocabulary, splits
# (ext/sampling.py)
# ---------------------------------------------------------------------------

_MIX_RATES = {"en": 0.5, "de": 1.0, "es": 0.25, "fr": 0.25, "zh": 0.1}


def _q_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language mixing rates — upsample de, keep half
    of en, thin the rest (ext.sampling.stratified_sample)."""
    from ..ext.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    out = stratified_sample(docs, "lang", _MIX_RATES)
    return out.select(
        "doc_id", "lang", F.col("_keep_rate").alias("keep_rate")
    )


def _stratified_oracle() -> str:
    cases = " ".join(
        f"WHEN '{s}' THEN CAST({r} AS DOUBLE)" for s, r in _MIX_RATES.items()
    )
    coin = _PCT_HASH_SQL.format(x="doc_id", m=10_000)
    return f"""
WITH t AS (
  SELECT doc_id, lang,
         CASE lang {cases} ELSE CAST(0.0 AS DOUBLE) END AS keep_rate,
         {coin} AS coin
  FROM documents
)
SELECT doc_id, lang, keep_rate FROM t WHERE coin < keep_rate * 10000
"""


def _q_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing plan over whitespace token counts
    (ext.sampling.pack_sequences)."""
    from ..ext.sampling import pack_sequences
    from ..ext.text import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    with_counts = docs.select(
        "doc_id",
        F.size(tokens_col(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return pack_sequences(with_counts, "n_tokens")


_PACKING_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
s AS (
  SELECT doc_id, n_tokens,
         {_PCT_HASH_SQL.format(x="doc_id", m=8)} AS shard
  FROM t
),
o AS (
  SELECT doc_id, n_tokens, shard,
         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
         - n_tokens AS stream_offset
  FROM s
)
SELECT doc_id, n_tokens, shard,
       CAST(floor(stream_offset / 512) AS BIGINT) AS seq_id,
       stream_offset % 512 AS seq_offset
FROM o
"""


def _q_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment: the split coin is
    flipped per near-dup CLUSTER (ext.cluster.connected_components over
    jaccard>=0.4 edges), so near-duplicates can never straddle splits
    (ext.sampling.leakage_safe_splits)."""
    from ..ext.cluster import connected_components
    from ..ext.sampling import leakage_safe_splits
    from ..partitioning import scoped_shuffle_partitions

    docs = load_table(spark, sf_dir, "documents")
    # as in _q_dedup_clusters: the pairs materialize (with their
    # fan-out spread by doc_shingles) before the scope opens, and only
    # the O(docs) label-propagation loop runs under the count derived
    # from the corpus
    edges = shingle_jaccard_pairs(docs).filter(F.col("jaccard") >= 0.4)
    with scoped_shuffle_partitions(spark, docs):
        clusters = connected_components(edges).select(
            F.col("node").alias("doc_id"), "cluster_id"
        )
    return leakage_safe_splits(docs, clusters)


def _splits_oracle(val_pct: int = 5, test_pct: int = 5) -> str:
    # reuse the recursive-CTE cluster oracle, then the per-cluster coin
    coin = _PCT_HASH_SQL.format(
        x="coalesce(c.cluster_id, d.doc_id)", m=100
    )
    body = _CLUSTERS_ORACLE.strip().removesuffix(
        "SELECT node AS doc_id, min(m) AS cluster_id FROM reach GROUP BY node"
    )
    return f"""
{body}
, clusters AS (
  SELECT node AS doc_id, min(m) AS cluster_id FROM reach GROUP BY node
)
SELECT d.doc_id,
       coalesce(c.cluster_id, d.doc_id) AS cluster_id,
       CASE WHEN {coin} < {val_pct} THEN 'val'
            WHEN {coin} < {val_pct + test_pct} THEN 'test'
            ELSE 'train' END AS split
FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
"""


# ---------------------------------------------------------------------------
# Multimodal plumbing: binary column -> mapInPandas feature extraction
# ---------------------------------------------------------------------------


def _q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return extract_features(documents_as_media(docs))


_MULTIMODAL_ORACLE = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       -- -1 is the decoder's documented empty-payload sentinel
       -- (payload[0] does not exist); DuckDB's ascii('') folds to 0,
       -- which would invent a NUL first byte (round-15 fuzzer,
       -- empty-string class). The decoder reads the first BYTE of the
       -- UTF-8 payload, not the first code point — ascii()/unicode()
       -- return the code point, which diverges on any multibyte lead
       -- char (round-16 fuzzer, unicode class: 👩 is byte 0xF0=240,
       -- not U+1F469=128105), so the lead byte is derived from the
       -- code point via the UTF-8 length-prefix arithmetic.
       CAST(CASE WHEN octet_length(encode(text)) = 0 THEN -1
                 WHEN unicode(text) < 128 THEN unicode(text)
                 WHEN unicode(text) < 2048 THEN 192 + (unicode(text) // 64)
                 WHEN unicode(text) < 65536 THEN 224 + (unicode(text) // 4096)
                 ELSE 240 + (unicode(text) // 262144) END AS INTEGER)
         AS first_byte,
       CAST(octet_length(encode(text)) % 64 + 1 AS INTEGER) AS fake_width,
       CAST(octet_length(encode(text)) // 64 + 1 AS INTEGER) AS fake_height
FROM documents
"""


# ---------------------------------------------------------------------------
# Corpus quality & safety: repetition stats, PII scrub, contamination,
# TF-IDF keywords, token-budget mixing (ext.quality / ext.sampling)
# ---------------------------------------------------------------------------


def _q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals
    (ext.quality.with_repetition_stats)."""
    from ..ext.quality import with_repetition_stats

    docs = load_table(spark, sf_dir, "documents")
    return with_repetition_stats(docs).select(
        "doc_id", "n_tokens", "dup_token_frac", "top_bigram", "top_bigram_frac"
    )


_REPETITION_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
),
b AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) >= 2
              THEN list_transform(range(1, len(toks)),
                                  i -> toks[i] || ' ' || toks[i + 1])
              ELSE CAST([] AS VARCHAR[]) END AS bigrams
  FROM t
),
m AS (
  SELECT doc_id, toks, bigrams,
         CASE WHEN len(bigrams) >= 1
              THEN list_aggregate(
                     list_transform(list_distinct(bigrams),
                       g -> len(list_filter(bigrams, x -> x = g))), 'max')
              END AS max_cnt
  FROM b
)
SELECT doc_id,
       CAST(len(toks) AS INTEGER) AS n_tokens,
       round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
                   / CAST(len(toks) AS DOUBLE), 6) AS dup_token_frac,
       CASE WHEN len(bigrams) >= 1
            THEN list_aggregate(
                   list_filter(list_distinct(bigrams),
                     g -> len(list_filter(bigrams, x -> x = g)) = max_cnt),
                   'min')
            END AS top_bigram,
       CASE WHEN len(bigrams) >= 1
            THEN round(CAST(max_cnt AS DOUBLE)
                       / CAST(len(bigrams) AS DOUBLE), 6)
            END AS top_bigram_frac
FROM m
"""


def _q_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass (ext.quality.with_pii_scrub). The synthetic
    corpus carries no PII, so the oracle proves cross-engine regex
    parity; tests/test_ext.py proves the redaction on rows that DO
    contain emails/phones."""
    from ..ext.quality import with_pii_scrub

    docs = load_table(spark, sf_dir, "documents")
    return with_pii_scrub(docs).select(
        "doc_id", "n_emails", "n_phones", "text_scrubbed"
    )


def _pii_oracle() -> str:
    from ..ext.quality import EMAIL_RE, PHONE_RE

    return f"""
WITH e AS (
  SELECT doc_id, text,
         regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g') AS email_scrubbed
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(email_scrubbed, '{PHONE_RE}')) AS INTEGER)
         AS n_phones,
       regexp_replace(email_scrubbed, '{PHONE_RE}', '<PHONE>', 'g')
         AS text_scrubbed
FROM e
"""


def _q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: corpus docs sharing 5-token
    shingles with the held-out 'benchmark' slice (doc_id % 10 = 3)
    (ext.quality.contamination_check)."""
    from ..ext.quality import contamination_check

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 3)
    corpus = docs.filter(F.col("doc_id") % 10 != 3)
    return contamination_check(corpus, bench)


_CONTAMINATION_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 3),
           i -> array_to_string(list_slice(toks, i, i + 4), ' '))) AS shingles
  FROM t WHERE len(toks) >= 5
),
bench AS (
  SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE doc_id % 10 = 3
),
corpus AS (
  SELECT doc_id, CAST(len(shingles) AS INTEGER) AS n_shingles,
         unnest(shingles) AS shingle
  FROM sh WHERE doc_id % 10 <> 3
)
SELECT c.doc_id, c.n_shingles,
       count(*) AS n_contaminated,
       round(CAST(count(*) AS DOUBLE) / CAST(c.n_shingles AS DOUBLE), 6)
         AS contaminated_frac
FROM corpus c JOIN bench b ON c.shingle = b.shingle
GROUP BY c.doc_id, c.n_shingles
"""


def _q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per doc, integer-exact TF-IDF-shaped
    score (ext.quality.tfidf_top_terms)."""
    from ..ext.quality import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=3)


_TFIDF_ORACLE = f"""
WITH terms AS (
  SELECT doc_id, unnest({_TOKS}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS doc_freq FROM terms GROUP BY term
),
scored AS (
  SELECT doc_id, t.term, tf, doc_freq,
         CAST(tf * 1000000 // (doc_freq + 1) AS BIGINT) AS score_ppm
  FROM tf t JOIN dfreq d ON t.term = d.term
),
r AS (
  SELECT *, row_number() OVER (
           PARTITION BY doc_id ORDER BY score_ppm DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, term, tf, doc_freq, score_ppm, CAST(rank AS INTEGER) AS rank
FROM r WHERE rank <= 3
"""


_MIX_WEIGHTS = {
    "src0": 0.3,
    "src1": 0.25,
    "src2": 0.2,
    "src3": 0.15,
    "src4": 0.1,
}


def _q_token_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture assembly, summarized per source
    (ext.sampling.mix_by_token_budget)."""
    from ..ext.sampling import mix_by_token_budget
    from ..ext.text import tokens_col

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(tokens_col(F.col("text"))).cast("long").alias("n_tokens"),
    )
    kept = mix_by_token_budget(docs, _MIX_WEIGHTS, "n_tokens")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tokens").alias("tokens_kept"),
        F.floor(F.min("_keep_rate") * 1_000_000).cast("long").alias("rate_ppm"),
    )


def _token_mix_oracle() -> str:
    values = ", ".join(
        f"('{s}', CAST({w} AS DOUBLE))" for s, w in sorted(_MIX_WEIGHTS.items())
    )
    coin = _PCT_HASH_SQL.format(x="doc_id", m=10_000)
    return f"""
WITH d AS (
  SELECT doc_id, source,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
),
w AS (SELECT * FROM (VALUES {values}) AS t(source, wt)),
totals AS (
  SELECT d.source, wt, sum(CAST(n_tokens AS DOUBLE)) AS src_tokens
  FROM d JOIN w ON d.source = w.source
  GROUP BY d.source, wt
  HAVING sum(CAST(n_tokens AS DOUBLE)) > 0
),
b AS (SELECT min(src_tokens / wt) AS budget FROM totals),
rates AS (
  SELECT source, wt * budget / src_tokens AS keep_rate
  FROM totals CROSS JOIN b
),
kept AS (
  SELECT d.doc_id, d.source, d.n_tokens, r.keep_rate
  FROM d JOIN rates r ON d.source = r.source
  WHERE {coin} < keep_rate * 10000
)
SELECT source,
       count(*) AS n_kept,
       CAST(sum(n_tokens) AS BIGINT) AS tokens_kept,
       CAST(floor(min(keep_rate) * 1000000) AS BIGINT) AS rate_ppm
FROM kept GROUP BY source
"""


# ---------------------------------------------------------------------------
# K-means building blocks over the embeddings table
# ---------------------------------------------------------------------------


def _q_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label element-wise mean vectors
    (ext.similarity.label_centroids)."""
    from ..ext.similarity import label_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    return label_centroids(emb)


_PV_SQL = """
  SELECT vec_id, label,
         generate_subscripts(embedding, 1) - 1 AS pos,
         unnest(embedding) AS val
  FROM embeddings
"""

_CENTROIDS_ORACLE = f"""
WITH pv AS ({_PV_SQL})
SELECT label, pos,
       round(CAST(sum(CAST(CAST(val AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE)
             / count(*), 6) AS centroid
FROM pv GROUP BY label, pos
"""


def _q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means E-step: nearest per-label centroid by squared L2
    (ext.similarity.kmeans_assign)."""
    from ..ext.similarity import kmeans_assign, label_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, label_centroids(emb))


_KMEANS_ASSIGN_ORACLE = f"""
WITH pv AS ({_PV_SQL}),
cent AS (
  SELECT label, pos,
         round(CAST(sum(CAST(CAST(val AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE)
               / count(*), 6) AS centroid
  FROM pv GROUP BY label, pos
),
terms AS (
  SELECT pv.vec_id, c.label AS clabel,
         CAST((CAST(pv.val AS DOUBLE) - c.centroid)
              * (CAST(pv.val AS DOUBLE) - c.centroid)
              AS DECIMAL(20,18)) AS term
  FROM pv JOIN cent c ON pv.pos = c.pos
),
dists AS (
  SELECT vec_id, clabel, sum(term) AS dist FROM terms GROUP BY vec_id, clabel
),
r AS (
  SELECT *, row_number() OVER (
           PARTITION BY vec_id ORDER BY dist ASC, clabel ASC) AS rn
  FROM dists
)
SELECT vec_id, clabel AS assigned_label,
       round(CAST(dist AS DOUBLE), 6) AS dist
FROM r WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Flagship composition: end-to-end corpus curation pass
# ---------------------------------------------------------------------------


def _q_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pass composed from the EXT operators:
    quality-score filter (>= 0.3) → exact dedup on the normalized-text
    md5 fingerprint (lowest doc_id survives) → per-source corpus
    budget (docs kept, whitespace tokens kept, duplicate-class mass).
    One narrow scoring pass, one dedup shuffle, one summary
    aggregation — the shape a real corpus build runs nightly."""
    from ..ext.quality import with_pii_scrub
    from ..ext.text import exact_dedup, normalized_text, tokens_col, with_quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = with_quality_score(docs).filter(F.col("quality_score") >= 0.3)
    scrubbed = with_pii_scrub(scored)  # no-op on this corpus; real pass shape
    # the summary attributes each dup class to its SURVIVOR's source,
    # so the survivor pick must total-order source too (same-doc_id
    # copies can differ in source metadata — round-15 fuzzer)
    survivors = exact_dedup(
        scrubbed,
        F.md5(normalized_text(F.col("text_scrubbed"))),
        tiebreak=[F.col("source").asc_nulls_last()],
    )
    return survivors.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum(F.size(tokens_col(F.col("text")))).alias("tokens_kept"),
        F.sum("n_duplicates").alias("dup_class_mass"),
    )


_CURATION_ORACLE = f"""
WITH q AS (
  SELECT doc_id, source, text,
         round(CASE WHEN len({_TOKS}) >= 20 AND len({_TOKS}) <= 200
                    THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END
           * (1.0 - CAST(len(list_filter({_TOKS}, x -> x IN ('the','a','and','of','to'))) AS DOUBLE)
                    / len({_TOKS}))
           * (CAST(len(list_distinct({_TOKS})) AS DOUBLE) / len({_TOKS})), 6)
           AS quality_score
  FROM documents
),
f AS (SELECT * FROM q WHERE quality_score >= 0.3),
s AS (
  SELECT *,
         regexp_replace(regexp_replace(text, '{{EMAIL}}', '<EMAIL>', 'g'),
                        '{{PHONE}}', '<PHONE>', 'g') AS text_scrubbed
  FROM f
),
d AS (
  SELECT *,
         row_number() OVER (
           PARTITION BY md5(lower(regexp_replace(trim(text_scrubbed), '\\s+', ' ', 'g')))
           ORDER BY doc_id ASC, source NULLS LAST) AS rn,
         count(*) OVER (
           PARTITION BY md5(lower(regexp_replace(trim(text_scrubbed), '\\s+', ' ', 'g')))
         ) AS n_duplicates
  FROM s
)
SELECT source,
       count(*) AS n_docs_kept,
       CAST(sum(len({_TOKS})) AS BIGINT) AS tokens_kept,
       CAST(sum(n_duplicates) AS BIGINT) AS dup_class_mass
FROM d WHERE rn = 1
GROUP BY source
"""


def _curation_oracle() -> str:
    from ..ext.quality import EMAIL_RE, PHONE_RE

    return _CURATION_ORACLE.replace("{EMAIL}", EMAIL_RE).replace(
        "{PHONE}", PHONE_RE
    )


def _q_vocab_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: for each source, the terms most
    over-represented vs the global corpus (per-mille ratio of in-source
    frequency to corpus frequency, integer-exact). The production use
    is drift detection between corpus slices/snapshots before a
    training run.

    Scale shape: the corpus explodes ONCE into the (source, term)
    count. The global term count cnt_g is a whole-partition window sum
    over the HIGH-cardinality term key (one pass, no vocabulary-sized
    broadcast — the earlier groupBy→join-back re-executed the corpus
    explode). The per-source total tot_s is the opposite case: source
    has ~tens of distinct values, so a window over it would collapse
    the vocabulary-sized table into that many tasks at scale; it is a
    |sources|-row aggregate broadcast-joined back (round-6 ADVICE
    medium; the measured counter-example is copurchase_brand_pairs,
    3.9→6.2 s when window-rewritten over a ~25-value key). To avoid a
    second corpus explode, tot_s sums token-array SIZES per source
    (sum(greatest(size(toks),0)) == sum of that source's cnt_s by
    construction — size() is -1 on NULL text, where the explode side
    contributes zero rows), and the grand total tot_g attaches to
    tot_s as an order-less global window over those |sources| rows
    (bounded post-aggregation input — NOT the unbounded-global-window
    pathology; a separate agg subtree would re-scan the corpus), so
    the corpus is scanned exactly twice.
    over_rep_ppm = cnt_s * tot_g * 1e6 div (tot_s * cnt_g) stays in
    BIGINT (overflow headroom to ~1e12-token corpora; shard the ppm
    factor for more)."""
    from ..ext.text import tokens_col
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "source", F.explode(tokens_col(F.col("text"))).alias("term")
    )
    st = terms.groupBy("source", "term").agg(F.count(F.lit(1)).alias("cnt_s"))
    tot_s = docs.groupBy("source").agg(
        F.sum(
            F.greatest(F.size(tokens_col(F.col("text"))), F.lit(0))
        ).alias("tot_s")
    ).withColumn("tot_g", F.sum("tot_s").over(Window.partitionBy()))
    scored = (
        st.withColumn(
            "cnt_g", F.sum("cnt_s").over(Window.partitionBy("term"))
        )
        .join(F.broadcast(tot_s), "source")
        .withColumn(
            # cnt_s * tot_g * 1e6 multiplies two corpus-scale counts —
            # int64 dies around 1e6-doc corpora; DECIMAL(38,0)/HUGEINT
            # widening (the brand_price_regression convention), final
            # quotient is ppm-sized so the BIGINT result is exact
            "over_rep_ppm",
            F.expr(
                "CAST(cnt_s AS DECIMAL(38,0)) * tot_g * 1000000"
                " div (CAST(tot_s AS DECIMAL(38,0)) * cnt_g)"
            ).cast("long"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.col("over_rep_ppm").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("source", "term", "cnt_s", "over_rep_ppm", "rank")
    )


_VOCAB_DIVERGENCE_ORACLE = f"""
WITH terms AS (
  SELECT source, unnest({_TOKS}) AS term FROM documents
),
st AS (SELECT source, term, count(*) AS cnt_s FROM terms GROUP BY source, term),
tot_s AS (SELECT source, CAST(sum(cnt_s) AS BIGINT) AS tot_s FROM st GROUP BY source),
cg AS (SELECT term, CAST(sum(cnt_s) AS BIGINT) AS cnt_g FROM st GROUP BY term),
tg AS (SELECT CAST(sum(cnt_s) AS BIGINT) AS tot_g FROM st),
j AS (
  SELECT st.source, st.term, cnt_s,
         CAST(CAST(cnt_s AS HUGEINT) * tot_g * 1000000
              // (CAST(tot_s AS HUGEINT) * cnt_g) AS BIGINT) AS over_rep_ppm
  FROM st JOIN tot_s USING (source) JOIN cg USING (term) CROSS JOIN tg
),
r AS (
  SELECT *, row_number() OVER (
           PARTITION BY source ORDER BY over_rep_ppm DESC, term ASC) AS rank
  FROM j
)
SELECT source, term, cnt_s, over_rep_ppm, CAST(rank AS INTEGER) AS rank
FROM r WHERE rank <= 3
"""


def _q_doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-LM surprise scoring — the LM-perplexity
    quality filter of the CCNet pipeline (Wenzek et al. 2020), with the
    LM trained on the corpus itself. The corpus explodes into its
    bigram stream ONCE; the LM statistics attach in-place as two
    whole-partition window counts ((w1,w2) pair occurrences, then w1
    occurrences — count over the bigram rows equals the old sum of
    pair_counts by construction), then one per-doc aggregation yields
    an integer-exact surprise score: surprise(w1,w2) = w1_count * 1e6
    div pair_count (inverse conditional probability, ppm). The earlier
    groupBy→broadcast-join-back formulation re-executed the explode
    three times and broadcast a VOCABULARY²-sized LM table — unbounded
    at 100 TB; the window form shuffles only the bigram stream itself.
    Integer sums/divs only — no float accumulation, so the DuckDB hash
    matches exactly."""
    from pyspark.sql import Window
    from ..ext.text import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", tokens_col(F.col("text")).alias("_toks"))
    t = F.col("_toks")
    # when()-guarded total expression: the filter alone does not
    # protect a generator input from being hoisted above the AND by
    # subexpression elimination (see quality.doc_shingle_sets) — an
    # unguarded sequence(1, size-1) goes descending for a 1-token doc
    # and element_at(t, 0) throws
    grams = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.struct(
                F.element_at(t, i.cast("int")).alias("w1"),
                F.element_at(t, (i + 1).cast("int")).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    doc_pairs = (
        toked.filter(F.size(t) >= 2)
        .select("doc_id", F.explode(grams).alias("g"))
        .select("doc_id", "g.w1", "g.w2")
    )
    enriched = (
        doc_pairs.withColumn(
            "pair_count", F.count(F.lit(1)).over(Window.partitionBy("w1", "w2"))
        )
        .withColumn(
            "w1_count", F.count(F.lit(1)).over(Window.partitionBy("w1"))
        )
        .withColumn(
            "surprise_ppm",
            F.expr("w1_count * 1000000 div pair_count").cast("long"),
        )
    )
    return (
        enriched.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("surprise_ppm").alias("_s"),
            F.max("surprise_ppm").alias("max_surprise_ppm"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.expr("_s div n_bigrams").cast("long").alias("avg_surprise_ppm"),
            "max_surprise_ppm",
        )
    )


_DOC_PERPLEXITY_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
),
pairs AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS g
  FROM t WHERE len(toks) >= 2
),
dp AS (
  SELECT doc_id, g.w1 AS w1, g.w2 AS w2 FROM pairs
),
bc AS (
  SELECT w1, w2, count(*) AS pair_count FROM dp GROUP BY w1, w2
),
w1c AS (
  SELECT w1, CAST(sum(pair_count) AS BIGINT) AS w1_count FROM bc GROUP BY w1
),
lm AS (
  SELECT bc.w1, bc.w2,
         CAST(w1_count * 1000000 // pair_count AS BIGINT) AS surprise_ppm
  FROM bc JOIN w1c ON bc.w1 = w1c.w1
)
SELECT dp.doc_id,
       count(*) AS n_bigrams,
       CAST(sum(surprise_ppm) // count(*) AS BIGINT) AS avg_surprise_ppm,
       CAST(max(surprise_ppm) AS BIGINT) AS max_surprise_ppm
FROM dp JOIN lm ON dp.w1 = lm.w1 AND dp.w2 = lm.w2
GROUP BY dp.doc_id
"""


# ---------------------------------------------------------------------------
# Span-granularity operators: token chunking, chunk-level dedup,
# winnow-overlap containment pairs, DSIR importance weights
# ---------------------------------------------------------------------------


def _q_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping token chunking (training-sequence prep;
    ext.chunking.token_chunks, chunk 32 / stride 24)."""
    from ..ext.chunking import token_chunks

    return token_chunks(load_table(spark, sf_dir, "documents"))


_TOKEN_CHUNKS_ORACLE = f"""
WITH t AS (
  -- text IS NOT NULL mirrors token_chunks: a contentless doc has no
  -- chunks (DuckDB's null-ignoring greatest/least otherwise emits a
  -- phantom start=1 row — round-15 fuzzer)
  SELECT doc_id, {_TOKS} AS toks FROM documents WHERE text IS NOT NULL
),
e AS (
  SELECT doc_id, toks,
         unnest(range(1, least(len(toks), greatest(1, len(toks) - 8)) + 1,
                      24)) AS start
  FROM t
)
SELECT doc_id,
       CAST((start - 1) // 24 AS INTEGER) AS chunk_idx,
       CAST(start AS INTEGER) AS start_token,
       CAST(len(list_slice(toks, start, start + 31)) AS INTEGER) AS n_chunk_tokens,
       md5(array_to_string(list_slice(toks, start, start + 31), ' ')) AS chunk_hash
FROM e
"""


def _q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-granularity cross-doc dedup stats
    (ext.chunking.chunk_shared_stats, disjoint 32-token chunks)."""
    from ..ext.chunking import chunk_shared_stats

    return chunk_shared_stats(load_table(spark, sf_dir, "documents"))


_CHUNK_DEDUP_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents WHERE text IS NOT NULL
),
e AS (
  SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 32)) AS start FROM t
),
c AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(toks, start, start + 31), ' ')) AS chunk_hash
  FROM e
),
h AS (
  SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs FROM c GROUP BY chunk_hash
)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN h.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared_chunks,
       CAST(1000000 * sum(CASE WHEN h.n_docs >= 2 THEN 1 ELSE 0 END)
            // count(*) AS BIGINT) AS shared_ppm
FROM c JOIN h USING (chunk_hash)
GROUP BY c.doc_id
"""


def _q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style sampled-fingerprint overlap pairs
    (ext.chunking.winnow_overlap_pairs: 16-char windows, 1/8 mod-p
    sample, ≥2 shared fingerprints)."""
    from ..ext.chunking import winnow_overlap_pairs

    return winnow_overlap_pairs(load_table(spark, sf_dir, "documents"))


_WINNOW_OVERLAP_ORACLE = r"""
WITH nrm AS (
  SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS nt
  FROM documents
),
g AS (
  SELECT doc_id, nt, unnest(range(1, length(nt) - 14)) AS i
  FROM nrm WHERE length(nt) >= 16
),
fps AS (
  SELECT DISTINCT doc_id,
         CAST(concat('0x', substr(md5(substr(nt, i, 16)), 1, 8)) AS BIGINT) AS fp
  FROM g
  WHERE CAST(concat('0x', substr(md5(substr(nt, i, 16)), 1, 8)) AS BIGINT) % 8 = 0
),
n AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp FROM fps GROUP BY doc_id
),
sh AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS shared_fps
  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING count(*) >= 2
)
SELECT doc_a, doc_b, shared_fps,
       CAST(1000000 * shared_fps // least(na.n_fp, nb.n_fp) AS BIGINT)
         AS containment_ppm
FROM sh
JOIN n na ON doc_a = na.doc_id
JOIN n nb ON doc_b = nb.doc_id
"""


def _q_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR hashed-token importance weights, target domain = lang='en'
    (ext.sampling.dsir_importance, 128 buckets)."""
    from ..ext.sampling import dsir_importance
    from ..ext.text import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    is_target = F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0))
    return dsir_importance(docs, is_target, tokens_col(F.col("text")))


_DSIR_ORACLE = f"""
WITH occ AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt,
         unnest({_TOKS}) AS token
  FROM documents
),
b AS (
  SELECT doc_id, tgt,
         CAST(concat('0x', substr(md5(token), 1, 8)) AS BIGINT) % 128 AS bucket
  FROM occ
),
bs AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS total,
         CAST(sum(tgt) AS BIGINT) AS target
  FROM b GROUP BY bucket
),
ba AS (
  SELECT bucket, 1000000 * target // total AS affinity_ppm FROM bs
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(affinity_ppm) // count(*) AS BIGINT) AS importance_ppm
FROM b JOIN ba USING (bucket)
GROUP BY doc_id
"""


def _q_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length-percentile outlier filter (corpus curation:
    drop the shortest/longest tails per source before training).
    percent_rank ordered by value alone is tie-aware — (rank-1)/(n-1)
    with rank = count(rows with smaller value) + 1 — i.e. a pure
    function of the per-source VALUE HISTOGRAM, so it is computed from
    ``groupBy(source, n_chars).count()`` (map-side-combined hash agg),
    a cumulative-count window over that tiny histogram, and a
    broadcast join back onto the documents — NO per-source sort of
    the corpus. The old windowed form sorted every document on
    |sources| reducers — the 3-hot-executor shape at 100 TB. The
    double (rank-1)/(n-1) is one int→double conversion + one IEEE
    division on both engines (the oracle keeps the native
    percent_rank window as an independent derivation), so values
    hash identically."""
    from pyspark.sql import Window

    # NULL lengths and NULL sources excluded on BOTH engines: a
    # percentile over unknown lengths is undefined and a PER-SOURCE
    # percentile of an unknown-source doc has no partition; either
    # null otherwise diverges the engines (Spark's equi-join back onto
    # the histogram silently drops null keys — while shifting real
    # rows' cumulative counts for null lengths — where DuckDB's
    # percent_rank ranks nulls last and keeps a null partition) —
    # round-15 fuzzed differential, both null classes
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull() & F.col("source").isNotNull()
    )
    hist = docs.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).alias("_c")
    )
    wn = Window.partitionBy("source")
    wx = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pr_hist = (
        hist.withColumn("_n", F.sum("_c").over(wn))
        .withColumn("_cum", F.sum("_c").over(wx))
        .select(
            "source",
            "n_chars",
            # percent_rank of every row with this value: ties share
            # rank = (# strictly smaller) + 1 = _cum - _c + 1
            F.when(F.col("_n") == 1, F.lit(0.0))
            .otherwise(
                (F.col("_cum") - F.col("_c")).cast("double")
                / (F.col("_n") - 1).cast("double")
            )
            .alias("_pr"),
        )
    )
    return (
        docs.select("doc_id", "source", "n_chars")
        # histogram size is value-domain-bounded (|sources| x distinct
        # lengths), usually broadcast-small — but not corpus-bounded,
        # so let AQE pick broadcast vs shuffle join at runtime
        .join(pr_hist, ["source", "n_chars"])
        .filter((F.col("_pr") >= 0.05) & (F.col("_pr") <= 0.95))
        .select(
            "doc_id", "source", "n_chars",
            F.round("_pr", 6).alias("len_pct_rank"),
        )
    )


_LENGTH_FILTER_ORACLE = """
WITH r AS (
  SELECT doc_id, source, n_chars,
         percent_rank() OVER (PARTITION BY source ORDER BY n_chars) AS pr
  FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL
)
SELECT doc_id, source, n_chars, round(pr, 6) AS len_pct_rank
FROM r
WHERE pr >= 0.05 AND pr <= 0.95
"""


def _q_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine-exact HyperLogLog distinct-user counts per event
    type (ext.sketches: md5 60-bit hash, 256 registers, integer
    harmonic sum), joined with the exact count for accuracy reference.
    """
    from ..ext.sketches import hll_estimate, hll_registers

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    est = hll_estimate(
        hll_registers(ev, F.col("user_id"), ["event_type"]), ["event_type"]
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    return exact.join(est, "event_type")


_HLL_ORACLE = """
WITH h AS (
  SELECT event_type,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS hh
  FROM events
),
b AS (
  SELECT event_type, hh % 256 AS bucket, hh // 256 AS w FROM h
),
r AS (
  SELECT event_type, bucket,
         max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS register
  FROM b GROUP BY event_type, bucket
),
s AS (
  SELECT event_type,
         sum(1::BIGINT << (60 - register)) AS present_sum,
         count(*) AS nb
  FROM r GROUP BY event_type
),
e AS (
  SELECT event_type,
         CAST(256 - nb AS BIGINT) AS n_empty_buckets,
         round((CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / 256)
                * 65536 * 1152921504606846976)
               / CAST(present_sum
                      + (256 - nb) * 1152921504606846976::HUGEINT AS DOUBLE),
               2) AS hll_estimate
  FROM s
)
SELECT ex.event_type, n_exact, n_empty_buckets, hll_estimate
FROM (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY event_type
) ex
JOIN e USING (event_type)
"""


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-modality near-dup detection (the SemDeDup-style pipeline
    composition): embedding-space candidate pairs from the sign-LSH
    cosine path, then lexical verification with exact n-gram Jaccard —
    classifying each pair as lexical+semantic (paraphrase-or-copy) vs
    semantic_only (same meaning, different words). documents.doc_id and
    embeddings.vec_id share the id space by construction (TESTDATA.md).

    Scale: both components are candidate-bounded (LSH buckets, shared
    shingles); the final join is pair-keyed. No all-pairs step.

    Round-16 (guide §3.2 "reduce the big side before shuffling it"):
    the lexical side is only ever read through the LEFT join from the
    semantic pairs, so its shingle self-join is pre-filtered to the
    docs that appear in at least one semantic pair (broadcast
    semi-join on the pair endpoints — 1,301 of 5,000 docs at sf0.1).
    Per-pair Jaccard depends only on the two docs' own shingle sets,
    so dropping never-matching docs is result-identical (verified
    bit-equal); at corpus scale it bounds the lexical-verify cost by
    the semantic candidate volume instead of the whole corpus.
    ``sem`` is already materialized by its own materialize_release, so
    the two reads below share one computation."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    sem = cosine_near_dup_pairs(emb, threshold=0.35)
    # one explode, not a two-branch union: every reference to the
    # (cached) sem frame re-inlines its whole subtree into the logical
    # plan, and the union doubled it — measured 938 kB of formatted
    # plan vs 86 kB with the single-reference form
    sem_docs = sem.select(
        F.explode(F.array("vec1", "vec2")).alias("doc_id")
    ).distinct()
    cand_docs = docs.join(F.broadcast(sem_docs), "doc_id", "left_semi")
    lex = shingle_jaccard_pairs(cand_docs).select("doc1", "doc2", "jaccard")
    joined = sem.join(
        lex,
        (sem.vec1 == lex.doc1) & (sem.vec2 == lex.doc2),
        "left",
    )
    jac = F.coalesce(F.col("jaccard"), F.lit(0.0))
    return joined.select(
        F.col("vec1").alias("doc1"),
        F.col("vec2").alias("doc2"),
        "cosine",
        jac.alias("lexical_jaccard"),
        F.when(jac >= 0.4, F.lit("lexical+semantic"))
        .otherwise(F.lit("semantic_only"))
        .alias("dup_class"),
    )


def _semantic_dedup_oracle() -> str:
    return f"""
WITH sem AS (
{_cosine_pairs_oracle(0.35).strip()}
),
lex AS (
WITH {_SHINGLES_CTE.strip()},
counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc1, doc2,
       round(CAST(common AS DOUBLE) / (ca.n + cb.n - common), 6) AS jaccard
FROM common
JOIN counts ca ON doc1 = ca.doc_id
JOIN counts cb ON doc2 = cb.doc_id
)
SELECT sem.vec1 AS doc1, sem.vec2 AS doc2, cosine,
       coalesce(lex.jaccard, CAST(0 AS DOUBLE)) AS lexical_jaccard,
       CASE WHEN coalesce(lex.jaccard, CAST(0 AS DOUBLE)) >= 0.4
            THEN 'lexical+semantic' ELSE 'semantic_only' END AS dup_class
FROM sem
LEFT JOIN lex ON sem.vec1 = lex.doc1 AND sem.vec2 = lex.doc2
"""


def _q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus ingestion: treat the top-quarter of doc_ids
    as the NEW batch and the rest as the existing corpus; admit only
    new docs whose content fingerprint is absent from the corpus AND
    unique within the batch (lowest doc_id survives). This is the
    anti-join-on-fingerprint shape a 100 TB rolling corpus runs every
    ingest — against a bucketed fingerprint state table the join is
    shuffle-free on the state side (operators/bucketing.py proves the
    layout).
    """
    docs = with_fingerprint(load_table(spark, sf_dir, "documents"))
    # 1-row broadcast of the batch boundary — declarative, no
    # driver-side count() action gating plan construction
    bounds = docs.agg(
        F.expr("count(1) - count(1) div 4").alias("cut")
    )
    split = docs.join(F.broadcast(bounds), F.expr("true"))
    new = split.filter(F.col("doc_id") >= F.col("cut")).drop("cut")
    corpus = split.filter(F.col("doc_id") < F.col("cut")).drop("cut")
    fresh = new.join(
        corpus.select("fingerprint"), "fingerprint", "left_anti"
    )
    return (
        # survivor output exposes `source`, so the tie-break must
        # total-order it: same-doc_id copies can differ in source
        # metadata (round-15 fuzzer) — NULLS LAST matches the oracle
        exact_dedup(
            fresh,
            F.col("fingerprint"),
            tiebreak=[F.col("source").asc_nulls_last()],
        )
        .select(
            "doc_id", "source", "fingerprint",
            F.col("n_duplicates").cast("long").alias("batch_copies"),
        )
    )


def _incremental_dedup_oracle() -> str:
    return """
WITH fp AS (
  SELECT doc_id, source,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint
  FROM documents
),
bounds AS (
  SELECT count(*) - count(*) // 4 AS cut FROM fp
),
fresh AS (
  SELECT f.* FROM fp f, bounds
  WHERE f.doc_id >= cut
    AND NOT EXISTS (
      SELECT 1 FROM fp c, bounds b2
      WHERE c.doc_id < b2.cut AND c.fingerprint = f.fingerprint
    )
)
SELECT doc_id, source, fingerprint, CAST(n AS BIGINT) AS batch_copies
FROM (
  SELECT *,
         row_number() OVER (PARTITION BY fingerprint
                            ORDER BY doc_id, source NULLS LAST) AS rn,
         count(*) OVER (PARTITION BY fingerprint) AS n
  FROM fresh
)
WHERE rn = 1
"""


def _q_bloom_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership overlap matrix: build a per-source
    Bloom filter (m=4096 bits, k=4) over the exact-dedup content key,
    then probe every document against every source's filter. A doc
    "hits" a filter when ALL its bit positions are set — so
    n_hit_docs upper-bounds true content overlap (hits = true dups +
    false positives; fill_bits lets a consumer estimate the FPR as
    (fill/m)^k). This is the sketch-based twin of
    ``cross_source_overlap``: at 100 TB the filter stays ≤ m rows per
    source and is broadcast to the probe stream, replacing the
    fingerprint self-join with a corpus-side-only scan. Pairs with
    zero shared bit positions drop out of the matrix; both engines
    drop them identically (at any real fill ratio no pair drops).
    All counts are integers — exact cross-engine hash."""
    from ..ext.sketches import bloom_position_array

    # documents with NULL source are excluded on BOTH engines: an
    # overlap MATRIX is keyed by (probe_source, target_source), and a
    # doc of unknown provenance can't be attributed to either axis —
    # leaving them in diverged the engines (Spark's window-based
    # fill/n_pos kept null-source rows that the oracle's equality
    # joins dropped) — round-15 fuzzer, extended null classes.
    # NULL text likewise: a contentless doc has no content key to
    # probe (and DuckDB's concat('0x', substr(md5(NULL),...)) folds to
    # the unparseable '0x' — content nulls, round-15 fuzzer)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull() & F.col("text").isNotNull()
    )
    key = F.substring(normalized_text(F.col("text")), 1, 60)
    pos = (
        docs.select(
            "doc_id", "source", F.explode(bloom_position_array(key)).alias("pos")
        )
        .distinct()
    )
    # both per-group statistics ride through the probe join instead of
    # separate aggregate + join-back passes (each re-executed the
    # md5-explode-distinct subtree): n_pos as a window over the tiny
    # <=k-rows-per-doc position stream, fill_bits as a window over the
    # sources×m-bounded filter table before it broadcasts
    from pyspark.sql import Window as _W

    filters = (
        pos.select(F.col("source").alias("target_source"), "pos")
        .distinct()
        .withColumn(
            "fill_bits",
            F.count(F.lit(1)).over(_W.partitionBy("target_source")).cast("long"),
        )
    )
    pos_n = pos.withColumn(
        "n_pos", F.count(F.lit(1)).over(_W.partitionBy("doc_id", "source"))
    )
    matched = (
        pos_n.join(F.broadcast(filters), "pos")
        .groupBy("doc_id", "source", "target_source", "n_pos", "fill_bits")
        .agg(F.count(F.lit(1)).alias("n_match"))
    )
    srcs = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    hits = (
        matched.groupBy("source", "target_source", "fill_bits")
        .agg(
            F.sum(F.when(F.col("n_match") == F.col("n_pos"), 1).otherwise(0))
            .cast("long")
            .alias("n_hit_docs")
        )
    )
    return (
        hits.join(F.broadcast(srcs), "source")
        .select(
            F.col("source").alias("probe_source"),
            "target_source",
            "n_docs",
            "n_hit_docs",
            "fill_bits",
        )
    )


_BLOOM_OVERLAP_ORACLE = """
WITH k AS (
  SELECT doc_id, source,
         substr(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), 1, 60) AS key
  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL
),
pos AS (
  SELECT DISTINCT doc_id, source,
         CAST(concat('0x', substr(md5(key || '#' || j), 1, 8)) AS BIGINT) % 4096 AS pos
  FROM k, (SELECT unnest([0, 1, 2, 3]) AS j)
),
filters AS (SELECT DISTINCT source AS target_source, pos FROM pos),
npos AS (SELECT doc_id, source, count(*) AS n_pos FROM pos GROUP BY doc_id, source),
matched AS (
  SELECT p.doc_id, p.source, f.target_source, count(*) AS n_match
  FROM pos p JOIN filters f ON p.pos = f.pos
  GROUP BY p.doc_id, p.source, f.target_source
),
srcs AS (SELECT source, count(*) AS n_docs FROM k GROUP BY source),
fill AS (SELECT target_source, count(*) AS fill_bits FROM filters GROUP BY target_source),
hits AS (
  SELECT m.source, m.target_source,
         CAST(sum(CASE WHEN m.n_match = n.n_pos THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hit_docs
  FROM matched m JOIN npos n ON m.doc_id = n.doc_id AND m.source = n.source
  GROUP BY m.source, m.target_source
)
SELECT h.source AS probe_source, h.target_source,
       CAST(s.n_docs AS BIGINT) AS n_docs, h.n_hit_docs,
       CAST(f.fill_bits AS BIGINT) AS fill_bits
FROM hits h JOIN srcs s ON h.source = s.source
JOIN fill f ON h.target_source = f.target_source
"""


def _q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization (the compression step ANN
    indexes apply before storing 100 TB of embeddings): min-max scale
    each vector to 0..255 buckets, report an integer checksum of the
    quantized codes plus the max reconstruction error in ppb. Entirely
    per-row array expressions — ZERO shuffle, the whole query is one
    narrow scan (the higher-order functions are interpreted, but four
    passes over a 64-element array per row is cheap and beats
    shuffling the exploded corpus). All outputs are integers: the
    float math is identical-expression-shape on both engines and ends
    in floor(), so no rounding-mode dependence anywhere."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(
        "vec_id",
        F.expr("transform(embedding, v -> CAST(v AS DOUBLE))").alias("xs"),
    )
    s = d.select(
        "vec_id",
        "xs",
        F.expr("array_min(xs)").alias("vmin"),
        F.expr("array_max(xs)").alias("vmax"),
    )
    qv = (
        "CASE WHEN vmax > vmin THEN least(CAST(floor((x - vmin) * 255"
        " / (vmax - vmin)) AS BIGINT), CAST(255 AS BIGINT))"
        " ELSE CAST(0 AS BIGINT) END"
    )
    q = s.select(
        "vec_id", "xs", "vmin", "vmax",
        F.expr(f"transform(xs, x -> {qv})").alias("qs"),
    )
    err = (
        "CAST(floor(abs(x - (vmin + qv * (vmax - vmin) / 255))"
        " * 1000000000) AS BIGINT)"
    )
    return q.select(
        "vec_id",
        F.expr("CAST(size(xs) AS INT)").alias("n_dims"),
        F.expr("aggregate(qs, CAST(0 AS BIGINT), (a, b) -> a + b)").alias(
            "q_checksum"
        ),
        F.expr(f"array_max(zip_with(xs, qs, (x, qv) -> {err}))").alias(
            "max_err_ppb"
        ),
    )


_EMBEDDING_QUANTIZE_ORACLE = """
WITH d AS (
  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xs
  FROM embeddings
),
s AS (
  SELECT vec_id, xs,
         list_aggregate(xs, 'min') AS vmin,
         list_aggregate(xs, 'max') AS vmax
  FROM d
),
q AS (
  SELECT vec_id, xs, vmin, vmax,
         list_transform(xs, x ->
           CASE WHEN vmax > vmin THEN least(CAST(floor((x - vmin) * 255
             / (vmax - vmin)) AS BIGINT), CAST(255 AS BIGINT))
           ELSE CAST(0 AS BIGINT) END) AS qs
  FROM s
)
SELECT vec_id,
       CAST(len(xs) AS INTEGER) AS n_dims,
       CAST(list_aggregate(qs, 'sum') AS BIGINT) AS q_checksum,
       CAST(list_aggregate(list_transform(range(1, len(xs) + 1),
              i -> CAST(floor(abs(xs[i] - (vmin + qs[i] * (vmax - vmin) / 255))
                   * 1000000000) AS BIGINT)), 'max') AS BIGINT) AS max_err_ppb
FROM q
"""


# ---------------------------------------------------------------------------
# Curriculum difficulty buckets: per-language percent-rank of document
# length, cut into 4 training stages (curriculum learning orders a
# corpus easy→hard; length is the standard first-order difficulty
# proxy). The rank under (n_chars, doc_id) decomposes as
# (# docs with strictly smaller n_chars) + (position among equal
# lengths by doc_id): the first term is a cumulative window over the
# tiny per-language value histogram, the second a row_number over the
# FINE-GRAINED (lang, n_chars) partitions — so no per-language sort of
# the corpus ever happens (a partitionBy(lang) window ranks the whole
# corpus on |lang| reducers — the hot-executor shape at 100 TB). The
# oracle keeps the native percent_rank window as an independent
# derivation of the same ranks.
# ---------------------------------------------------------------------------


def _q_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # NULL difficulty (length) and NULL lang excluded on BOTH engines —
    # a doc with unknown length has no defined curriculum stage and a
    # doc with unknown language has no cohort; nulls would otherwise
    # silently vanish from the Spark side only (null keys never
    # equi-join back onto the histogram — and keeping them would force
    # a null-safe join that abandons the colocated exchange) —
    # round-15 fuzzer, both null classes
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars").isNotNull() & F.col("lang").isNotNull())
        .select("doc_id", "lang", "n_chars")
    )
    hist = docs.groupBy("lang", "n_chars").agg(
        F.count(F.lit(1)).alias("_c")
    )
    wn = Window.partitionBy("lang")
    wx = (
        Window.partitionBy("lang")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("_n", F.sum("_c").over(wn)).withColumn(
        "_lt", F.sum("_c").over(wx) - F.col("_c")
    )
    wb = Window.partitionBy("lang", "n_chars").orderBy("doc_id")
    ranked = (
        # rank(), not row_number(): duplicate doc_ids must SHARE a rank
        # exactly as the oracle's percent_rank shares tied ranks —
        # row_number gave identical copies distinct percentiles, which
        # can straddle a stage boundary (round-15 fuzzer)
        docs.withColumn("_rb", F.rank().over(wb))
        # equi-join on the window's own partitioning keys: colocated
        # with the exchange the row_number already paid for
        .join(cum.select("lang", "n_chars", "_n", "_lt"), ["lang", "n_chars"])
    )
    pr = F.when(F.col("_n") == 1, F.lit(0.0)).otherwise(
        (F.col("_lt") + F.col("_rb") - 1).cast("double")
        / (F.col("_n") - 1).cast("double")
    )
    return ranked.select(
        "doc_id",
        "lang",
        "n_chars",
        F.least(F.lit(3), F.floor(pr * 4)).cast("int").alias("stage"),
    )


_CURRICULUM_ORACLE = """
SELECT doc_id, lang, n_chars,
       CAST(least(3, CAST(floor(percent_rank() OVER (
             PARTITION BY lang ORDER BY n_chars, doc_id) * 4) AS BIGINT))
         AS INTEGER) AS stage
FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL
"""


# ---------------------------------------------------------------------------
# HLL shard-merge: the property that makes sketches the 100 TB
# distinct-count answer. Each event_type shard builds its own register
# set independently (any partitioning, any retry count); the GLOBAL
# estimate is a bucket-wise max over shard registers — no rescan of
# the raw data, and the merged registers are bit-identical to
# sketching the union directly (max is associative/commutative/
# idempotent). The oracle states the merge itself, so a regression in
# mergeability (not just in the estimate) fails the gate.
# ---------------------------------------------------------------------------


def _q_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.sketches import hll_estimate, hll_registers

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    shards = hll_registers(ev, F.col("user_id"), ["event_type"])
    merged = (
        shards.groupBy("bucket")
        .agg(F.max("register").alias("register"))
        .withColumn("scope", F.lit("ALL"))
    )
    est = hll_estimate(merged, ["scope"])
    exact = (
        ev.agg(
            F.count_distinct("user_id").alias("n_exact"),
            F.count_distinct("event_type").alias("n_shards_merged"),
        )
        .withColumn("scope", F.lit("ALL"))
    )
    # LEFT join + empty-sketch coalesce: on a ZERO-row events table the
    # global `exact` aggregate still yields one row (SQL semantics) but
    # `merged` has no registers, so the old inner join dropped the row
    # while the oracle emitted (0, 0, 256 empty buckets, NULL estimate)
    # — round-16 fuzzer, empty-relation axis. An empty sketch is 256
    # empty buckets and an undefined (NULL) estimate on both engines.
    joined = exact.join(est, "scope", "left")
    return joined.select(
        "scope",
        "n_exact",
        "n_shards_merged",
        F.coalesce(F.col("n_empty_buckets"), F.lit(256).cast("long")).alias(
            "n_empty_buckets"
        ),
        "hll_estimate",
    )


_HLL_MERGE_ORACLE = """
WITH h AS (
  SELECT event_type,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS hh
  FROM events
),
shard_regs AS (
  SELECT event_type, hh % 256 AS bucket,
         max(CASE WHEN hh // 256 = 0 THEN 53
                  ELSE 53 - length(bin(hh // 256)) END) AS register
  FROM h GROUP BY event_type, bucket
),
merged AS (
  SELECT bucket, max(register) AS register FROM shard_regs GROUP BY bucket
),
s AS (
  SELECT sum(1::BIGINT << (60 - register)) AS present_sum, count(*) AS nb
  FROM merged
)
SELECT 'ALL' AS scope,
       (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events) AS n_exact,
       (SELECT CAST(count(DISTINCT event_type) AS BIGINT) FROM events)
         AS n_shards_merged,
       CAST(256 - nb AS BIGINT) AS n_empty_buckets,
       round((CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / 256)
              * 65536 * 1152921504606846976)
             / CAST(present_sum
                    + (256 - nb) * 1152921504606846976::HUGEINT AS DOUBLE),
             2) AS hll_estimate
FROM s
"""


# ---------------------------------------------------------------------------
# OOV rate vs a corpus vocabulary: the tokenizer-coverage metric run
# before committing to a vocab. The vocabulary (top-50 tokens) is
# vocabulary-sized by construction → broadcast; the corpus side stays
# a narrow explode + one grouped count. Integer ppm, no float division
# drift.
# ---------------------------------------------------------------------------


def _q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.sampling import vocab_top_terms
    from ..ext.text import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    vocab = vocab_top_terms(docs, tokens_col(F.col("text")), k=50).select(
        F.col("token").alias("_v"), F.lit(1).alias("_in_vocab")
    )
    toks = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("token")
    )
    from pyspark.sql.functions import broadcast

    return (
        toks.join(broadcast(vocab), toks.token == vocab._v, "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("_in_vocab").isNull(), 1)).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            # integer div both engines (round-vs-truncate hazard)
            F.expr("(n_oov * 1000000) div n_tokens").alias("oov_ppm"),
        )
    )


_OOV_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS token FROM documents
),
vocab AS (
  SELECT token FROM (
    SELECT token, count(*) AS n FROM tok GROUP BY token
    ORDER BY n DESC, token ASC LIMIT 50
  )
)
SELECT doc_id,
       count(*) AS n_tokens,
       count(*) FILTER (token NOT IN (SELECT token FROM vocab)) AS n_oov,
       CAST(count(*) FILTER (token NOT IN (SELECT token FROM vocab))
            AS BIGINT) * 1000000 // count(*) AS oov_ppm
FROM tok
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Phrase search through an inverted bigram index: postings (bigram →
# doc) joined against the query's leading bigram give CANDIDATES; the
# full phrase is verified only on those. At 100 TB the postings table
# is built once and reused per query — the equi-join on the posting
# key replaces a full-text scan per search (classic inverted-index
# candidate→verify, same shape as the LSH dedup families).
# ---------------------------------------------------------------------------

_PHRASE = "value a table"


def _q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    from ..ext.text import normalized_text

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", normalized_text(F.col("text")).alias("_norm")
    )
    toks = docs.select(
        "doc_id", F.split(F.col("_norm"), " ").alias("_tok")
    )
    postings = toks.select(
        "doc_id",
        # CASE-guarded total expression: for a 1-token doc the
        # unguarded sequence(0, size-2) goes descending and
        # _tok[i + 1] indexes past the array, ABORTING the job on one
        # degenerate row (round-15 fuzzer, empty-string class — same
        # hazard as quality.doc_shingle_sets)
        F.explode(
            F.expr(
                "CASE WHEN size(_tok) >= 2 THEN"
                " transform(sequence(0, size(_tok) - 2),"
                " i -> concat(_tok[i], ' ', _tok[i + 1]))"
                " ELSE array() END"
            )
        ).alias("bigram"),
    ).distinct()
    lead = " ".join(_PHRASE.split(" ")[:2])
    query = spark.createDataFrame([(lead,)], "bigram string")
    candidates = postings.join(broadcast(query), "bigram").select("doc_id")
    return (
        docs.join(candidates, "doc_id", "left_semi")
        .filter(F.instr(F.col("_norm"), _PHRASE) > 0)
        .select(
            "doc_id",
            "source",
            F.instr(F.col("_norm"), _PHRASE).cast("int").alias("first_pos"),
        )
    )


_PHRASE_ORACLE = f"""
WITH norm AS (
  SELECT doc_id, source,
         lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS n
  FROM documents
)
SELECT doc_id, source, CAST(strpos(n, '{_PHRASE}') AS INTEGER) AS first_pos
FROM norm WHERE strpos(n, '{_PHRASE}') > 0
"""


# ---------------------------------------------------------------------------
# Classifier evaluation as a relation: confusion matrix of the
# language-ID heuristic against the corpus's ground-truth lang column,
# plus per-cell share of the true class — model evaluation is itself a
# one-scan grouped aggregation (the shape any 100 TB eval harness
# runs), not a driver-side sklearn call.
# ---------------------------------------------------------------------------


def _q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pred = with_language_id(docs)
    cells = pred.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    from pyspark.sql import Window

    class_total = F.sum("n_docs").over(Window.partitionBy("lang"))
    # integer division on BOTH engines (Spark `div`, DuckDB `//`): a
    # float quotient cast to int truncates on Spark but ROUNDS on
    # DuckDB — exact integer ops sidestep the disagreement
    return cells.select(
        "lang",
        "lang_pred",
        "n_docs",
        ((F.col("n_docs") * 1_000_000).cast("long")).alias("_num"),
        class_total.cast("long").alias("_den"),
    ).select(
        "lang",
        "lang_pred",
        "n_docs",
        F.expr("_num div _den").alias("share_ppm"),
    )


_LANG_CONFUSION_ORACLE = f"""
WITH h AS (
  SELECT doc_id, lang,
         {_hits_sql(('der', 'die', 'das', 'und', 'ist'))} AS de,
         {_hits_sql(('the', 'a', 'and', 'of', 'to'))} AS en,
         {_hits_sql(('el', 'la', 'de', 'y', 'que'))} AS es,
         {_hits_sql(('le', 'les', 'et', 'des', 'un'))} AS fr
  FROM documents
),
pred AS (
  SELECT lang,
         CASE WHEN de >= en AND de >= es AND de >= fr THEN 'de'
              WHEN en >= es AND en >= fr THEN 'en'
              WHEN es >= fr THEN 'es'
              ELSE 'fr' END AS lang_pred
  FROM h
),
cells AS (
  SELECT lang, lang_pred, count(*) AS n_docs FROM pred GROUP BY 1, 2
)
SELECT lang, lang_pred, n_docs,
       CAST(n_docs AS BIGINT) * 1000000
         // CAST(sum(n_docs) OVER (PARTITION BY lang) AS BIGINT)
         AS share_ppm
FROM cells
"""


# ---------------------------------------------------------------------------
# Dedup impact report: what exact dedup would DELETE, attributed per
# source — the go/no-go telemetry a curation run reads before
# committing a dedup pass. Survivor = lowest doc_id per normalized
# fingerprint (deterministic, matching ext.text.exact_dedup); a doc is
# "dropped" when another source (or its own) holds the survivor. One
# shuffle on the fingerprint + one grouped count.
# ---------------------------------------------------------------------------


def _q_dedup_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(normalized_text(F.col("text"))).alias("_fp"),
    )
    # survivor credit goes to a row's SOURCE, so same-doc_id copies
    # with differing source metadata need the source in the total
    # order (round-15 fuzzer) — NULLS LAST matches the oracle
    w = Window.partitionBy("_fp").orderBy(
        F.col("doc_id").asc(), F.col("source").asc_nulls_last()
    )
    tagged = docs.withColumn(
        "_is_survivor", (F.row_number().over(w) == 1).cast("int")
    )
    return tagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_is_survivor").alias("n_kept"),
        (F.count(F.lit(1)) - F.sum("_is_survivor")).alias("n_dropped"),
        F.expr(
            "((count(*) - sum(_is_survivor)) * 1000000) div count(*)"
        ).alias("drop_ppm"),
    )


_DEDUP_IMPACT_ORACLE = """
WITH fp AS (
  SELECT doc_id, source,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS f
  FROM documents
),
tagged AS (
  -- row_number, not doc_id = min(doc_id): exactly ONE survivor per
  -- fingerprint. The min() form marked EVERY copy of the minimum
  -- doc_id a survivor, over-counting n_kept when a doc_id is itself
  -- duplicated (round-15 fuzzed differential). Ties on doc_id are
  -- full-row duplicates, so either copy yields identical aggregates.
  SELECT source,
         CASE WHEN row_number() OVER (PARTITION BY f
                ORDER BY doc_id, source NULLS LAST) = 1
              THEN 1 ELSE 0 END AS is_survivor
  FROM fp
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(is_survivor) AS BIGINT) AS n_kept,
       CAST(count(*) - sum(is_survivor) AS BIGINT) AS n_dropped,
       CAST((count(*) - sum(is_survivor)) AS BIGINT) * 1000000 // count(*)
         AS drop_ppm
FROM tagged
GROUP BY source
"""


def _q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE trainer pair-count step (ext.tokenizer): corpus
    compressed to the word-TYPE table, adjacent symbol pairs weighted
    by type frequency, top-50 by count (deterministic lexicographic
    tie-break). The full iterative trainer (train_merges) is verified
    against a pure-Python BPE in tests/test_ext.py — SQL cannot express
    the data-dependent merge recursion, but this selection step, which
    dominates the trainer's cost, oracles exactly."""
    from ..ext.tokenizer import pair_counts, word_symbol_table

    docs = load_table(spark, sf_dir, "documents")
    pc = pair_counts(word_symbol_table(docs))
    return (
        pc.orderBy(F.desc("pair_count"), "left", "right")
        .limit(50)
        .select(
            F.col("left").alias("lhs"),
            F.col("right").alias("rhs"),
            "pair_count",
        )
    )


_BPE_PAIRS_ORACLE = r"""
WITH words AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
  FROM documents
), wc AS (
  SELECT word, CAST(count(*) AS BIGINT) AS n
  FROM words WHERE word <> '' GROUP BY word
), syms AS (
  SELECT list_append(string_split(word, ''), '</w>') AS s, n FROM wc
), pairs AS (
  SELECT s[CAST(i AS INTEGER)] AS lhs, s[CAST(i AS INTEGER) + 1] AS rhs, n
  FROM syms, unnest(range(1, len(s))) AS t(i)
  WHERE len(s) >= 2
)
SELECT lhs, rhs, CAST(sum(n) AS BIGINT) AS pair_count
FROM pairs GROUP BY lhs, rhs
ORDER BY pair_count DESC, lhs, rhs
LIMIT 50
"""


def _q_nb_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter (the CCNet/DCLM curation shape): a
    naive-Bayes-style linear scorer TRAINED on the corpus itself —
    per-token class rates with ``source='src0'`` as the positive
    class — then applied to every document. Weights are integer
    ppm-scaled (offset by 1e6 so all arithmetic stays non-negative,
    dodging the cross-engine integer-division-of-negatives mismatch);
    a doc is kept when its mean token weight clears the neutral
    1 000 000 line.

    Scale shape: train = one token-key aggregation (vocabulary-sized
    shuffle) + a 1-row corpus-total broadcast; score = broadcast hash
    join of the token stream against the vocab-sized weight table +
    one doc-key aggregation. No Python UDFs, two shuffles total."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    pos = F.col("source") == "src0"
    ts = toks.groupBy("tok").agg(
        F.sum(F.when(pos, 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(~pos, 1).otherwise(0)).alias("n_neg"),
    )
    tot = ts.agg(
        F.sum("n_pos").alias("total_pos"), F.sum("n_neg").alias("total_neg")
    )
    weights = ts.crossJoin(F.broadcast(tot)).select(
        "tok",
        (
            F.lit(1_000_000)
            + F.expr("n_pos * 1000000 div total_pos")
            - F.expr("n_neg * 1000000 div total_neg")
        ).cast("long").alias("weight_ppm"),
    )
    scored = (
        toks.join(F.broadcast(weights), "tok")
        .groupBy("doc_id")
        .agg(F.expr("sum(weight_ppm) div count(*)").cast("long").alias("score_ppm"))
    )
    return scored.select(
        "doc_id",
        "score_ppm",
        F.when(F.col("score_ppm") >= 1_000_000, 1).otherwise(0).alias("keep"),
    )


_NB_QUALITY_ORACLE = r"""
WITH toks0 AS (
  SELECT doc_id, source,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM documents
), t AS (
  SELECT * FROM toks0 WHERE tok <> ''
), ts AS (
  SELECT tok,
         CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(sum(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
  FROM t GROUP BY tok
), tot AS (
  SELECT CAST(sum(n_pos) AS BIGINT) AS total_pos,
         CAST(sum(n_neg) AS BIGINT) AS total_neg
  FROM ts
), w AS (
  SELECT tok,
         CAST(1000000 + (n_pos * 1000000 // total_pos)
                      - (n_neg * 1000000 // total_neg) AS BIGINT) AS weight_ppm
  FROM ts, tot
), scored AS (
  SELECT t.doc_id,
         CAST(CAST(sum(w.weight_ppm) AS BIGINT) // count(*) AS BIGINT)
           AS score_ppm
  FROM t JOIN w USING (tok) GROUP BY t.doc_id
)
SELECT doc_id, score_ppm,
       CAST(CASE WHEN score_ppm >= 1000000 THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM scored
"""


def _q_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty scoring — the curation filter that measures how
    much of a document is FIRST SEEN in that document: the fraction of
    its distinct 5-token shingles whose earliest occurrence (min
    doc_id, the corpus arrival order) is the document itself.
    Duplicate-heavy spam scores near 0, fresh content near 1e6 ppm.
    Complements exact/near-dedup: a partial-copy document survives
    dedup but is flagged here.

    Scale shape (round-16 rewrite, guide §2.3 "aggregate before you
    shuffle"): the per-doc shingle count is just ``size(shingles)`` —
    no shuffle at all — so the only corpus-sized shuffle left is
    ``groupBy(sh).agg(min(doc_id))``, which (unlike the previous
    whole-partition window min) gets MAP-SIDE partial aggregation: the
    exchange carries one (shingle, min_doc) pair per map-partition-
    distinct shingle instead of every exploded occurrence, and the
    window's full sort of the shingle strings disappears. Each
    shingle's owner then folds to a doc-cardinality ``n_novel`` count
    and joins back at doc grain (tiny). The staged shingle sets feed
    both consumers via one persisted pass (materialize_release
    contract, as winnow_overlap_pairs); measured 6.2 s → 2.0 s at
    sf0.1 with bit-identical output. Never all-pairs."""
    from ..ext.quality import doc_shingle_sets

    docs = load_table(spark, sf_dir, "documents")
    sets = doc_shingle_sets(docs).persist()
    # MULTISET semantics per doc_id (round-16 full-registry fuzz find:
    # the 'dupes'/'nulls' classes produce several rows per doc_id, and
    # the oracle counts shingle OCCURRENCES across those rows — the
    # first size(shingles) rewrite kept one output row per INPUT ROW
    # and counted ownership once per distinct shingle, diverging 427
    # vs 422 rows on the seed-1 mutation; the fixed fixtures' unique
    # doc_ids masked it). n_shingles = sum of per-row set sizes;
    # n_novel = ownership counted with the owner's row multiplicity.
    # Both aggregations stay partial-aggregation-friendly (plain
    # sum/count/min — never a whole-partition window), which is the
    # Change-2 point; on unique-doc_id data this is bit-identical to
    # the per-row form.
    n_sh = (
        sets.filter(F.size("shingles") > 0)
        .groupBy("doc_id")
        .agg(F.sum(F.size("shingles")).cast("long").alias("n_shingles"))
    )
    per_doc = (
        sets.select("doc_id", F.explode("shingles").alias("sh"))
        .groupBy("sh", "doc_id")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    firsts = per_doc.groupBy("sh").agg(
        F.min("doc_id").alias("first_doc"),
        # multiplicity of the shingle in its OWNER doc's rows ((sh,
        # doc_id) is unique after the groupBy, so min_by is total)
        F.min_by("m", "doc_id").alias("m_owner"),
    )
    novel = firsts.groupBy("first_doc").agg(
        F.sum("m_owner").alias("n_novel")
    )
    out = (
        n_sh.join(novel, n_sh.doc_id == novel.first_doc, "left")
        .select(
            n_sh.doc_id.alias("doc_id"),
            "n_shingles",
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias(
                "n_novel"
            ),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.expr("n_novel * 1000000 div n_shingles").cast("long").alias(
                "novelty_ppm"
            ),
        )
    )
    return materialize_release(out, sets)


_NOVELTY_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 3),
           i -> array_to_string(list_slice(toks, i, i + 4), ' '))) AS shingles
  FROM t WHERE len(toks) >= 5
),
ex AS (
  SELECT doc_id, unnest(shingles) AS sh FROM sh
),
first_seen AS (
  SELECT sh, min(doc_id) AS first_doc FROM ex GROUP BY sh
)
SELECT e.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)
            * 1000000 // count(*) AS BIGINT) AS novelty_ppm
FROM ex e JOIN first_seen f ON e.sh = f.sh
GROUP BY e.doc_id
"""


# ---------------------------------------------------------------------------
# Corpus-diversity inequality: Gini coefficient of document lengths per
# source — the curation dashboard's answer to "is this source a few
# giant documents or many uniform ones". Rank-weighted integer form so
# the oracle is exact.
# ---------------------------------------------------------------------------


def _q_source_length_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient (ppm) of n_chars per source via the sorted
    rank-weighted formula G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n, with ranks
    totalized by (n_chars, doc_id) and each of the two terms truncated
    to ppm by ONE integer division — the same agreed-truncation
    convention every ppm metric here uses, so both engines produce the
    identical integer.

    Σ(i·xᵢ) is a pure function of the per-source VALUE HISTOGRAM: the
    ranks inside one x-bucket are the consecutive integers
    cum_lt+1 .. cum_lt+c (whatever the doc_id tie order), so their sum
    is c·cum_lt + c(c+1)/2 and Σ(i·xᵢ) = Σ_buckets x·that. The query
    is therefore one map-side-combined hash agg to |sources| x
    |distinct lengths| rows plus a cumulative window over that tiny
    histogram — NO per-source sort of the corpus (the old row_number
    form sorted every document on |sources| reducers). The oracle
    KEEPS the rank formulation as an independent derivation."""
    from pyspark.sql import Window

    docs = (
        load_table(spark, sf_dir, "documents")
        # NULL lengths are excluded on BOTH engines: a document of
        # unknown length has no place in a length-inequality metric,
        # and leaving nulls in diverges the engines' rank treatment
        # (Spark windows sort nulls first, DuckDB row_number defaults
        # nulls last) — found by the round-15 fuzzed differential
        .filter(F.col("n_chars").isNotNull())
        .select("source", F.col("n_chars").cast("long").alias("x"))
    )
    hist = docs.groupBy("source", "x").agg(F.count(F.lit(1)).alias("_c"))
    wx = (
        Window.partitionBy("source")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        hist.withColumn("_cum", F.sum("_c").over(wx))
        .groupBy("source")
        .agg(
            F.sum("_c").cast("long").alias("n_docs"),
            F.sum(F.expr("x * _c")).cast("long").alias("total_chars"),
            # _s2 = 2·Σ(i·xᵢ): the bucket's doubled rank sum is
            # c·(2·cum_lt + c + 1) — integral with no /2, so no
            # decimal-scale drift. Widen the FACTORS, not the product:
            # rank·chars clears int64 on its own at corpus scale, and
            # under ANSI the int64 multiply would throw before an
            # outer cast ran.
            F.sum(
                F.expr(
                    "CAST(x AS DECIMAL(38,0))"
                    " * CAST(_c AS DECIMAL(38,0))"
                    " * (2 * (_cum - _c) + _c + 1)"
                )
            ).alias("_s2"),
        )
        .select(
            "source",
            "n_docs",
            "total_chars",
            # _s2 = 2·Σ rank·x grows ~n²·x̄, and the denominator
            # n_docs·total_chars ~n²·x̄ too — both clear int64 around
            # 1e6 docs/source at 1e4 chars, so the ppm products run in
            # DECIMAL(38,0) (HUGEINT on the oracle side), the same
            # widening brand_price_regression uses. The oracle's
            # 2·s1·1e6 equals _s2·1e6 exactly. The quotient is a
            # small ppm value, so `div`'s BIGINT result is exact.
            F.expr(
                "_s2 * 1000000"
                " div (CAST(n_docs AS DECIMAL(38,0)) * total_chars)"
                " - (n_docs + 1) * 1000000 div n_docs"
            ).alias("gini_ppm"),
        )
    )


_SOURCE_GINI_ORACLE = """
WITH ranked AS (
  SELECT source, CAST(n_chars AS BIGINT) AS x,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS rk
  FROM documents WHERE n_chars IS NOT NULL
),
agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(x) AS BIGINT) AS total_chars,
         CAST(sum(CAST(rk AS HUGEINT) * x) AS HUGEINT) AS s1
  FROM ranked GROUP BY source
)
SELECT source, n_docs, total_chars,
       CAST(2 * s1 * 1000000
              // (CAST(n_docs AS HUGEINT) * total_chars)
            - (n_docs + 1) * 1000000 // n_docs AS BIGINT) AS gini_ppm
FROM agg
"""


# ---------------------------------------------------------------------------
# BM25 ranked retrieval: the classic search-relevance scorer as a batch
# relation — the ranking stage of retrieval-based corpus curation
# (select the documents most relevant to a probe query), complementing
# phrase_search_index's boolean match with graded scoring.
# ---------------------------------------------------------------------------

_BM25_TERMS = ("window", "merge", "spark")
_BM25_TOP_K = 50


def _q_bm25_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranked retrieval for a fixed multi-term query,
    computed as three corpus aggregations over the token stream.

    k1 = 1.2 and b = 0.75 (the standard defaults) are carried as the
    exact rationals 6/5 and 3/4 and the whole score is evaluated in
    integer ppm arithmetic so the DuckDB oracle hashes identically:

    - tf saturation ``tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))`` with
      ``avgdl = T/N`` is scaled by ``10*T`` into the integer ratio
      ``22*T*tf / (10*T*tf + 3*T + 9*dl*N)``;
    - the idf factor keeps BM25's ``(N-df+0.5)/(df+0.5)`` argument as
      the integer ppm ratio ``(2*(N-df)+1)/(2*df+1)`` — the log around
      it is monotone, so dropping it preserves every per-term ranking
      decision while keeping the arithmetic transcendental-free (the
      same trade doc_lm_perplexity makes with its inverse-probability
      surprise score).

    Scale shape: the exploded token stream is filtered to the query's
    terms BEFORE any shuffle (predicate on the flat-map output, so the
    grouped state is |query terms| x |matching docs|, not the corpus);
    corpus stats (N, T) and per-term df reduce to single broadcast
    rows; the final top-k is TakeOrderedAndProject, never a global
    sort."""
    from ..ext.text import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id",
        tokens_col(F.col("text")).alias("_toks"),
    ).select("doc_id", "_toks", F.size("_toks").cast("long").alias("dl"))
    corpus = toked.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_tokens"),
    )
    hits = (
        toked.select("doc_id", "dl", F.explode("_toks").alias("term"))
        .filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    # per-term df via a whole-partition window over hits' term key —
    # hits is |query terms| x |matching docs| rows, so the window
    # shuffle is tiny, and the corpus-sized explode+filter subtree runs
    # ONCE (the earlier groupBy→broadcast-join-back re-executed it for
    # the df side)
    from pyspark.sql import Window as _W

    scored = (
        hits.withColumn(
            "df", F.count(F.lit(1)).over(_W.partitionBy("term")).cast("long")
        )
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            "tf",
            F.expr(
                "(2 * (n_docs - df) + 1) * 1000000 div (2 * df + 1)"
            ).alias("_idf_ppm"),
            # total_tokens·tf·1e6 clears int64 around 1e13 corpus
            # tokens — run the saturation ratio in DECIMAL(38,0)
            # (HUGEINT in the oracle), the brand_price_regression
            # widening convention. Quotients are ppm-sized, so div's
            # BIGINT result stays exact.
            F.expr(
                "22 * CAST(total_tokens AS DECIMAL(38,0)) * tf * 1000000"
                " div (10 * CAST(total_tokens AS DECIMAL(38,0)) * tf"
                "      + 3 * total_tokens + 9 * dl * n_docs)"
            ).alias("_tf_sat_ppm"),
        )
        .select(
            "doc_id",
            "tf",
            # idf_ppm alone can reach ~2e15 (rare term in a 1e9-doc
            # corpus); times a ~2.2e6-ppm saturation it clears int64,
            # so the product also widens before the final div.
            F.expr(
                "CAST(_idf_ppm AS DECIMAL(38,0)) * _tf_sat_ppm div 1000000"
            ).alias("_contrib_ppm"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_terms_matched"),
            F.sum("tf").cast("long").alias("total_tf"),
            F.sum("_contrib_ppm").cast("long").alias("score_ppm"),
        )
        .orderBy(F.desc("score_ppm"), "doc_id")
        .limit(_BM25_TOP_K)
    )


_BM25_ORACLE = f"""
WITH d AS (
  SELECT doc_id, {_TOKS} AS toks,
         CAST(len({_TOKS}) AS BIGINT) AS dl
  FROM documents
),
corpus AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS total_tokens
  FROM d
),
hits AS (
  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
  WHERE term IN ('window', 'merge', 'spark')
  GROUP BY doc_id, dl, term
),
dfs AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM hits GROUP BY term
),
scored AS (
  SELECT h.doc_id, h.tf,
         CAST((2 * (c.n_docs - f.df) + 1) * 1000000 // (2 * f.df + 1)
              AS HUGEINT)
           * CAST(22 * CAST(c.total_tokens AS HUGEINT) * h.tf * 1000000
                  // (10 * CAST(c.total_tokens AS HUGEINT) * h.tf
                      + 3 * c.total_tokens
                      + 9 * h.dl * c.n_docs) AS HUGEINT)
           // 1000000 AS contrib_ppm
  FROM hits h JOIN dfs f ON h.term = f.term CROSS JOIN corpus c
)
SELECT doc_id,
       CAST(count(*) AS INTEGER) AS n_terms_matched,
       CAST(sum(tf) AS BIGINT) AS total_tf,
       CAST(sum(contrib_ppm) AS BIGINT) AS score_ppm
FROM scored
GROUP BY doc_id
ORDER BY score_ppm DESC, doc_id
LIMIT {_BM25_TOP_K}
"""


QUERIES: dict[str, QuerySpec] = {
    "bm25_doc_ranking": QuerySpec(_q_bm25_ranking, _BM25_ORACLE, bench_tail=True),
    "source_length_gini": QuerySpec(_q_source_length_gini, _SOURCE_GINI_ORACLE),
    "bpe_pair_counts": QuerySpec(_q_bpe_pairs, _BPE_PAIRS_ORACLE),
    "ngram_novelty_scores": QuerySpec(_q_novelty, _NOVELTY_ORACLE),
    "nb_quality_filter": QuerySpec(_q_nb_quality, _NB_QUALITY_ORACLE),
    "curriculum_difficulty_buckets": QuerySpec(_q_curriculum, _CURRICULUM_ORACLE),
    "dedup_impact_by_source": QuerySpec(_q_dedup_impact, _DEDUP_IMPACT_ORACLE),
    "vocab_oov_rate": QuerySpec(_q_oov_rate, _OOV_ORACLE),
    "phrase_search_index": QuerySpec(_q_phrase_search, _PHRASE_ORACLE),
    "lang_id_confusion_matrix": QuerySpec(_q_lang_confusion, _LANG_CONFUSION_ORACLE),
    "hll_shard_merge": QuerySpec(_q_hll_merge, _HLL_MERGE_ORACLE),
    "incremental_dedup_new_docs": QuerySpec(
        _q_incremental_dedup, _incremental_dedup_oracle()
    ),
    "bloom_source_overlap": QuerySpec(_q_bloom_overlap, _BLOOM_OVERLAP_ORACLE),
    "embedding_int8_quantize": QuerySpec(
        _q_embedding_quantize, _EMBEDDING_QUANTIZE_ORACLE
    ),
    "semantic_dedup_pairs": QuerySpec(_q_semantic_dedup, _semantic_dedup_oracle()),
    "hll_distinct_users": QuerySpec(_q_hll, _HLL_ORACLE),
    "length_outlier_filter": QuerySpec(_q_length_filter, _LENGTH_FILTER_ORACLE),
    "doc_lm_perplexity": QuerySpec(_q_doc_perplexity, _DOC_PERPLEXITY_ORACLE),
    "corpus_curation_summary": QuerySpec(_q_curation, _curation_oracle()),
    "source_vocab_divergence": QuerySpec(
        _q_vocab_divergence, _VOCAB_DIVERGENCE_ORACLE
    ),
    "doc_token_chunks": QuerySpec(_q_token_chunks, _TOKEN_CHUNKS_ORACLE),
    "chunk_level_dedup": QuerySpec(_q_chunk_dedup, _CHUNK_DEDUP_ORACLE),
    "winnow_overlap_pairs": QuerySpec(_q_winnow_overlap, _WINNOW_OVERLAP_ORACLE),
    "dsir_importance_weights": QuerySpec(_q_dsir, _DSIR_ORACLE),
    "embedding_label_centroids": QuerySpec(_q_centroids, _CENTROIDS_ORACLE),
    "kmeans_assign_step": QuerySpec(_q_kmeans_assign, _KMEANS_ASSIGN_ORACLE),
    "text_repetition_stats": QuerySpec(_q_repetition, _REPETITION_ORACLE),
    "pii_scrub_stats": QuerySpec(_q_pii, _pii_oracle()),
    "benchmark_contamination": QuerySpec(_q_contamination, _CONTAMINATION_ORACLE),
    "tfidf_keywords": QuerySpec(_q_tfidf, _TFIDF_ORACLE),
    "token_budget_mix": QuerySpec(_q_token_mix, _token_mix_oracle()),
    "text_token_stats": QuerySpec(_q_token_stats, _TOKEN_STATS_ORACLE, bench=True),
    "text_quality_scores": QuerySpec(_q_quality, _QUALITY_ORACLE),
    "text_language_id": QuerySpec(_q_lang_id, _LANG_ORACLE),
    "doc_fingerprints": QuerySpec(_q_fingerprint, _FINGERPRINT_ORACLE),
    "x1_exact_dedup": QuerySpec(_q_exact_dedup, _DEDUP_ORACLE, bench=True),
    "ngram_jaccard_near_dups": QuerySpec(_q_jaccard, _JACCARD_ORACLE),
    "dedup_clusters": QuerySpec(_q_dedup_clusters, _CLUSTERS_ORACLE),
    "minhash_lsh_near_dups": QuerySpec(_q_minhash, _minhash_oracle(), bench=True),
    "simhash_near_dup_pairs": QuerySpec(_q_simhash_pairs, _simhash_pairs_oracle()),
    "embedding_topk_cosine": QuerySpec(_q_topk_cosine, _TOPK_ORACLE, bench=True),
    "embedding_cosine_near_dups": QuerySpec(_q_cosine_pairs, _cosine_pairs_oracle()),
    "embedding_ann_ivf": QuerySpec(_q_ann_ivf, _ann_ivf_oracle()),
    "embedding_ann_pq": QuerySpec(_q_ann_pq, _ann_pq_oracle()),
    "duplicate_span_stats": QuerySpec(
        _q_dup_spans, _dup_spans_oracle(), bench_tail=True
    ),
    "training_shard_plan": QuerySpec(_q_shards, _SHARDS_ORACLE),
    "cms_token_frequencies": QuerySpec(_q_cms, _CMS_ORACLE),
    "embedding_ann_ivfpq": QuerySpec(_q_ann_ivfpq, _ann_ivfpq_oracle()),
    "pps_weighted_sample": QuerySpec(_q_pps_sample, _PPS_ORACLE),
    "curation_pipeline_v2": QuerySpec(_q_curation_v2, _curation_v2_oracle()),
    "per_stratum_sample": QuerySpec(_q_stratum_topn, _STRATUM_TOPN_ORACLE),
    "text_stratified_sample": QuerySpec(_q_stratified, _stratified_oracle()),
    "seq_packing_plan": QuerySpec(_q_packing, _PACKING_ORACLE),
    "leakage_safe_splits": QuerySpec(_q_splits, _splits_oracle()),
    "multimodal_decode_features": QuerySpec(_q_multimodal, _MULTIMODAL_ORACLE),
}
