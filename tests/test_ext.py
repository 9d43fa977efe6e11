"""[EXT] operator validation beyond the DuckDB oracles: the
approximate algorithms (MinHash-LSH, sign-LSH ANN, SimHash) are
checked against their exact counterparts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from financial_tracker_etl_spark.catalog import load_table
from financial_tracker_etl_spark.ext.dedup import (
    minhash_near_dups,
    shingle_jaccard_pairs,
    simhash_fingerprints,
    simhash_near_dup_pairs,
)
from financial_tracker_etl_spark.ext.similarity import (
    topk_cosine_bruteforce,
    topk_cosine_lsh,
)


def test_regex_token_stats_known_answers(spark):
    """X3 BPE-ish token counting (its registry twin retired in round 4
    — subsumed by text_token_stats per COVERAGE.md — so the known
    answers live here): letter runs, digit runs and single punctuation
    marks each count as one token."""
    from financial_tracker_etl_spark.ext.text import with_regex_token_stats

    df = spark.createDataFrame(
        [("a", "hello world42!"), ("b", "x, x, x")], "doc_id string, text string"
    )
    rows = {
        r.doc_id: (r.n_bpe_tokens, r.n_unique_bpe_tokens)
        for r in with_regex_token_stats(df).collect()
    }
    # hello | world | 42 | !  /  x | , | x | , | x
    assert rows == {"a": (4, 4), "b": (5, 2)}


def test_minhash_recall_vs_exact(spark):
    docs = load_table(spark, SF_DIR, "documents")
    exact = {
        (r.doc1, r.doc2)
        for r in shingle_jaccard_pairs(docs)
        .filter(F.col("jaccard") >= 0.8)
        .collect()
    }
    approx = {(r.doc1, r.doc2) for r in minhash_near_dups(docs).collect()}
    assert exact, "fixture should contain high-jaccard near-dup pairs"
    # high-similarity pairs are near-certain to share an LSH band
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"minhash recall {recall} on {len(exact)} gold pairs"
    # and every reported pair really is >= the 0.4 verification threshold
    assert all(
        r.jaccard >= 0.4 for r in minhash_near_dups(docs).collect()
    )


def test_ann_lsh_overlaps_bruteforce(spark):
    # NOTE: the testdata embeddings are near-orthogonal random vectors
    # (max pairwise cosine ~0.48, no planted near-dups), which is the
    # worst case for sign-LSH — true neighbors sit at ~80° where a
    # hyperplane agrees only ~55% of the time. The assertions therefore
    # check (a) nonzero overlap with the exact top-k and (b) that every
    # ANN score is a true cosine (subset correctness), not high recall;
    # on clustered real embeddings the same operator's recall is high.
    emb = load_table(spark, SF_DIR, "embeddings")
    exact = topk_cosine_bruteforce(emb, k=5)
    approx = topk_cosine_lsh(emb, k=5)
    e = {(r.query_id, r.neighbor_id): r.cosine for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id): r.cosine for r in approx.collect()}
    overlap = set(e) & set(a)
    assert overlap, "ANN found none of the exact top-5 pairs"
    for pair in overlap:
        assert abs(e[pair] - a[pair]) < 1e-9  # scores are exact cosines


def test_hyperplane_sign_reads_the_named_column(spark):
    """The sign expression projects the column it is given by name,
    even one that needs quoting, and not a column that happens to be
    called ``v``."""
    from financial_tracker_etl_spark.ext.similarity import (
        _hyperplane_sign,
        plane_weights,
    )

    dim = 4
    vec = [1.0, -2.0, 0.5, 3.0]
    weights = plane_weights(0, dim)
    proj = sum(x * w for x, w in zip(vec, weights))
    assert proj != 0
    # the decoy v projects to 0.0 (sign 1) for both rows
    df = spark.createDataFrame(
        [(0, vec, [0.0] * dim), (1, [-x for x in vec], [0.0] * dim)],
        "id long, `emb vec` array<double>, v array<double>",
    )
    got = [
        r["s"]
        for r in df.orderBy("id")
        .select(_hyperplane_sign("emb vec", 0, dim).alias("s"))
        .collect()
    ]
    assert got == ([1, 0] if proj > 0 else [0, 1])


def test_simhash_near_dups_have_close_fingerprints(spark):
    docs = load_table(spark, SF_DIR, "documents")
    fp = {r.doc_id: r.simhash for r in simhash_fingerprints(docs).collect()}
    gold = (
        shingle_jaccard_pairs(docs).filter(F.col("jaccard") >= 0.9).collect()
    )
    assert gold
    for r in gold:
        ham = bin((fp[r.doc1] ^ fp[r.doc2]) & (2**64 - 1)).count("1")
        assert ham <= 16, f"near-dup pair {r.doc1},{r.doc2} hamming {ham}"


def test_simhash_pairs_match_allpairs_scan(spark):
    """Round-16 optimization moved the hamming filter BEFORE the
    candidate distinct (it shrinks the pair-proportional exchange
    ~5x). The blocked+filtered result must stay identical to a
    brute-force all-pairs hamming scan — the lossless-blocking
    contract the operator documents."""
    docs = load_table(spark, SF_DIR, "documents")
    fp = {r.doc_id: r.simhash for r in simhash_fingerprints(docs).collect()}
    ids = sorted(fp)
    expect = {
        (a, b, bin((fp[a] ^ fp[b]) & (2**64 - 1)).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin((fp[a] ^ fp[b]) & (2**64 - 1)).count("1") <= 3
    }
    got = {
        (r.doc1, r.doc2, r.hamming)
        for r in simhash_near_dup_pairs(docs).collect()
    }
    assert got == expect


def test_multimodal_real_decode_is_explicit_stub():
    import pytest

    from financial_tracker_etl_spark.ext.multimodal import real_decode

    with pytest.raises(NotImplementedError):
        real_decode(b"\x89PNG")


def test_multimodal_decode_survives_zero_row_input(spark):
    """A zero-row media frame must produce a zero-row feature frame:
    pd.DataFrame([]) has NO columns, so without the explicit column
    list the dtype astype raised KeyError inside the Arrow batch
    (round-15 ADVICE; the empty-relation fuzz axis produces exactly
    these batches)."""
    from financial_tracker_etl_spark.ext.multimodal import (
        documents_as_media,
        extract_features,
    )

    docs = load_table(spark, SF_DIR, "documents").filter(F.lit(False))
    out = extract_features(documents_as_media(docs))
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "n_bytes", "first_byte", "fake_width", "fake_height",
    ]


def test_ann_ivf_recall_vs_bruteforce(spark):
    """IVF with nprobe=4 of ~9 clusters must recover most true top-10
    neighbors; with nprobe=all clusters it must recover ALL of them
    (probing everything makes IVF exhaustive)."""
    from financial_tracker_etl_spark.ext.similarity import topk_cosine_ivf

    emb = load_table(spark, SF_DIR, "embeddings")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in topk_cosine_bruteforce(emb).collect()
    }
    assert exact
    approx = {
        (r.query_id, r.neighbor_id) for r in topk_cosine_ivf(emb).collect()
    }
    # near-orthogonal random vectors are IVF's worst case (see the LSH
    # note above): neighbors scatter ~uniformly over clusters, so
    # recall ~ nprobe/n_clusters. The strong check is the exhaustive
    # equality below; this floor just catches broken probe routing.
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2, f"ivf nprobe=4 recall {recall}"
    exhaustive = {
        (r.query_id, r.neighbor_id)
        for r in topk_cosine_ivf(emb, nprobe=10**6).collect()
    }
    assert exhaustive == exact


def test_fetch_with_fallback_degrades(spark):
    from financial_tracker_etl_spark.plans.fallback import fetch_with_fallback

    cached = spark.range(3)

    def boom():
        raise RuntimeError("api down")

    df, degraded = fetch_with_fallback(boom, lambda: cached)
    assert degraded and df.count() == 3
    df2, degraded2 = fetch_with_fallback(lambda: spark.range(5), lambda: cached)
    assert not degraded2 and df2.count() == 5


def test_frame_sampling_fanout_and_checksum(spark):
    """mapInPandas 1→N fan-out: every doc yields ceil(nbytes/256)/4
    sampled frames; checksums match a driver-side model."""
    from financial_tracker_etl_spark.ext.multimodal import (
        FRAME_BYTES,
        documents_as_media,
        sample_frames,
    )

    docs = load_table(spark, SF_DIR, "documents").limit(5)
    media = documents_as_media(docs)
    got = sample_frames(media).collect()
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in media.collect()}
    assert got
    for r in got:
        frame = payloads[r["doc_id"]][
            r["frame_offset"] : r["frame_offset"] + FRAME_BYTES
        ]
        assert r["n_frame_bytes"] == len(frame)
        assert r["frame_checksum"] == sum(frame)


def test_resize_preserves_aspect_and_bounds(spark):
    from financial_tracker_etl_spark.ext.multimodal import (
        documents_as_media,
        resize_plan,
    )

    docs = load_table(spark, SF_DIR, "documents").limit(20)
    for r in resize_plan(documents_as_media(docs), max_dim=32).collect():
        assert 1 <= r["out_width"] <= 32 and 1 <= r["out_height"] <= 32
        if max(r["fake_width"], r["fake_height"]) <= 32:
            assert (r["out_width"], r["out_height"]) == (
                r["fake_width"],
                r["fake_height"],
            )


def test_connected_components_chain_and_survivors(spark):
    """A chain (1-2, 2-3) and a separate pair (10-11) must form two
    components labeled by their min id; survivors = min per cluster +
    untouched docs."""
    from financial_tracker_etl_spark.ext.cluster import (
        connected_components,
        dedup_survivors,
    )

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11)], "doc1 long, doc2 long"
    )
    cc = {r["node"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in (1, 2, 3, 7, 10, 11)], "doc_id long, text string"
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup_survivors(docs, connected_components(edges)).collect()
    )
    assert kept == [1, 7, 10]


def test_cosine_near_dup_lsh_prefilter_is_subset_of_exact(spark):
    """The LSH-prefiltered near-dup pairs must be a strict SUBSET of
    the all-pairs exact result (precision 1.0 — every emitted pair is a
    true pair with its true cosine) with nonzero recall. On the
    near-orthogonal random test vectors recall is structurally low
    (see the ANN note above); on true near-dups (θ→0) the half-bucket
    agreement probability → 1."""
    from financial_tracker_etl_spark.ext.similarity import (
        cosine_near_dup_pairs,
        cosine_near_dup_pairs_exact,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    exact = {
        (r.vec1, r.vec2): r.cosine
        for r in cosine_near_dup_pairs_exact(emb, threshold=0.35).collect()
    }
    approx = {
        (r.vec1, r.vec2): r.cosine
        for r in cosine_near_dup_pairs(emb, threshold=0.35).collect()
    }
    assert exact and approx
    assert set(approx) <= set(exact)
    for pair, cos in approx.items():
        assert abs(exact[pair] - cos) < 1e-12


def test_stratified_sample_deterministic_and_stratified(spark):
    from financial_tracker_etl_spark.ext.sampling import stratified_sample

    docs = load_table(spark, SF_DIR, "documents")
    rates = {"en": 0.5, "de": 1.0, "zh": 0.0}
    a = stratified_sample(docs, "lang", rates).select("doc_id").collect()
    b = stratified_sample(docs, "lang", rates).select("doc_id").collect()
    assert {r.doc_id for r in a} == {r.doc_id for r in b}  # hash, not RNG
    by_lang = {
        r["lang"]: r["n"]
        for r in stratified_sample(docs, "lang", rates)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    totals = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert by_lang["de"] == totals["de"]  # rate 1.0 keeps everything
    assert "zh" not in by_lang  # rate 0.0 drops everything
    assert 0.3 < by_lang["en"] / totals["en"] < 0.7  # ~half of en
    assert "fr" not in by_lang  # default rate 0.0


def test_pack_sequences_offsets_are_contiguous_per_shard(spark):
    """stream_offset within a shard must be an exact prefix sum: starts
    at 0, each doc begins where the previous ended — the property that
    makes the packing a faithful concat-and-chunk layout."""
    from financial_tracker_etl_spark.ext.sampling import pack_sequences
    from financial_tracker_etl_spark.ext.text import tokens_col

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", F.size(tokens_col(F.col("text"))).cast("long").alias("n_tokens")
    )
    out = pack_sequences(docs, "n_tokens", max_tokens=512, shards=4)
    rows = sorted(
        out.select("shard", "doc_id", "n_tokens", "seq_id", "seq_offset").collect(),
        key=lambda r: (r.shard, r.doc_id),
    )
    offset_by_shard: dict[int, int] = {}
    for r in rows:
        expect = offset_by_shard.get(r.shard, 0)
        assert r.seq_id == expect // 512 and r.seq_offset == expect % 512, r
        offset_by_shard[r.shard] = expect + r.n_tokens


def test_leakage_safe_splits_keep_clusters_together(spark):
    from financial_tracker_etl_spark.ext.cluster import connected_components
    from financial_tracker_etl_spark.ext.dedup import shingle_jaccard_pairs
    from financial_tracker_etl_spark.ext.sampling import leakage_safe_splits

    docs = load_table(spark, SF_DIR, "documents")
    edges = shingle_jaccard_pairs(docs).filter(F.col("jaccard") >= 0.4)
    clusters = connected_components(edges).select(
        F.col("node").alias("doc_id"), "cluster_id"
    )
    out = leakage_safe_splits(docs, clusters)
    assert out.count() == docs.count()  # a split for every doc
    # leakage guard: no cluster spans more than one split
    spans = (
        out.groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .count()
    )
    assert spans == 0
    names = {r["split"] for r in out.select("split").distinct().collect()}
    assert names <= {"train", "val", "test"} and "train" in names


def test_pii_scrub_redacts_synthetic_rows(spark):
    from financial_tracker_etl_spark.ext.quality import with_pii_scrub

    df = spark.createDataFrame(
        [
            (1, "contact bob.smith+x@mail-host.example.org today"),
            (2, "call 555-867-5309 or 555.867.5309 now"),
            (3, "no pii here at all"),
            (4, "a@b.io and 123-456-7890 both"),
            # phone-shaped digits inside an email local part: redacted
            # as part of <EMAIL>, so it must NOT also count as a phone
            (5, "mail 555-123-4567@example.com please"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in with_pii_scrub(df).collect()}
    assert rows[1].n_emails == 1 and "<EMAIL>" in rows[1].text_scrubbed
    assert "@" not in rows[1].text_scrubbed
    assert rows[2].n_phones == 2 and rows[2].text_scrubbed.count("<PHONE>") == 2
    assert rows[3].n_emails == 0 and rows[3].n_phones == 0
    assert rows[3].text_scrubbed == "no pii here at all"
    assert rows[4].n_emails == 1 and rows[4].n_phones == 1
    # counts reconcile with the scrubbed text token-for-token
    assert (rows[5].n_emails, rows[5].n_phones) == (1, 0)
    assert rows[5].text_scrubbed.count("<EMAIL>") == 1
    assert "<PHONE>" not in rows[5].text_scrubbed
    for r in rows.values():
        assert r.text_scrubbed.count("<EMAIL>") == r.n_emails
        assert r.text_scrubbed.count("<PHONE>") == r.n_phones


def test_repetition_stats_known_answers(spark):
    from financial_tracker_etl_spark.ext.quality import with_repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a b a b a"),  # bigrams: ab ba ab ba -> top frac 0.5
            (2, "w x y z"),  # all distinct
            (3, "q q q q"),  # fully repeated
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in with_repetition_stats(df).collect()}
    assert rows[1].n_tokens == 5
    assert abs(rows[1].dup_token_frac - 0.6) < 1e-9  # 2 distinct of 5
    assert rows[1].top_bigram == "a b" and abs(rows[1].top_bigram_frac - 0.5) < 1e-9
    assert rows[2].dup_token_frac == 0.0
    assert abs(rows[2].top_bigram_frac - 1 / 3) < 1e-6
    assert rows[2].top_bigram == "w x"  # tie broken lexicographically
    assert rows[3].dup_token_frac == 0.75 and rows[3].top_bigram_frac == 1.0


def test_contamination_flags_shared_shingles(spark):
    from financial_tracker_etl_spark.ext.quality import contamination_check

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "intro text the quick brown fox jumps over something"),
            (2, "completely unrelated words with no overlap at all"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in contamination_check(corpus, bench).collect()}
    # doc 1 shares the 5-gram "the quick brown fox jumps" (and the
    # 4 following shifted windows overlap partially -> 2 full 5-grams)
    assert 1 in out and out[1].n_contaminated >= 1
    assert 2 not in out  # no shared shingle -> not flagged


def test_token_budget_mix_waterfills_to_limit(spark):
    from financial_tracker_etl_spark.ext.quality import tfidf_top_terms  # noqa: F401
    from financial_tracker_etl_spark.ext.sampling import mix_by_token_budget
    from financial_tracker_etl_spark.ext.text import tokens_col

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id",
        "source",
        F.size(tokens_col(F.col("text"))).cast("long").alias("n_tokens"),
    )
    weights = {"src0": 0.3, "src1": 0.25, "src2": 0.2, "src3": 0.15, "src4": 0.1}
    kept = mix_by_token_budget(docs, weights, "n_tokens")
    rates = {
        r.source: r.rate
        for r in kept.groupBy("source")
        .agg(F.min("_keep_rate").alias("rate"))
        .collect()
    }
    # only weighted sources survive, and every rate is a valid probability
    assert set(rates) <= set(weights)
    assert all(0 < v <= 1 + 1e-12 for v in rates.values())
    # water-filling: the limiting source keeps (essentially) everything
    assert max(rates.values()) > 1 - 1e-9
    # determinism: the same call selects the same doc set
    ids1 = {r.doc_id for r in kept.select("doc_id").collect()}
    ids2 = {
        r.doc_id
        for r in mix_by_token_budget(docs, weights, "n_tokens")
        .select("doc_id")
        .collect()
    }
    assert ids1 == ids2


def test_tfidf_ranks_are_dense_per_doc(spark):
    from financial_tracker_etl_spark.ext.quality import tfidf_top_terms

    docs = load_table(spark, SF_DIR, "documents")
    out = tfidf_top_terms(docs, k=3)
    per_doc = out.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.collect_set("rank").alias("ranks"),
        F.max("score_ppm").alias("mx"),
        F.min("score_ppm").alias("mn"),
    )
    bad = per_doc.filter(
        (F.col("n") > 3) | (F.col("mx") < F.col("mn"))
    ).count()
    assert bad == 0
    # rank 1's score is >= rank 3's within every doc (window ordering)
    r1 = out.filter(F.col("rank") == 1).select("doc_id", F.col("score_ppm").alias("s1"))
    r3 = out.filter(F.col("rank") == 3).select("doc_id", F.col("score_ppm").alias("s3"))
    assert r1.join(r3, "doc_id").filter(F.col("s1") < F.col("s3")).count() == 0


def test_kmeans_assign_planted_clusters(spark):
    from financial_tracker_etl_spark.ext.similarity import (
        kmeans_assign,
        label_centroids,
    )

    # two planted clusters around (1,0,...) and (0,1,...): every vector
    # must be assigned to its own cluster's centroid
    rows = []
    for i in range(20):
        eps = (i % 5) * 0.01
        rows.append((i, [1.0 - eps, eps, 0.0, 0.0], 0 if i < 10 else 1))
    # move the second half near the other axis
    rows = [
        (i, v if lab == 0 else [v[1], v[0], 0.0, 0.0], lab)
        for (i, v, lab) in rows
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    cent = label_centroids(emb)
    assert cent.count() == 2 * 4  # 2 labels x 4 dims
    out = {r.vec_id: r for r in kmeans_assign(emb, cent).collect()}
    assert len(out) == 20
    for i in range(20):
        assert out[i].assigned_label == (0 if i < 10 else 1), out[i]
        assert out[i].dist >= 0.0


def test_token_chunks_cover_every_token_contiguously(spark):
    from financial_tracker_etl_spark.ext.chunking import token_chunks

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(80))), (2, "one two"), (3, "solo")],
        "doc_id long, text string",
    )
    rows = token_chunks(docs, chunk_size=32, stride=24).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: 80 tokens -> starts 1,25,49; the chunk at 49 reaches the
    # doc end (49+31=80), so NO redundant tail chunk at 73 (it would
    # cover only tokens already inside the chunk at 49)
    d1 = sorted(by_doc[1], key=lambda r: r.start_token)
    assert [r.start_token for r in d1] == [1, 25, 49]
    assert [r.chunk_idx for r in d1] == [0, 1, 2]
    assert [r.n_chunk_tokens for r in d1] == [32, 32, 32]
    # every token index 1..80 falls inside at least one chunk
    covered = set()
    for r in d1:
        covered.update(range(r.start_token, r.start_token + r.n_chunk_tokens))
    assert covered == set(range(1, 81))
    # short docs yield exactly one chunk holding all tokens
    assert [(r.n_chunk_tokens, r.chunk_idx) for r in by_doc[2]] == [(2, 0)]
    assert [(r.n_chunk_tokens, r.chunk_idx) for r in by_doc[3]] == [(1, 0)]


def test_chunk_shared_stats_counts_cross_doc_spans(spark):
    from financial_tracker_etl_spark.ext.chunking import chunk_shared_stats

    shared_span = " ".join(f"s{i}" for i in range(32))
    uniq = lambda tag: " ".join(f"{tag}{i}" for i in range(32))  # noqa: E731
    docs = spark.createDataFrame(
        [
            (1, shared_span + " " + uniq("a")),
            (2, shared_span + " " + uniq("b")),
            (3, uniq("c")),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in chunk_shared_stats(docs, chunk_size=32).collect()}
    # docs 1 and 2 share exactly their first disjoint 32-token chunk
    assert out[1].n_chunks == 2 and out[1].n_shared_chunks == 1
    assert out[1].shared_ppm == 500_000
    assert out[2].n_shared_chunks == 1
    assert out[3].n_shared_chunks == 0 and out[3].shared_ppm == 0


def test_winnow_overlap_detects_containment(spark):
    from financial_tracker_etl_spark.ext.chunking import winnow_overlap_pairs

    base = "the quick brown fox jumps over the lazy dog again and again " * 8
    docs = spark.createDataFrame(
        [
            (1, base + " completely different tail content here"),
            (2, "unrelated prefix words then " + base),
            (3, "zebra xylophone quartz vortex jumble " * 10),
        ],
        "doc_id long, text string",
    )
    pairs = {(r.doc_a, r.doc_b): r for r in winnow_overlap_pairs(docs).collect()}
    assert (1, 2) in pairs, "shared block must produce an overlap pair"
    r = pairs[(1, 2)]
    assert r.shared_fps >= 2
    # containment vs the SMALLER fingerprint set approaches 1 for a
    # doc pasted into another; far above any chance collision level
    assert r.containment_ppm >= 500_000
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_dsir_importance_separates_target_profile(spark):
    from financial_tracker_etl_spark.ext.sampling import dsir_importance
    from financial_tracker_etl_spark.ext.text import tokens_col

    # target rows speak one vocabulary, non-target rows another;
    # a fresh doc written in target vocabulary must outscore one
    # written in non-target vocabulary
    rows = [(i, "alpha beta gamma delta epsilon", "en") for i in range(10)]
    rows += [(100 + i, "uno dos tres cuatro cinco", "es") for i in range(10)]
    rows += [(200, "alpha beta gamma beta alpha", "es")]  # target-like text
    rows += [(201, "uno dos tres dos uno", "en")]  # non-target-like text
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    is_target = F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0))
    out = {
        r.doc_id: r
        for r in dsir_importance(
            docs, is_target, tokens_col(F.col("text"))
        ).collect()
    }
    assert out[200].importance_ppm > out[201].importance_ppm
    # deterministic: same inputs, same scores
    again = {
        r.doc_id: r.importance_ppm
        for r in dsir_importance(
            docs, is_target, tokens_col(F.col("text"))
        ).collect()
    }
    assert again == {k: v.importance_ppm for k, v in out.items()}


def test_dsir_importance_releases_its_occurrence_cache(spark):
    """The corpus-wide exploded occurrence stream is the operator's
    dominant-cost intermediate; per the stage_on_key cache contract it
    must be unpersisted before dsir_importance returns (output is
    localCheckpoint-materialized, so laziness isn't lost). A leaked
    cache pins O(corpus tokens) storage for the whole session."""
    from financial_tracker_etl_spark.ext.sampling import dsir_importance
    from financial_tracker_etl_spark.ext.text import tokens_col

    def cached_rdd_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = cached_rdd_ids()
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma", "en") for i in range(5)],
        "doc_id long, text string, lang string",
    )
    out = dsir_importance(
        docs, F.lit(1), tokens_col(F.col("text"))
    )
    assert out.count() == 5
    # localCheckpoint registers its own RDD; the explode cache must be
    # gone. unpersist is async (blocking=False), so poll briefly.
    import time

    for _ in range(50):
        leaked = cached_rdd_ids() - before
        # the checkpointed output RDD is expected; a leak shows as >1
        if len(leaked) <= 1:
            break
        time.sleep(0.1)
    assert len(leaked) <= 1, f"occurrence cache leaked: {leaked}"


def test_length_filter_keeps_inner_band_per_source(spark):
    from financial_tracker_etl_spark.queries.ext import _q_length_filter
    from conftest import SF_DIR

    out = _q_length_filter(spark, SF_DIR)
    rows = out.collect()
    assert rows and all(0.05 <= r.len_pct_rank <= 0.95 for r in rows)
    # extremes per source must be gone: the max-length doc of any
    # source has percent_rank 1.0 and may never survive
    from financial_tracker_etl_spark.catalog import load_table

    docs = load_table(spark, SF_DIR, "documents")
    maxes = {
        (r.source, r.mx)
        for r in docs.groupBy("source").agg(F.max("n_chars").alias("mx")).collect()
    }
    kept = {(r.source, r.n_chars) for r in rows}
    assert not (maxes & kept)


def test_hll_estimate_accuracy_and_mergeability(spark):
    from financial_tracker_etl_spark.ext.sketches import (
        HLL_BUCKETS,
        hll_estimate,
        hll_registers,
    )

    n = 5000
    df = spark.range(n).select(
        F.lit("g").alias("grp"), F.col("id").alias("key")
    )
    regs = hll_registers(df, F.col("key"), ["grp"])
    est = hll_estimate(regs, ["grp"]).collect()[0]
    # raw-regime cardinality (n >> 2.5m): standard error ~1.04/sqrt(m)
    # = 6.5%; assert within 4 sigma
    assert abs(est.hll_estimate - n) / n < 0.26
    assert est.n_empty_buckets < HLL_BUCKETS // 4

    # sketches must merge: registers built from two halves then
    # max-folded equal the registers of the union (the property that
    # makes the sketch shard/retry/late-partition safe)
    h1 = spark.range(0, n // 2).select(F.lit("g").alias("grp"), F.col("id").alias("key"))
    h2 = spark.range(n // 2, n).select(F.lit("g").alias("grp"), F.col("id").alias("key"))
    merged = (
        hll_registers(h1, F.col("key"), ["grp"])
        .unionByName(hll_registers(h2, F.col("key"), ["grp"]))
        .groupBy("grp", "bucket")
        .agg(F.max("register").alias("register"))
    )
    est_merged = hll_estimate(merged, ["grp"]).collect()[0]
    assert est_merged.hll_estimate == est.hll_estimate


def test_semantic_dedup_classifies_both_modalities(spark):
    from financial_tracker_etl_spark.queries.ext import _q_semantic_dedup
    from conftest import SF_DIR

    rows = _q_semantic_dedup(spark, SF_DIR).collect()
    assert rows, "fixture corpus must contain semantic near-dup pairs"
    classes = {r.dup_class for r in rows}
    assert classes <= {"lexical+semantic", "semantic_only"}
    for r in rows:
        assert r.cosine >= 0.35
        if r.dup_class == "lexical+semantic":
            assert r.lexical_jaccard >= 0.4
        else:
            assert r.lexical_jaccard < 0.4


def test_doc_perplexity_surprise_tracks_conditional_probability(spark):
    """Docs whose prefixes branch (conditional prob < 1) must score
    higher surprise than docs whose every bigram is the only observed
    continuation of its prefix (conditional prob 1 -> surprise 1e6)."""
    from financial_tracker_etl_spark.queries.ext import _q_doc_perplexity
    import financial_tracker_etl_spark.queries.ext as ext_mod

    rows = [
        # prefix 'a' branches to 'b' and 'c' -> surprise(a,b)=surprise(a,c)=2e6
        ("mixed", "a b a c"),
        # all prefixes deterministic -> every bigram surprise exactly 1e6
        ("flat", "zq xw vy ut rs pq"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    orig = ext_mod.load_table
    ext_mod.load_table = lambda _s, _d, _t: docs
    try:
        out = {r.doc_id: r for r in _q_doc_perplexity(spark, "ignored").collect()}
    finally:
        ext_mod.load_table = orig
    assert out["flat"].avg_surprise_ppm == 1_000_000
    assert out["flat"].n_bigrams == 5
    # mixed: bigrams (a,b),(b,a),(a,c) -> (2e6 + 1e6 + 2e6) div 3
    assert out["mixed"].avg_surprise_ppm == 1_666_666
    assert out["mixed"].max_surprise_ppm == 2_000_000
    assert out["mixed"].avg_surprise_ppm > out["flat"].avg_surprise_ppm


def test_bloom_overlap_counts_planted_duplicates(spark):
    """A doc duplicated across sources must hit the other source's
    Bloom filter; a disjoint-content source must not (at 4 hashes /
    4096 bits the planted-fixture FP probability is ~1e-10, and the
    md5 positions are deterministic either way)."""
    from financial_tracker_etl_spark.queries.ext import _q_bloom_overlap
    import financial_tracker_etl_spark.queries.ext as ext_mod

    rows = [
        ("a1", "alpha beta gamma delta", "srcA"),
        ("a2", "epsilon zeta eta theta", "srcA"),
        ("b1", "alpha beta gamma delta", "srcB"),  # dup of a1
        ("b2", "iota kappa lambda mu", "srcB"),
        ("c1", "nu xi omicron pi", "srcC"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string, source string")
    orig = ext_mod.load_table
    ext_mod.load_table = lambda _s, _d, _t: docs
    try:
        out = {
            (r.probe_source, r.target_source): r
            for r in _q_bloom_overlap(spark, "ignored").collect()
        }
    finally:
        ext_mod.load_table = orig
    # every doc hits its own source's filter
    assert out[("srcA", "srcA")].n_hit_docs == 2
    assert out[("srcB", "srcB")].n_hit_docs == 2
    # the planted duplicate hits in both directions
    assert out[("srcB", "srcA")].n_hit_docs == 1
    assert out[("srcA", "srcB")].n_hit_docs == 1
    # disjoint content: zero hits (row may drop entirely when no bit overlaps)
    for pair in [("srcC", "srcA"), ("srcC", "srcB")]:
        assert pair not in out or out[pair].n_hit_docs == 0
    # filter fill: k=4 hashes per distinct key, minus any position collisions
    assert 0 < out[("srcA", "srcA")].fill_bits <= 8
    assert out[("srcA", "srcA")].n_docs == 2


def test_int8_quantize_known_vectors(spark):
    """Constant vectors quantize to all-zero codes with zero error;
    an exactly-representable ramp reconstructs losslessly; a
    non-grid-aligned vector must report a positive bounded error."""
    from financial_tracker_etl_spark.queries.ext import _q_embedding_quantize
    import financial_tracker_etl_spark.queries.ext as ext_mod

    rows = [
        (1, [5.0, 5.0, 5.0]),          # constant: vmax == vmin branch
        (2, [0.0, 1.0, 2.0, 3.0]),     # ramp: codes 0,85,170,255 exact
        (3, [0.0, 0.1, 1.0]),          # 0.1 is off the 1/255 grid
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    orig = ext_mod.load_table
    ext_mod.load_table = lambda _s, _d, _t: emb
    try:
        out = {r.vec_id: r for r in _q_embedding_quantize(spark, "x").collect()}
    finally:
        ext_mod.load_table = orig
    assert (out[1].q_checksum, out[1].max_err_ppb) == (0, 0)
    assert out[2].q_checksum == 0 + 85 + 170 + 255
    assert out[2].max_err_ppb == 0
    assert out[3].n_dims == 3
    assert 0 < out[3].max_err_ppb <= 2_000_000  # < half a grid step (~1.96e6 ppb)
    assert 0 < out[3].q_checksum <= 255 * 3


def test_connected_components_lineage_bounded_deep_graph(spark):
    """Scale guard (round-2 judge): the label-propagation loop must
    localCheckpoint each round so the logical plan does NOT grow with
    iteration count — a 100 TB run does tens of rounds and an O(rounds)
    lineage blows up planning. A 25-node path graph forces >10 rounds
    (min-label must travel the full diameter); the final plan must stay
    a flat checkpoint scan, not a 10-deep join tree."""
    from financial_tracker_etl_spark.ext.cluster import connected_components

    n = 25
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc1 long, doc2 long"
    )
    out = connected_components(edges, max_iter=40)
    rows = {r["node"]: r["cluster_id"] for r in out.collect()}
    assert rows == {i: 0 for i in range(n)}  # one component, min-id label
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # a checkpointed plan is LogicalRDD + a projection; an uncheckpointed
    # one would contain one Join node per iteration
    assert plan.count("Join") == 0, plan[:2000]
    assert len(plan) < 4000, len(plan)


def test_ann_pq_adc_recall_and_exact_degenerate(spark):
    """PQ-ADC sanity: (a) the degenerate config (m=1, every vector a
    codeword) encodes every vector as itself, so ADC == exact cosine
    and the top-k matches brute force pair-for-pair; (b) m=4 with the
    full codebook is still exact (each subvector quantizes to itself);
    (c) the default config keeps a recall floor on random
    near-orthogonal vectors (PQ's worst case — real clustered
    embeddings quantize far better)."""
    from financial_tracker_etl_spark.ext.similarity import (
        topk_cosine_bruteforce,
        topk_cosine_pq,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    bf = {(r.query_id, r.neighbor_id) for r in topk_cosine_bruteforce(emb).collect()}
    assert bf
    degen = {
        (r.query_id, r.neighbor_id)
        for r in topk_cosine_pq(emb, m=1, codeword_mod=1).collect()
    }
    assert degen == bf
    full_cb = {
        (r.query_id, r.neighbor_id)
        for r in topk_cosine_pq(emb, m=4, codeword_mod=1).collect()
    }
    assert full_cb == bf
    approx = {(r.query_id, r.neighbor_id) for r in topk_cosine_pq(emb).collect()}
    recall = len(bf & approx) / len(bf)
    assert recall >= 0.1, f"pq recall {recall}"


def test_duplicate_span_stats_known_answer(spark):
    """Planted repeats: an 8-gram repeated across docs marks exactly its
    spans; overlapping dup grams merge into one island; unique docs
    report zeros."""
    from financial_tracker_etl_spark.ext.chunking import duplicate_span_stats

    rep = "a b c d e f g h"  # the repeated 8-gram
    docs = spark.createDataFrame(
        [
            (1, f"{rep} x y z {rep} q"),        # spans [0,7] and [11,18]
            (2, " ".join(f"u{i}" for i in range(20))),  # all unique
            (3, f"{rep} i {rep} i"),            # periodic: every gram dups
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in duplicate_span_stats(docs).collect()}
    assert out[1].n_tokens == 20
    assert out[1].n_dup_spans == 2 and out[1].dup_tokens == 16
    assert out[1].dup_ppm == 800_000
    assert out[2].n_dup_spans == 0 and out[2].dup_tokens == 0
    # doc 3: "a..h i" twice = 18 tokens; dup gram starts are {0,1,9,10}
    # (grams crossing the period boundary occur once), so the merge
    # yields islands [0,8] and [9,17] — all 18 tokens in 2 spans
    assert out[3].n_tokens == 18
    assert out[3].n_dup_spans == 2 and out[3].dup_tokens == 18
    assert out[3].dup_ppm == 1_000_000


def test_shard_assignments_deterministic_balanced_contiguous(spark):
    """Sharding must be (a) reproducible run-to-run, (b) hash-balanced,
    (c) gapless: shard_pos is exactly 1..count within every shard —
    the property that makes the terminal corpus write resumable."""
    from financial_tracker_etl_spark.ext.sampling import shard_assignments

    docs = load_table(spark, SF_DIR, "documents")
    a = shard_assignments(docs).collect()
    b = shard_assignments(docs).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    by_shard = {}
    for r in a:
        by_shard.setdefault(r.shard_id, []).append(r.shard_pos)
    n, k = len(a), len(by_shard)
    assert k == 16
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
        # binomial spread: no shard further than 5 sigma from n/16
        import math

        sigma = math.sqrt(n * (1 / 16) * (15 / 16))
        assert abs(len(poss) - n / 16) < 5 * sigma, (shard, len(poss))


def test_cms_estimates_overcount_and_near_exact_for_heavy_hitters(spark):
    """CMS point estimates can only OVERcount (collisions add), and for
    heavy hitters in a small vocabulary the 4x512 sketch should be
    exact or nearly so."""
    from financial_tracker_etl_spark.queries.ext import _q_cms

    rows = _q_cms(spark, SF_DIR).collect()
    assert len(rows) == 20
    for r in rows:
        assert r.cms_est >= r.true_count, r
        assert r.cms_est <= r.true_count * 2, r  # small-vocab sanity


def test_pps_sample_selects_by_weight_deterministically(spark):
    """Systematic PPS: a document whose weight exceeds the step is
    ALWAYS selected; total selections land within one of n_select; and
    the selection is reproducible."""
    from financial_tracker_etl_spark.ext.sampling import pps_systematic_sample

    docs = spark.createDataFrame(
        [(i, 10) for i in range(200)] + [(500, 5000)],
        "doc_id long, n_chars long",
    )
    # total = 7000, n_select=10 -> step=700; the 5000-weight doc spans
    # multiple step boundaries and must be picked
    got = pps_systematic_sample(docs, n_select=10).collect()
    ids = {r.doc_id for r in got}
    assert 500 in ids
    # a doc spanning k boundaries is emitted once but absorbs k slots:
    # the spanned-boundary total is exactly total//step boundaries
    step = 7000 // 10
    spanned = sum(
        r.cum_w // step - (r.cum_w - r.weight) // step for r in got
    )
    assert spanned == 10
    again = {r.doc_id for r in pps_systematic_sample(docs, n_select=10).collect()}
    assert ids == again
    # real corpus: 100 requested -> 100 +- 1 selected
    corpus = load_table(spark, SF_DIR, "documents")
    n = pps_systematic_sample(corpus).count()
    assert 99 <= n <= 101


def test_ann_ivfpq_composes_consistently(spark):
    """IVF+PQ with nprobe=all clusters degrades to plain PQ (the gate
    admits everything), and with the default nprobe each query's result
    is a subset of the PQ candidate scoring restricted to probed
    clusters — i.e. the composition changes WHICH vectors are scanned,
    never HOW they are scored."""
    from financial_tracker_etl_spark.ext.similarity import (
        topk_cosine_ivfpq,
        topk_cosine_pq,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    pq = {
        (r.query_id, r.neighbor_id, r.rank, r.adc)
        for r in topk_cosine_pq(emb).collect()
    }
    exhaustive = {
        (r.query_id, r.neighbor_id, r.rank, r.adc)
        for r in topk_cosine_ivfpq(emb, nprobe=10**6).collect()
    }
    assert exhaustive == pq
    gated = [(r.query_id, r.neighbor_id, r.adc) for r in topk_cosine_ivfpq(emb).collect()]
    assert gated
    pq_scores = {(q, n): a for q, n, _, a in pq}
    for q, n, a in gated:
        if (q, n) in pq_scores:  # same pair must carry the same ADC score
            assert abs(pq_scores[(q, n)] - a) < 1e-9


def test_per_stratum_sample_exact_n_and_pushed_down(spark):
    """Exactly min(N, stratum size) rows per stratum, deterministic,
    and planned as a WindowGroupLimit (top-n pushdown), never a full
    per-stratum sort."""
    from financial_tracker_etl_spark.ext.sampling import per_stratum_top_n

    docs = load_table(spark, SF_DIR, "documents")
    sizes = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    out = per_stratum_top_n(docs, n=20)
    got = {}
    for r in out.collect():
        got.setdefault(r.lang, []).append(r.sample_rank)
    for lang, size in sizes.items():
        assert sorted(got[lang]) == list(range(1, min(20, size) + 1)), lang
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    again = {(r.doc_id, r.sample_rank) for r in per_stratum_top_n(docs, n=20).collect()}
    assert again == {(r.doc_id, r.sample_rank) for r in out.collect()}


def _py_bpe_train(word_counts: dict[str, int], n_merges: int):
    """Reference BPE trainer (textbook formulation, same determinism
    contract: max count, lexicographic tie-break, </w> terminal)."""
    import collections

    symtab = {tuple(list(w) + ["</w>"]): c for w, c in word_counts.items()}
    merges = []
    for _ in range(n_merges):
        pcs = collections.Counter()
        for syms, c in symtab.items():
            for a, b in zip(syms, syms[1:]):
                pcs[(a, b)] += c
        if not pcs:
            break
        (a, b), cnt = min(pcs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, cnt))
        nxt: dict[tuple, int] = {}
        for syms, c in symtab.items():
            res, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            key = tuple(res)
            nxt[key] = nxt.get(key, 0) + c
        symtab = nxt
    return merges, symtab


def test_bpe_train_matches_reference_implementation(spark):
    """The distributed trainer (word-type compression + column-fold
    merge application + 1-row argmax per iteration) must reproduce the
    textbook sequential BPE exactly: same merges in the same order with
    the same counts, and the same per-document token counts after
    applying the learned merges."""
    import collections
    import re

    from financial_tracker_etl_spark.ext.tokenizer import (
        segment_with_merges,
        train_merges,
    )

    docs = load_table(spark, SF_DIR, "documents")
    merges = train_merges(docs, 12)

    texts = [r.text for r in docs.select("text").collect()]
    wc = collections.Counter(
        w for t in texts for w in re.split(r"\s+", t.lower().strip()) if w
    )
    ref_merges, _ = _py_bpe_train(dict(wc), 12)
    assert merges == ref_merges

    # applying the learned merges: doc token counts must agree with a
    # per-word replay of the reference merge list
    by_word = {}
    for w in wc:
        syms = tuple(list(w) + ["</w>"])
        for a, b, _ in ref_merges:
            res, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            syms = tuple(res)
        by_word[w] = len(syms)
    got = {
        r.doc_id: r.n_bpe_trained_tokens
        for r in segment_with_merges(docs, merges).select(
            "doc_id", "n_bpe_trained_tokens"
        ).collect()
    }
    want = {
        r.doc_id: sum(
            by_word[w]
            for w in re.split(r"\s+", r.text.lower().strip())
            if w
        )
        for r in docs.select("doc_id", "text").collect()
    }
    assert got == want


def test_bpe_trainer_plan_stays_bounded(spark):
    """localCheckpoint between merge iterations keeps the symbol-table
    plan from accreting one fold per merge (the iterative-lineage
    lesson): after training, one more pair-count plan must stay small."""
    from financial_tracker_etl_spark.ext.tokenizer import (
        pair_counts,
        word_symbol_table,
    )

    docs = load_table(spark, SF_DIR, "documents")
    symtab = word_symbol_table(docs).localCheckpoint(eager=True)
    plan_len = len(
        pair_counts(symtab)._jdf.queryExecution().executedPlan().toString()
    )
    # a checkpointed table's scan plan is flat; 20k chars is far above
    # its size but far below what 12 accreted folds would produce
    assert plan_len < 20_000


def test_ann_ivf_every_vector_a_centroid_degenerate(spark):
    """centroid_mod=1 must mean 'every vector is a centroid' (the
    exactness degenerate pq_codebook already guarded) — with
    exhaustive probing it must equal brute force, never the silently
    empty result a bare `% mod == 1` filter produced."""
    from financial_tracker_etl_spark.ext.similarity import topk_cosine_ivf

    emb = load_table(spark, SF_DIR, "embeddings").limit(40)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in topk_cosine_bruteforce(emb, k=3).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in topk_cosine_ivf(
            emb, k=3, centroid_mod=1, nprobe=10**6
        ).collect()
    }
    assert got == exact and got


def test_pps_sample_degenerates_to_all_rows_when_budget_exceeds_total(spark):
    """total_weight < n_select once truncated step to 0 (division
    error / empty sample); the clamp to step=1 must instead select
    every positive-weight row — the sensible reading of 'asked for
    more samples than weight exists'."""
    from financial_tracker_etl_spark.ext.sampling import (
        pps_systematic_sample,
    )

    docs = spark.createDataFrame(
        [(i, 1) for i in range(10)], "doc_id long, n_chars long"
    )
    got = pps_systematic_sample(
        docs, weight_col="n_chars", n_select=100
    ).count()
    assert got == 10

    import pytest

    with pytest.raises(TypeError, match="numeric"):
        pps_systematic_sample(
            docs.withColumn("doc_id", F.col("doc_id").cast("string")),
            weight_col="n_chars",
        )


def test_pps_step_is_integer_exact_past_double_precision(spark):
    """step = total div n_select must use integral division like the
    selection itself: at total = 2^53 + 1 a double divide rounds the
    step down to 2^53, shifting the selection boundary onto the wrong
    row — exactly the regime the integer-exact selection exists for."""
    from financial_tracker_etl_spark.ext.sampling import (
        pps_systematic_sample,
    )

    big = 2**53  # doubles cannot represent 2^53 + 1
    docs = spark.createDataFrame(
        [(1, big), (2, 1)], "doc_id long, n_chars long"
    )
    # total = 2^53 + 1, n_select = 1 -> step = 2^53 + 1 exactly.
    # Integer-exact: only doc 2's interval [2^53, 2^53+1) spans the
    # single boundary. A double-rounded step of 2^53 would select
    # doc 1 instead.
    got = {r.doc_id for r in pps_systematic_sample(docs, n_select=1).collect()}
    assert got == {2}


def test_token_mix_ignores_zero_token_weighted_source(spark):
    """A weighted source whose docs carry zero token mass must not
    anchor the water-fill at budget 0 (which silently zeroed every
    source's rate); it is excluded like an absent source."""
    from financial_tracker_etl_spark.ext.sampling import mix_by_token_budget

    docs = spark.createDataFrame(
        [(i, "a", 10) for i in range(40)]
        + [(100 + i, "b", 0) for i in range(5)],
        "doc_id long, source string, n_tokens long",
    )
    kept = mix_by_token_budget(
        docs, {"a": 0.5, "b": 0.5}, n_tokens_col="n_tokens"
    )
    srcs = {r.source for r in kept.collect()}
    # source a survives with rate 1 (it is the only token-bearing
    # weighted source); b contributes nothing either way
    assert srcs == {"a"}
    assert kept.count() == 40


def test_minhash_lsh_releases_its_shingle_cache(spark):
    """minhash_lsh_near_dups persists the exploded shingle rows for
    its two consuming passes; per the stage_on_key cache contract the
    O(pairs) output is localCheckpoint-materialized and the shingle
    cache released before return — a leak pins O(corpus shingles)
    storage for the whole session (same class as the dsir_importance
    advisory)."""
    import time

    from financial_tracker_etl_spark.ext.dedup import minhash_near_dups

    def cached_rdd_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = cached_rdd_ids()
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(6)],
        "doc_id long, text string",
    )
    assert minhash_near_dups(docs, threshold=0.0).count() >= 0
    for _ in range(50):
        leaked = cached_rdd_ids() - before
        if len(leaked) <= 1:  # the checkpointed output RDD is expected
            break
        time.sleep(0.1)
    assert len(leaked) <= 1, f"shingle cache leaked: {leaked}"


def test_pagerank_checkpoint_cadence_is_value_invariant(spark):
    """Lineage-cut cadence is an execution knob, never arithmetic:
    pagerank must produce bitwise-identical ranks at any ckpt_every
    (regression for the round-6 cadence change)."""
    from pyspark.sql import functions as F

    from financial_tracker_etl_spark.catalog import load_table
    from financial_tracker_etl_spark.ext.graph import pagerank

    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
    base = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    edges = base.select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
        "w",
    ).unionByName(
        base.select(
            (F.col("l_suppkey") * 2 + 1).alias("src"),
            (F.col("o_custkey") * 2).alias("dst"),
            "w",
        )
    )
    outs = [
        pagerank(edges, iters=3, ckpt_every=k).orderBy("node").collect()
        for k in (1, 2, 3)
    ]
    assert outs[0] == outs[1] == outs[2]
    assert len(outs[0]) > 0


def test_materialize_release_contract(spark):
    """The fan-out operators' staging helper must (a) return a CACHED
    frame whose lineage is intact (persist, never a checkpoint — so an
    executor loss recomputes instead of failing), and (b) release the
    staging caches it consumed."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from financial_tracker_etl_spark.ext import materialize_release

    staged = spark.range(100).withColumn("v", F.col("id") * 2).persist()
    staged.count()
    assert staged.storageLevel != StorageLevel.NONE
    out = materialize_release(staged.groupBy((F.col("id") % 10).alias("k")).count(), staged)
    # output is cached and already materialized
    assert out.storageLevel != StorageLevel.NONE
    # staging cache released
    assert staged.storageLevel == StorageLevel.NONE
    # lineage kept: the plan is a real query tree, not a scan of
    # checkpoint blocks (LogicalRDD)
    assert "LogicalRDD" not in out._jdf.queryExecution().analyzed().toString()
    assert out.count() == 10


def test_iterative_ops_value_identical_on_reliable_checkpoint_path(
    spark, tmp_path
):
    """The checkpointDir conf must be purely an execution choice for
    EVERY iterative operator: pagerank ranks and BPE merge lists are
    identical with the conf set (durable parquet cuts) and unset
    (localCheckpoint)."""
    from financial_tracker_etl_spark.ext import CHECKPOINT_DIR_CONF
    from financial_tracker_etl_spark.ext.graph import pagerank
    from financial_tracker_etl_spark.ext.tokenizer import train_merges

    edges = spark.createDataFrame(
        [(1, 2, 3), (2, 1, 3), (2, 3, 1), (3, 2, 1), (1, 3, 2), (3, 1, 2)],
        "src long, dst long, w long",
    )
    docs = spark.createDataFrame(
        [("low lower lowest",), ("new newer newest",), ("low new",)],
        "text string",
    )
    local_ranks = pagerank(edges, iters=3).orderBy("node").collect()
    local_merges = train_merges(docs, n_merges=4)
    spark.conf.set(CHECKPOINT_DIR_CONF, str(tmp_path / "iter_ckpt"))
    try:
        reliable_ranks = pagerank(edges, iters=3).orderBy("node").collect()
        reliable_merges = train_merges(docs, n_merges=4)
    finally:
        spark.conf.unset(CHECKPOINT_DIR_CONF)
    assert reliable_ranks == local_ranks
    assert reliable_merges == local_merges


def _files_under(root):
    import os

    return [os.path.join(dp, f) for dp, _, fs in os.walk(root) for f in fs]


def test_cut_lineage_reliable_checkpoint_knob(spark, tmp_path):
    """The per-iteration lineage cuts must be cluster-recoverable on
    demand. With the checkpointDir conf set, a LineageCuts run writes
    its cuts as files under that directory instead of localCheckpoint
    blocks (non-replicated executor storage — executor loss fails the
    job), and the iterative results are identical on either path. The
    conf is read when the run starts."""
    from financial_tracker_etl_spark.ext import CHECKPOINT_DIR_CONF, LineageCuts
    from financial_tracker_etl_spark.ext.cluster import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "doc1 long, doc2 long"
    )
    local_out = connected_components(edges).orderBy("node").collect()

    ckpt_dir = str(tmp_path / "reliable")
    spark.conf.set(CHECKPOINT_DIR_CONF, ckpt_dir)
    try:
        cut = LineageCuts(spark)
        df = cut(spark.range(5))
        # durable path: the plan reads files written under the
        # configured directory, not checkpoint blocks
        assert _files_under(ckpt_dir), "no cut files written under the conf dir"
        assert "LogicalRDD" not in df._jdf.queryExecution().analyzed().toString()
        assert df.count() == 5
        reliable_out = connected_components(edges).orderBy("node").collect()
    finally:
        spark.conf.unset(CHECKPOINT_DIR_CONF)
    assert reliable_out == local_out
    # conf unset: back to localCheckpoint, nothing new written
    n_files = len(_files_under(ckpt_dir))
    LineageCuts(spark)(spark.range(3)).count()
    assert len(_files_under(ckpt_dir)) == n_files


def _cuts_under(root):
    """All cut directories anywhere under ``root`` (durable cuts live
    at <root>/<run uuid>/<seq>)."""
    import os

    return [
        os.path.join(root, run, seq)
        for run in os.listdir(root)
        for seq in os.listdir(os.path.join(root, run))
    ]


def test_checkpoint_retention_invariant(spark, tmp_path):
    """After N conf-set cuts in one run, at most CHECKPOINT_KEEP cuts
    survive in the run's directory, and the frame returned by every
    surviving cut, the newest included, stays readable."""
    from financial_tracker_etl_spark.ext import (
        CHECKPOINT_DIR_CONF,
        CHECKPOINT_KEEP,
        LineageCuts,
    )

    knob = tmp_path / "retention"
    spark.conf.set(CHECKPOINT_DIR_CONF, str(knob))
    try:
        cut = LineageCuts(spark)
        frames = [cut(spark.range(i + 1)) for i in range(6)]
        assert len(list(knob.iterdir())) == 1  # one run, one directory
        assert len(_cuts_under(knob)) <= CHECKPOINT_KEEP
        # the newest CHECKPOINT_KEEP frames (incl. the "returned" last
        # one) survive and stay collectable
        for want, df in zip(range(5, 5 - CHECKPOINT_KEEP, -1), frames[::-1]):
            assert df.count() == want + 1
    finally:
        spark.conf.unset(CHECKPOINT_DIR_CONF)


def test_checkpoint_reap_spares_foreign_checkpoints(spark, tmp_path):
    """Direct user df.checkpoint() output in the context-global
    checkpoint dir is not a LineageCuts cut and must survive any number
    of conf-set cuts — which never re-point the context's checkpoint
    directory."""
    from financial_tracker_etl_spark.ext import CHECKPOINT_DIR_CONF, LineageCuts

    sc = spark.sparkContext
    prev = sc.getCheckpointDir()
    if prev is None:
        sc.setCheckpointDir(str(tmp_path / "user"))
    before = sc.getCheckpointDir()
    knob = tmp_path / "shared"
    spark.conf.set(CHECKPOINT_DIR_CONF, str(knob))
    try:
        LineageCuts(spark)(spark.range(1))
        user_df = spark.range(100).checkpoint(eager=True)  # foreign
        cut = LineageCuts(spark)
        for i in range(5):
            cut(spark.range(2 + i))
        assert user_df.count() == 100  # files never reaped
        assert sc.getCheckpointDir() == before
    finally:
        spark.conf.unset(CHECKPOINT_DIR_CONF)


def test_checkpoint_composition_pagerank_then_bfs(spark, tmp_path):
    """pagerank's returned frame is backed by its final durable cut;
    running bfs_hops (>= 2 further cuts) in the same conf-set session
    must not delete those files — the pagerank result stays collectable
    and identical to the conf-unset run. This is the conf's own
    multi-operator batch scenario."""
    from financial_tracker_etl_spark.ext import CHECKPOINT_DIR_CONF
    from financial_tracker_etl_spark.ext.graph import bfs_hops, pagerank

    edges = spark.createDataFrame(
        [(1, 2, 3), (2, 1, 3), (2, 3, 1), (3, 2, 1), (1, 3, 2), (3, 1, 2)],
        "src long, dst long, w long",
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    expected = pagerank(edges, iters=4).orderBy("node").collect()
    spark.conf.set(CHECKPOINT_DIR_CONF, str(tmp_path / "compose"))
    try:
        pr = pagerank(edges, iters=4)
        hops = bfs_hops(edges, seeds, max_hops=4)
        assert hops.count() == 3
        assert pr.orderBy("node").collect() == expected
    finally:
        spark.conf.unset(CHECKPOINT_DIR_CONF)


@pytest.mark.parametrize(
    "op", ["pagerank", "bfs_hops", "connected_components", "kmeans_assign"]
)
def test_reliable_checkpoint_value_identity_matrix(spark, tmp_path, op):
    """The checkpointDir conf is purely an execution choice for EVERY
    iterative operator — results are identical with the conf set
    (durable parquet cuts) and unset (localCheckpoint): pagerank,
    bfs_hops, connected_components and the k-means E-step."""
    from financial_tracker_etl_spark.ext import CHECKPOINT_DIR_CONF

    def run():
        if op == "pagerank":
            from financial_tracker_etl_spark.ext.graph import pagerank

            edges = spark.createDataFrame(
                [(1, 2, 1), (2, 3, 2), (3, 1, 1), (1, 3, 1)],
                "src long, dst long, w long",
            )
            return pagerank(edges, iters=3).orderBy("node").collect()
        if op == "bfs_hops":
            from financial_tracker_etl_spark.ext.graph import bfs_hops

            edges = spark.createDataFrame(
                [(1, 2), (2, 3), (3, 4), (4, 5), (1, 5)], "src long, dst long"
            )
            seeds = spark.createDataFrame([(1,)], "node long")
            return bfs_hops(edges, seeds, max_hops=3).orderBy("node").collect()
        if op == "connected_components":
            from financial_tracker_etl_spark.ext.cluster import (
                connected_components,
            )

            edges = spark.createDataFrame(
                [(1, 2), (2, 3), (10, 11), (20, 20)], "doc1 long, doc2 long"
            )
            return connected_components(edges).orderBy("node").collect()
        from financial_tracker_etl_spark.ext.similarity import (
            kmeans_assign,
            label_centroids,
        )

        emb = spark.createDataFrame(
            [(1, [0.1, 0.9], "a"), (2, [0.8, 0.2], "b"), (3, [0.15, 0.85], "a")],
            "vec_id long, embedding array<float>, label string",
        )
        return (
            kmeans_assign(emb, label_centroids(emb))
            .orderBy("vec_id")
            .collect()
        )

    local = run()
    spark.conf.set(CHECKPOINT_DIR_CONF, str(tmp_path / "matrix"))
    try:
        reliable = run()
    finally:
        spark.conf.unset(CHECKPOINT_DIR_CONF)
    assert reliable == local


def test_reliable_checkpoint_empty_inputs_match_local(spark, tmp_path):
    """Empty inputs with the conf set: a cut is a parquet round trip of
    zero rows, and BFS, connected components and BPE training return
    the same (empty) rows and the same column names and types as on the
    localCheckpoint path."""
    from financial_tracker_etl_spark.ext import CHECKPOINT_DIR_CONF
    from financial_tracker_etl_spark.ext.cluster import connected_components
    from financial_tracker_etl_spark.ext.graph import bfs_hops
    from financial_tracker_etl_spark.ext.tokenizer import train_merges

    edges = spark.createDataFrame([], "src long, dst long")
    seeds = spark.createDataFrame([], "node long")
    pairs = spark.createDataFrame([], "doc1 long, doc2 long")
    docs = spark.createDataFrame([], "text string")

    def run():
        bfs = bfs_hops(edges, seeds, max_hops=2)
        cc = connected_components(pairs)
        return (
            (bfs.dtypes, bfs.collect()),
            (cc.dtypes, cc.collect()),
            train_merges(docs, n_merges=3),
        )

    local = run()
    spark.conf.set(CHECKPOINT_DIR_CONF, str(tmp_path / "empty"))
    try:
        reliable = run()
    finally:
        spark.conf.unset(CHECKPOINT_DIR_CONF)
    assert reliable == local
    assert local[0][1] == [] and local[1][1] == [] and local[2] == []


def test_checkpoint_scopes_are_thread_isolated(spark, tmp_path):
    """Spark supports concurrent driver-thread jobs on one context, so
    two conf-set iterative operators may interleave cuts. Each run owns
    its own directory: neither may delete a cut the other made, so both
    runs' results stay collectable and identical to a sequential
    conf-unset run (each makes enough cuts that a shared retention
    window WOULD have deleted the other's survivors)."""
    import threading

    from financial_tracker_etl_spark.ext import CHECKPOINT_DIR_CONF
    from financial_tracker_etl_spark.ext.graph import pagerank

    graphs = {
        "a": spark.createDataFrame(
            [(1, 2, 3), (2, 1, 3), (2, 3, 1), (3, 2, 1)],
            "src long, dst long, w long",
        ),
        "b": spark.createDataFrame(
            [(10, 11, 1), (11, 12, 2), (12, 10, 1), (10, 12, 5)],
            "src long, dst long, w long",
        ),
    }
    expected = {
        k: pagerank(g, iters=6).orderBy("node").collect()
        for k, g in graphs.items()
    }
    knob = tmp_path / "threads"
    spark.conf.set(CHECKPOINT_DIR_CONF, str(knob))
    results: dict[str, object] = {}

    def worker(name: str) -> None:
        try:
            results[name] = pagerank(graphs[name], iters=6)
        except Exception as e:  # surfaced to the main thread below
            results[name] = e

    try:
        threads = [threading.Thread(target=worker, args=(k,)) for k in graphs]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
            assert not t.is_alive()
        for k in graphs:
            assert not isinstance(results[k], Exception), results[k]
        # two runs, two directories
        assert len(list(knob.iterdir())) == 2
        # both final cuts must still be readable: a cross-run delete
        # would fail here with a missing file
        for k in graphs:
            assert results[k].orderBy("node").collect() == expected[k]
    finally:
        spark.conf.unset(CHECKPOINT_DIR_CONF)


def test_registry_pagerank_knob_value_identity(spark, tmp_path):
    """Registry-level conf differential: the REAL purchase-graph
    pagerank query (full TPC-H edge build + a LineageCuts run with
    retention) returns identical rows with the checkpointDir conf set
    and unset — the toy-frame matrix test, upgraded to the shipped
    query plumbing."""
    from financial_tracker_etl_spark.ext import CHECKPOINT_DIR_CONF
    from financial_tracker_etl_spark.queries import registry

    fn = registry()["purchase_graph_pagerank"].fn
    local = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    spark.conf.set(CHECKPOINT_DIR_CONF, str(tmp_path / "reg_knob"))
    try:
        reliable = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    finally:
        spark.conf.unset(CHECKPOINT_DIR_CONF)
    assert reliable == local and len(local) > 0


def test_pagerank_empty_graph_returns_empty_not_zerodivision(spark):
    """Round-16 empty-relation axis: an empty edge list seeded
    1e6 // n_nodes with n_nodes = 0 — a DRIVER-side ZeroDivisionError
    that killed the whole query before any Spark job ran. An empty
    graph now yields an empty (node, rank_ppm) frame, matching the
    unrolled SQL oracle's zero rows on the same input."""
    from financial_tracker_etl_spark.ext.graph import pagerank

    edges = spark.createDataFrame([], "src long, dst long, w long")
    out = pagerank(edges, iters=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["node", "rank_ppm"]


def test_hll_shard_merge_emits_empty_sketch_row_on_empty_events(spark):
    """Round-16 empty-relation axis: the global exact aggregate yields
    one row on zero input (SQL semantics) but the register relation is
    empty, so the old inner join dropped the row while the oracle
    emitted (0 users, 0 shards, 256 empty buckets, NULL estimate)."""
    import financial_tracker_etl_spark.queries.ext as qe
    from financial_tracker_etl_spark.queries import registry

    empty = load_table(spark, SF_DIR, "events").filter(F.lit(False))
    orig = qe.load_table
    qe.load_table = lambda _s, _d, name: empty
    try:
        row = registry()["hll_shard_merge"].fn(spark, SF_DIR).collect()
    finally:
        qe.load_table = orig
    assert len(row) == 1
    r = row[0]
    assert (r.n_exact, r.n_shards_merged, r.n_empty_buckets) == (0, 0, 256)
    assert r.hll_estimate is None


def test_span_stats_instance_keyed_on_duplicate_ids(spark):
    """Round-16 fuzzer (dupes × unicode interaction): duplicate doc_ids
    whose copies carry DIFFERENT texts used to share one pos-window, so
    lead()'s gram stream depended on which copy's token won the pos
    tie — engine- and partitioning-dependent. Windows now key by the
    document instance (doc_id, md5(text)): each copy reports its own
    n_tokens/span stats, and the result is invariant under physical
    repartitioning."""
    from financial_tracker_etl_spark.ext.chunking import (
        duplicate_span_stats,
    )

    rep = "w1 w2 w3 w4 w5 w6 w7 w8 " * 4  # 8-gram repeats -> dup spans
    docs = spark.createDataFrame(
        [(1, rep.strip()), (1, "lone"), (2, rep.strip()), (3, "x y z")],
        "doc_id long, text string",
    )
    key = lambda r: (r.doc_id, r.n_tokens)
    out1 = sorted(duplicate_span_stats(docs).collect(), key=key)
    out2 = sorted(
        duplicate_span_stats(docs.repartition(7)).collect(), key=key
    )
    assert out1 == out2  # plan-invariant
    by_key = {key(r): r for r in out1}
    assert len(out1) == 4  # one row PER INSTANCE, ids preserved
    # the 1-token copy of doc 1 is its own instance: no spans leak in
    assert by_key[(1, 1)].dup_tokens == 0
    # both full copies are fully duplicated (each gram occurs >= 2x)
    assert by_key[(1, 32)].dup_tokens == 32
    assert by_key[(2, 32)].dup_tokens == 32


def test_novelty_scores_multiset_semantics_on_duplicate_doc_ids(
    spark, tmp_path
):
    """Round-16 fuzz find: with several rows per doc_id (the 'dupes'/
    'nulls' mutation shape), ngram_novelty_scores must aggregate
    shingle OCCURRENCES per doc_id — n_shingles sums the per-row set
    sizes, and an owned shingle counts once per owner row — exactly
    the oracle's exploded-occurrence GROUP BY. The first size-based
    rewrite emitted one row per INPUT ROW and undercounted ownership,
    so this pins the repaired multiset form on a corpus with (a) an
    exact duplicate pair, (b) a doc whose two rows differ in text, and
    (c) a short row that contributes nothing."""
    import os

    from financial_tracker_etl_spark.queries import registry

    rows = [
        # doc 1: two IDENTICAL rows; owns its 2 distinct shingles
        # (first occurrence), each counted TWICE (once per row)
        (1, "a b c d e f", "en", "s1", 11),
        (1, "a b c d e f", "en", "s1", 11),
        # doc 2: same text, later arrival: 2 shingles, 0 novel
        (2, "a b c d e f", "en", "s1", 11),
        # doc 3: two rows with DIFFERENT text; row 2 shares one
        # shingle with docs 1/2
        (3, "p q r s t", "en", "s1", 9),
        (3, "a b c d e x", "en", "s1", 11),
        # doc 3's short second row shape: doc 4 has a <5-token row
        # (dropped) plus nothing else -> absent from the output
        (4, "x y", "en", "s1", 3),
    ]
    d = os.path.join(str(tmp_path), "sf_dup")
    os.makedirs(d)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))

    out = {
        r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty_ppm"])
        for r in registry()["ngram_novelty_scores"].fn(spark, d).collect()
    }
    # doc 1: rows 2x{abcde, bcdef} -> n_shingles 4; owns both shingles,
    # multiplicity 2 each -> n_novel 4 -> ppm 1_000_000
    # doc 2: {abcde, bcdef} -> 2; both first seen in doc 1 -> 0 novel
    # doc 3: {pqrst} + {abcde, bcdex} -> 3; owns pqrst and bcdex (abcde
    # belongs to doc 1) -> 2 novel -> 666_666 ppm
    # doc 4: only a short row -> no output row
    assert out == {
        1: (4, 4, 1_000_000),
        2: (2, 0, 0),
        3: (3, 2, 666_666),
    }


def test_contamination_broadcast_guard_both_ways(spark):
    """r16 judge task 6: the benchmark-side broadcast hint is
    size-guarded. A small benchmark side keeps the forced broadcast
    (the realistic eval-set shape); a benchmark side whose Catalyst
    estimate exceeds the cap loses the hint so the planner is free to
    shuffle-join — result-identical by construction, and the 100 TB
    corpus-sized-"benchmark" shape can no longer OOM the driver."""
    from pyspark.sql import functions as F

    from financial_tracker_etl_spark.ext.quality import (
        CONTAM_BROADCAST_CAP_BYTES,
        contamination_check,
    )
    from financial_tracker_etl_spark.partitioning import plan_bytes

    import tempfile

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    # the small side must be storage-backed: createDataFrame over
    # Python rows plans a LogicalRDD here, which has no size statistics
    # (sizeInBytes = Long.MaxValue) and which the guard reads as too
    # big by design; a LocalRelation, by contrast, estimates its size
    # from its rows
    small_dir = tempfile.mkdtemp(prefix="ftes_contam_guard_")
    spark.createDataFrame(
        [(2, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    ).write.mode("overwrite").parquet(small_dir)
    small_bench = spark.read.parquet(small_dir)
    assert 0 <= plan_bytes(small_bench) <= CONTAM_BROADCAST_CAP_BYTES
    plan_small = contamination_check(
        docs, small_bench
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "broadcast" in plan_small.lower()

    # a benchmark side with a huge estimate: range() stats are exact
    big = spark.range(10_000_000_000).select(
        F.col("id").alias("doc_id"),
        F.lit("alpha beta gamma delta epsilon").alias("text"),
    )
    assert plan_bytes(big) > CONTAM_BROADCAST_CAP_BYTES
    plan_big = contamination_check(
        docs, big
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "broadcast" not in plan_big.lower()
