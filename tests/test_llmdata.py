"""Tests for LLM-data operators: dedup, similarity, text, multimodal."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_management_python_spark.llmdata import dedup, similarity, text
from data_management_python_spark.llmdata.multimodal import (
    attach_binary_metadata,
    documents_as_media,
    extract_features,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "completely different content with zero overlap here"),
    (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
]


def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_groups(spark):
    out = dedup.exact_dedup_groups(docs_df(spark), "doc_id", "text").collect()
    groups = {r.keep_id: r.n_copies for r in out}
    assert groups[1] == 2  # docs 1 and 4 collapse, min id survives
    assert len(out) == 3


def test_ngram_jaccard_pairs(spark):
    pairs = dedup.ngram_jaccard_pairs(
        docs_df(spark), "doc_id", "text", n=3, threshold=0.5
    ).collect()
    found = {(r.id_1, r.id_2) for r in pairs}
    assert (1, 4) in found  # identical docs: jaccard 1.0
    assert (1, 2) in found  # one-word difference: high overlap
    j = {(r.id_1, r.id_2): r.jaccard for r in pairs}
    assert j[(1, 4)] == 1.0
    assert all(p[0] != 3 and p[1] != 3 for p in found)


def test_minhash_lsh_candidates(spark):
    cands = dedup.lsh_candidate_pairs(
        docs_df(spark), "doc_id", "text", n=3, num_hashes=16, bands=4
    ).collect()
    found = {(r.id_1, r.id_2) for r in cands}
    assert (1, 4) in found  # identical docs always share all bands


def test_simhash_similar_docs_close(spark):
    out = {r.doc_id: r.simhash for r in
           dedup.simhash(docs_df(spark), "doc_id", "text", bits=16).collect()}
    assert out[1] == out[4]  # identical docs -> identical simhash
    # near-dup pair differs in few bits; unrelated doc differs in more
    def hamming(a, b):
        return bin(a ^ b).count("1")
    assert hamming(out[1], out[2]) <= hamming(out[1], out[3])


def test_cosine_topk_identical_vector_first(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [1.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [0.7, 0.7, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter(F.col("vec_id") == 0)
    out = similarity.cosine_topk(emb, q, k=2).collect()
    assert out[0].neighbor_id == 1 and abs(out[0].cos_sim - 1.0) < 1e-9
    assert out[1].neighbor_id == 3


def test_lsh_ann_bucket_recall_of_identical(spark):
    emb = spark.createDataFrame(
        [(i, [float(i % 3 == 0), float(i % 3 == 1), float(i % 3 == 2)] * 2)
         for i in range(9)],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter(F.col("vec_id") == 0)
    out = similarity.lsh_ann(emb, q, planes=4, k=3).collect()
    # identical-direction vectors (3, 6) land in the same bucket
    ids = {r.neighbor_id for r in out}
    assert {3, 6} <= ids


def test_text_functions(spark):
    df = spark.createDataFrame(
        [(1, "The cat and the dog, in a house!")], "doc_id long, text string"
    )
    r = df.select(
        text.token_count("text").alias("n"),
        F.round(text.punct_ratio("text"), 3).alias("p"),
        text.quality_bucket("text").alias("q"),
        text.predict_lang("text").alias("lang"),
        text.fingerprint("text").alias("fp"),
    ).collect()[0]
    assert r.n == 8
    assert r.q == "short"
    assert r.lang == "en"
    assert len(r.fp) == 16


def test_predict_lang_eq_parity(spark):
    """predict_lang_eq(L, ...) must equal predict_lang(...) == L for
    every language over ties, empty, NULL and marker-free corpora —
    the short-circuit conjunction is a pure rewrite of the argmax."""
    rows = [
        (1, "the cat and the dog"),          # en
        (2, "el que la de y"),               # es
        (3, "le et les des la"),             # fr
        (4, "der die und das ist"),          # de
        (5, "的 是 了 在 我"),                 # zh
        (6, "the el"),                       # en/es tie -> en (sorted order: de<en<es)
        (7, "der the"),                      # de/en tie -> de
        (8, "no markers here"),              # und
        (9, ""),                             # empty
        (10, None),                          # NULL text
        (11, "la la la"),                    # es/fr tie on 'la' -> es
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from data_management_python_spark.llmdata.text import LANG_MARKERS

    pred = {
        r.doc_id: r.lang
        for r in df.select(
            "doc_id", text.predict_lang("text").alias("lang")
        ).collect()
    }
    for lang in sorted(LANG_MARKERS):
        kept = {
            r.doc_id
            for r in df.filter(
                text.predict_lang_eq(lang, "text")
            ).collect()
        }
        expected = {d for d, ln in pred.items() if ln == lang}
        assert kept == expected, (lang, kept, expected)


def test_multimodal_plumbing(spark):
    docs = spark.createDataFrame(
        [(1, "hello world", "en", 11)], "doc_id long, text string, lang string, n_chars long"
    )
    media = documents_as_media(docs)
    meta = attach_binary_metadata(media).collect()[0]
    assert meta.byte_len == 11
    assert len(meta.content_sha256) == 64
    feats = extract_features(media, dim=8).collect()[0]
    assert len(feats.feature) == 8
    assert feats.byte_len == 11


def test_embed_near_dup_finds_planted_duplicate(spark):
    # identical vectors share every per-table signature -> recall 1.0
    # for exact duplicates regardless of LSH params
    emb = spark.createDataFrame(
        [
            (0, [1.0, 2.0, -1.0, 0.5]),
            (1, [1.0, 2.0, -1.0, 0.5]),
            (2, [-1.0, -2.0, 1.0, -0.5]),
            (3, [0.5, -3.0, 2.0, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = similarity.embed_near_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.9, tables=2, planes=3
    ).collect()
    pairs = {(r.id_1, r.id_2): r.cos_sim for r in out}
    assert (0, 1) in pairs and abs(pairs[(0, 1)] - 1.0) < 1e-9
    # opposite-direction vector (cos = -1) never crosses the threshold
    assert all(p[0] < p[1] for p in pairs)
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_ivf_ann_identical_vector_in_same_cell(spark):
    emb = spark.createDataFrame(
        [(i, [float(i % 2 == 0), float(i % 2 == 1), 1.0, 0.0]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter(F.col("vec_id") == 0)
    out = similarity.ivf_ann(emb, q, n_centroids=2, k=3).collect()
    # vectors 2,4,6 are identical to the query -> same centroid cell,
    # cos 1.0, and fill the top-k in id order
    assert [r.neighbor_id for r in out] == [2, 4, 6]
    assert all(abs(r.cos_sim - 1.0) < 1e-9 for r in out)


def test_ivf_multiprobe_recall_superset(spark):
    # nprobe=2 probes the runner-up cell too: its candidate set (and
    # with k high enough, its result set) contains the nprobe=1 results
    emb = spark.createDataFrame(
        [(i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(6)]) for i in range(24)],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter(F.col("vec_id") < 3)
    one = similarity.ivf_ann(emb, q, n_centroids=4, k=20, nprobe=1).collect()
    two = similarity.ivf_ann(emb, q, n_centroids=4, k=20, nprobe=2).collect()
    set1 = {(r.q_id, r.neighbor_id) for r in one}
    set2 = {(r.q_id, r.neighbor_id) for r in two}
    assert set1 <= set2
    assert len(set2) > len(set1)  # the extra cell contributed candidates


def test_kmeans_centroids_recovers_planted_clusters(spark):
    # two tight planted clusters -> the two trained centroids land near
    # the cluster means and partition the corpus accordingly
    rows = []
    for i in range(10):
        rows.append((i, [10.0 + (i % 3) * 0.1, 0.0, 0.0, 0.0]))
    for i in range(10, 20):
        rows.append((i, [0.0, -10.0 - (i % 3) * 0.1, 0.0, 0.0]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = similarity.kmeans_centroids(emb, k=2, iterations=3)
    assert [cid for cid, _ in cents] == [0, 1]
    # one centroid per planted cluster (which id lands where depends on
    # the seeding, both seeds start inside cluster 1)
    near_c1 = [v for _, v in cents if abs(v[0] - 10.1) < 0.2 and abs(v[1]) < 0.2]
    near_c2 = [v for _, v in cents if abs(v[1] + 10.1) < 0.2 and abs(v[0]) < 0.2]
    assert len(near_c1) == 1 and len(near_c2) == 1
    # trained centroids plug into the same probe plan
    q = emb.filter(F.col("vec_id") == 0)
    out = similarity.ivf_ann(emb, q, k=3, centroids=cents).collect()
    assert {r.neighbor_id for r in out} <= set(range(1, 10))


def test_pq_encode_codes_shape_and_range(spark):
    emb = spark.createDataFrame(
        [(i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(8)]) for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    cbs = similarity.default_codebooks(emb, subspaces=2, codebook_size=4)
    assert len(cbs) == 2 and len(cbs[0]) == 4 and len(cbs[0][0]) == 4
    rows = similarity.pq_encode(emb, cbs).select("vec_id", "pq_codes").collect()
    assert len(rows) == 12
    for r in rows:
        assert len(r.pq_codes) == 2
        assert all(0 <= c < 4 for c in r.pq_codes)


def test_pq_encode_codebook_vector_encodes_to_itself(spark):
    # a codebook member's subvectors are distance 0 from their own
    # centroid -> its code is its own codebook index
    emb = spark.createDataFrame(
        [(i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(8)]) for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    cbs = similarity.default_codebooks(emb, subspaces=2, codebook_size=4)
    codes = {
        r.vec_id: list(r.pq_codes)
        for r in similarity.pq_encode(emb, cbs).collect()
    }
    for j in range(4):  # codebook = vec_ids 0..3 in id order
        assert codes[j] == [j, j]


def test_pq_ann_exact_duplicate_ranks_first(spark):
    rows = [(i, [float((i * 5 + d * 2) % 13) - 6.0 for d in range(8)]) for i in range(20)]
    rows.append((20, rows[10][1]))  # plant an exact duplicate of vec 10
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") == 10)
    out = similarity.pq_ann(emb, q, subspaces=2, codebook_size=4, k=3).collect()
    assert out[0].neighbor_id == 20  # identical codes -> minimal ADC distance
    assert out[0].approx_d2 >= 0.0
    assert all(r.q_id == 10 for r in out)
    assert len(out) == 3


def test_pq_ann_injected_encoded_validated(spark):
    """r13 ADVICE guard: an injected ``encoded`` table built with
    DIFFERENT PQ parameters must error, not silently return wrong
    neighbors; a consistent injection returns the inline result."""
    import pytest

    rows = [
        (i, [float((i * 5 + d * 2) % 13) - 6.0 for d in range(8)])
        for i in range(20)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") == 10)
    cbs = similarity.default_codebooks(emb, "vec_id", "embedding", 2, 4)
    good = similarity.pq_encode(emb, cbs).select(
        F.col("vec_id").alias("neighbor_id"), "pq_codes"
    )
    inline = similarity.pq_ann(
        emb, q, subspaces=2, codebook_size=4, k=3, codebooks=cbs
    ).collect()
    injected = similarity.pq_ann(
        emb, q, subspaces=2, codebook_size=4, k=3, codebooks=cbs,
        encoded=good,
    ).collect()
    assert inline == injected
    # wrong subspaces: codes length 4 against a subspaces=2 search
    bad_cbs = similarity.default_codebooks(emb, "vec_id", "embedding", 4, 4)
    bad = similarity.pq_encode(emb, bad_cbs).select(
        F.col("vec_id").alias("neighbor_id"), "pq_codes"
    )
    with pytest.raises(ValueError, match="different PQ parameters"):
        similarity.pq_ann(
            emb, q, subspaces=2, codebook_size=4, k=3, codebooks=cbs,
            encoded=bad,
        )
    # wrong columns
    with pytest.raises(ValueError, match="missing columns"):
        similarity.pq_ann(
            emb, q, subspaces=2, codebook_size=4, k=3, codebooks=cbs,
            encoded=good.withColumnRenamed("pq_codes", "codes"),
        )
    # ivf seam: wrong subspaces -> codes length mismatch (the one-row
    # probe is deterministic on length; out-of-range codes are caught
    # only when the probed row exhibits one)
    cents = [(r.vec_id, [float(x) for x in r.embedding])
             for r in emb.orderBy("vec_id").limit(4).collect()]
    big = similarity.ivf_pq_encode(
        emb, centroids=cents,
        codebooks=similarity.default_codebooks(
            emb, "vec_id", "embedding", 4, 4
        ),
    )
    with pytest.raises(ValueError, match="different PQ parameters"):
        similarity.ivf_pq_ann(
            emb, q, n_centroids=4, subspaces=2, codebook_size=4, k=3,
            encoded=big,
        )


def test_validate_encoded_memo_keyed_on_pq_parameters(spark):
    """The validated-frame memo must not let a frame that passed for
    one (code_col, subspaces, codebook_size) skip the probe for
    another: the same frame object is re-probed under new parameters."""
    import pytest

    enc = spark.createDataFrame(
        [(1, [3, 3]), (2, [0, 1])], "neighbor_id long, pq_codes array<int>"
    )
    cols = ("neighbor_id", "pq_codes")
    similarity._validate_encoded(enc, "pq_codes", 2, 4, cols)
    similarity._validate_encoded(enc, "pq_codes", 2, 4, cols)  # memo hit
    with pytest.raises(ValueError, match="different PQ parameters"):
        similarity._validate_encoded(enc, "pq_codes", 4, 4, cols)
    with pytest.raises(ValueError, match="different codebook_size"):
        similarity._validate_encoded(enc, "pq_codes", 2, 2, cols)


def test_global_prefix_sum_matches_local_scan(spark):
    from data_management_python_spark.llmdata.packing import global_prefix_sum

    rows = [(i, (i * 37 + 11) % 100 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    out = {
        r.doc_id: r.offset
        for r in global_prefix_sum(df, "doc_id", "n", num_bins=7).collect()
    }
    acc = 0
    for i, n in rows:
        assert out[i] == acc
        acc += n


def test_global_prefix_sum_sparse_ids_and_empty(spark):
    from data_management_python_spark.llmdata.packing import global_prefix_sum

    sparse = spark.createDataFrame(
        [(5, 10), (1000, 20), (70000, 30)], "doc_id long, n long"
    )
    out = {
        r.doc_id: r.offset
        for r in global_prefix_sum(sparse, "doc_id", "n", num_bins=4).collect()
    }
    assert out == {5: 0, 1000: 10, 70000: 30}
    empty = spark.createDataFrame([], "doc_id long, n long")
    assert global_prefix_sum(empty, "doc_id", "n").count() == 0


def test_pack_sequences_boundary_convention(spark):
    from data_management_python_spark.llmdata.packing import pack_sequences

    # doc 2 starts at offset 90 (< 100) but spills past it: stays in pack 0
    df = spark.createDataFrame(
        [(0, 50), (1, 40), (2, 30), (3, 80)], "doc_id long, n long"
    )
    packs = {
        r.doc_id: (r.offset, r.pack_id)
        for r in pack_sequences(df, "doc_id", "n", budget=100).collect()
    }
    assert packs == {0: (0, 0), 1: (50, 0), 2: (90, 0), 3: (120, 1)}


def test_global_prefix_sum_plan_has_no_global_sort(spark):
    from data_management_python_spark.llmdata.packing import global_prefix_sum

    df = spark.createDataFrame([(i, 1) for i in range(50)], "doc_id long, n long")
    out = global_prefix_sum(df, "doc_id", "n", num_bins=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the whole point: no single-partition window over a global sort
    assert "Window" not in plan
    assert "SinglePartition" not in plan


def test_tfidf_topk_discriminative_term_wins(spark):
    import math

    df = spark.createDataFrame(
        [
            (1, "common zebra common common"),
            (2, "common common plain words"),
            (3, "common plain other words"),
        ],
        "doc_id long, text string",
    )
    out = text.tfidf_topk(df, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # 'zebra' appears only in doc 1 -> its idf ln(3/1) beats 'common'
    # (in every doc, idf ln(3/3)=0 -> tfidf exactly 0)
    top1 = by_doc[1][0]
    assert top1.term == "zebra"
    assert top1.tf == 1 and top1.doc_freq == 1
    assert abs(top1.tfidf - round(math.log(3.0), 6)) < 1e-9
    zero = [r for r in out if r.term == "common"]
    assert all(r.tfidf == 0.0 for r in zero)
    assert all(len(v) == 2 for v in by_doc.values())


def test_connected_components_chain_and_singleton(spark):
    nodes = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    # chain 0-1-2-3 (transitive, no direct 0-3 edge), pair 4-5, singleton 6
    edges = spark.createDataFrame(
        [(1, 0), (1, 2), (2, 3), (5, 4)], "id_1 long, id_2 long"
    )
    out = {
        r.doc_id: r.cluster_id
        for r in dedup.connected_components(nodes, edges).collect()
    }
    assert out == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4, 6: 6}


def test_connected_components_converges_on_long_path(spark):
    # a 12-node path needs multiple propagation rounds end to end
    n = 12
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_1 long, id_2 long"
    )
    out = dedup.connected_components(nodes, edges).collect()
    assert {r.cluster_id for r in out} == {0}
    assert len(out) == n


def test_unigram_xent_rare_tokens_score_higher(spark):
    import math

    df = spark.createDataFrame(
        [(1, "common common common common"), (2, "common rare")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in text.unigram_xent(df).collect()}
    # corpus: common x5, rare x1, total 6
    assert out[1].n_tokens == 4 and out[2].n_tokens == 2
    x1 = -math.log(5 / 6)
    x2 = (-math.log(5 / 6) - math.log(1 / 6)) / 2
    assert abs(out[1].xent - round(x1, 6)) < 1e-9
    assert abs(out[2].xent - round(x2, 6)) < 1e-9
    assert out[2].xent > out[1].xent  # rare token raises the entropy


def test_stratified_sample_quota_and_determinism(spark):
    rows = [(i, "l" + str(i % 3), f"text number {i}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    a = text.stratified_sample(df, "lang", quota=5).collect()
    b = text.stratified_sample(df, "lang", quota=5).collect()
    per = {}
    for r in a:
        per.setdefault(r.lang, []).append(r.doc_id)
    assert all(len(v) == 5 for v in per.values())  # quota met per stratum
    assert len(per) == 3
    # deterministic: identical result on re-run
    assert sorted((r.lang, r.doc_id, r.sample_rank) for r in a) == sorted(
        (r.lang, r.doc_id, r.sample_rank) for r in b
    )
    # quota above stratum size keeps everything
    small = text.stratified_sample(df.filter(df.doc_id < 4), "lang", quota=99)
    assert small.count() == 4


def test_repetition_stats(spark):
    df = spark.createDataFrame(
        [
            (1, "a a a a"),  # one unique word, fully repeated bigrams
            (2, "w x y z"),  # all unique
            (3, "hello"),  # single word: no bigrams -> null frac
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in text.repetition_stats(df).collect()}
    assert rows[1].n_words == 4
    assert rows[1].uniq_word_ratio == 0.25
    assert rows[1].top_word_frac == 1.0
    assert rows[1].dup_bigram_frac == round(1 - 1 / 3, 6)  # 3 bigrams, 1 distinct
    assert rows[2].uniq_word_ratio == 1.0
    assert rows[2].dup_bigram_frac == 0.0
    assert rows[3].dup_bigram_frac is None


def test_scrub_pii():
    import pandas as pd  # noqa: F401

    from data_management_python_spark.session import get_spark

    spark = get_spark(app_name="tests-scrub")
    df = spark.createDataFrame(
        [(1, "mail bob.smith+x@corp.example.org call +44-7911-123456 id 9876543 ok")],
        "k long, s string",
    )
    out = df.select(text.scrub_pii("s").alias("s")).first().s
    assert "<EMAIL>" in out and "@" not in out
    assert "<PHONE>" in out
    assert "9876543" not in out and "<NUM>" in out
    assert out.endswith("ok")


def test_ann_recall_math(spark):
    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21), (2, 22)],
        "q_id long, neighbor_id long",
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 99), (2, 20), (2, 21), (2, 22)],
        "q_id long, neighbor_id long",
    )
    rows = {r.q_id: r for r in similarity.ann_recall(exact, approx).collect()}
    assert rows[1].n_hit == 2 and rows[1].recall == round(2 / 3, 6)
    assert rows[2].recall == 1.0


def test_gopher_quality_signals(spark):
    from data_management_python_spark.llmdata import text as t

    docs = spark.createDataFrame(
        [
            # long enough, normal words incl. stopwords -> keep
            (1, " ".join(["the", "quick", "brown", "fox", "and", "dog"] * 10)),
            # too short
            (2, "tiny doc"),
            # symbol-heavy (### per word)
            (3, " ".join(["###"] * 60) + " the and " + " ".join(["ok"] * 10)),
            # numeric soup -> fails alpha ratio
            (4, " ".join(["123", "456"] * 30) + " the and of"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in t.gopher_quality_signals(docs).collect()}
    assert out[1].keep
    assert not out[2].keep and not out[2].ok_word_count
    assert not out[3].keep and not out[3].ok_symbol_ratio
    assert not out[4].keep and not out[4].ok_alpha_ratio
    assert out[1].stop_hits >= 2


def test_contamination_overlap(spark):
    from data_management_python_spark.llmdata import text as t

    benchmark = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # contains the benchmark 5-gram "alpha beta gamma delta epsilon"
            (1, "intro words alpha beta gamma delta epsilon zeta outro"),
            # no 5-gram overlap
            (2, "totally different words with no benchmark overlap here"),
            # shares only a 4-gram (broken by 'x') -> not flagged at n=5
            (3, "alpha beta gamma delta x epsilon zeta"),
        ],
        "doc_id long, text string",
    )
    hits = t.contamination_overlap(corpus, benchmark, n=5).collect()
    assert {(r.corpus_id, r.benchmark_id) for r in hits} == {(1, 100)}
    assert hits[0].n_shared == 2  # both rolling 5-grams of the span


def test_ivf_pq_ann_shapes(spark):
    """IVF-PQ: top-k shape, determinism vs itself, empty-query path,
    and multi-probe recall >= single-probe recall."""
    from data_management_python_spark.catalog import load_table
    from data_management_python_spark.llmdata import similarity as sim
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = sim.ivf_pq_ann(emb, queries, k=3)
    rows = out.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.q_id, []).append(r)
        assert r.q_id != r.neighbor_id
    assert all(len(v) <= 3 for v in per_q.values())
    # deterministic: second run returns the identical result
    again = sim.ivf_pq_ann(emb, queries, k=3).collect()
    key = lambda r: (r.q_id, r.neighbor_id, r.approx_d2)
    assert sorted(map(key, rows)) == sorted(map(key, again))

    empty = sim.ivf_pq_ann(emb, queries.filter(F.lit(False)), k=3)
    assert empty.count() == 0

    # recall is measurable against the exact top-k; multi-probe widens
    # the candidate pool (more scored pairs) but PQ's approximate
    # ranking means top-k recall need not grow monotonically
    exact = sim.cosine_topk(emb, queries, k=3)
    r1 = sim.ann_recall(exact, out).agg(
        F.avg("recall").alias("r")
    ).collect()[0].r
    assert r1 > 0.0
    out2 = sim.ivf_pq_ann(emb, queries, k=3, nprobe=3)
    assert out2.count() >= out.count()


def test_sample_frames_fanout(spark):
    """Frame sampling plumbing: bounded fan-out per media row, stable
    hashes, short blobs yield fewer frames, null blobs none."""
    from data_management_python_spark.llmdata import multimodal as mm
    from pyspark.sql import functions as F

    media = spark.createDataFrame(
        [
            (1, "video", bytes(range(200)), "video/mp4", None),
            (2, "video", b"tiny", "video/mp4", None),
            (3, "video", None, "video/mp4", None),
        ],
        mm.MEDIA_SCHEMA,
    )
    frames = mm.sample_frames(media, n_frames=4, duration_ms=8000)
    rows = frames.collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.media_id, []).append(r)
    assert len(by_id[1]) == 4
    assert [r.frame_ts_ms for r in sorted(by_id[1], key=lambda r: r.frame_idx)] == [
        0, 2000, 4000, 6000
    ]
    assert 3 not in by_id  # null blob -> no frames
    # deterministic: re-run produces identical hashes
    again = {(r.media_id, r.frame_idx): r.frame_sha256
             for r in mm.sample_frames(media, n_frames=4, duration_ms=8000).collect()}
    for r in rows:
        assert again[(r.media_id, r.frame_idx)] == r.frame_sha256


def test_chunk_documents_windows(spark):
    """Chunk windows: stride/overlap arithmetic, remainder chunk, short
    doc single chunk, token-level reassembly."""
    import pytest

    from data_management_python_spark.llmdata import text as t

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(150))),  # 3 chunks @ 64/8
            (2, "just a few words"),                      # 1 chunk
        ],
        "doc_id long, text string",
    )
    out = t.chunk_documents(docs, chunk_tokens=64, overlap=8)
    rows = sorted(out.collect(), key=lambda r: (r.doc_id, r.chunk_idx))
    d1 = [r for r in rows if r.doc_id == 1]
    assert [r.chunk_idx for r in d1] == [0, 1, 2]
    assert [r.n_tokens for r in d1] == [64, 64, 38]  # 150 = 56+56+38
    # overlap: last 8 tokens of chunk0 == first 8 of chunk1
    assert d1[0].chunk_text.split()[-8:] == d1[1].chunk_text.split()[:8]
    # stride boundary: chunk1 starts at token 56
    assert d1[1].chunk_text.split()[0] == "w56"
    d2 = [r for r in rows if r.doc_id == 2]
    assert len(d2) == 1 and d2[0].n_tokens == 4

    with pytest.raises(ValueError):
        t.chunk_documents(docs, chunk_tokens=8, overlap=8)


def test_duplicated_spans(spark):
    from data_management_python_spark.llmdata import dedup as dd

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # exactly 8 tokens
    docs = spark.createDataFrame(
        [
            (1, f"intro {shared} outro words here"),
            (2, f"different start {shared} and finish"),
            (3, "no overlap at all in this document text body"),
        ],
        "doc_id long, text string",
    )
    # mod_p=1: keep every fingerprint so the shared 8-gram must appear
    hits = dd.duplicated_spans(docs, "doc_id", "text", k=8, mod_p=1).collect()
    assert any(r.n_docs == 2 and r.min_id == 1 and r.max_id == 2 for r in hits)
    # no fingerprint should span doc 3
    fps3 = dd.span_fingerprints(
        docs.filter("doc_id = 3"), "doc_id", "text", k=8, mod_p=1
    )
    hit_fps = {r.fp for r in hits}
    assert not hit_fps & {r.fp for r in fps3.collect()}
    # sampling keeps identical subsets: doc1/doc2 shared-span fps match
    s1 = {r.fp for r in dd.span_fingerprints(
        docs.filter("doc_id = 1"), "doc_id", "text", k=8, mod_p=4).collect()}
    s2 = {r.fp for r in dd.span_fingerprints(
        docs.filter("doc_id = 2"), "doc_id", "text", k=8, mod_p=4).collect()}
    shared_all = {r.fp for r in hits}
    assert (s1 & shared_all) == (s2 & shared_all)


def test_temperature_sampling_flattens_mixture(spark):
    """alpha<1 up-samples small strata relative to natural shares, and
    quotas never exceed the stratum size."""
    from data_management_python_spark.llmdata import text as t

    rows = [(i, "big", f"doc {i} text") for i in range(900)]
    rows += [(1000 + i, "small", f"rare {i} text") for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    q1 = {r.lang: r for r in t.temperature_quotas(docs, "lang", 500, alpha=1.0).collect()}
    q5 = {r.lang: r for r in t.temperature_quotas(docs, "lang", 500, alpha=0.5).collect()}
    # natural shares at alpha=1: 450/50; alpha=0.5 boosts the small stratum
    assert q1["small"].quota == 50
    assert q5["small"].quota > q1["small"].quota
    assert q5["big"].quota < q1["big"].quota
    for q in (*q1.values(), *q5.values()):
        assert q.quota <= q.n_docs

    sample = t.temperature_sample(docs, "lang", 500, alpha=0.5)
    got = sample.groupBy("lang").count().collect()
    by_lang = {r.lang: r["count"] for r in got}
    assert by_lang["small"] == q5["small"].quota
    assert by_lang["big"] == q5["big"].quota


def test_write_media_shards_roundtrip(spark, tmp_path):
    """Tar-shard export: every blob lands in exactly one shard with its
    JSON sidecar, and the manifest accounts for all members."""
    import json
    import tarfile

    from data_management_python_spark.llmdata import multimodal as mm

    # mixed modalities: images plus audio (unmapped-extension mime) —
    # the sidecar must carry the EXACT mime either way, because
    # unmapped types all file under the generic 'bin' member extension
    rows = [
        (i, "image", bytes([i] * 50), "image/png", json.dumps({"i": i}))
        for i in range(20)
    ] + [
        (i, "audio", bytes([i] * 30), "audio/x-flac", json.dumps({"i": i}))
        for i in range(20, 25)
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = tmp_path / "shards"
    manifest = mm.write_media_shards(media, str(out), n_shards=3).collect()
    assert sum(r.n_members for r in manifest) == 25
    seen = {}
    mimes = {}
    for r in manifest:
        with tarfile.open(r.shard_path) as tar:
            names = tar.getnames()
            blobs = [n for n in names if not n.endswith(".json")]
            assert len(names) == 2 * len(blobs)  # sidecar per blob
            for n in blobs:
                mid = int(n.split(".")[0])
                blob = tar.extractfile(n).read()
                size = 50 if mid < 20 else 30
                assert blob == bytes([mid] * size)
                side = json.loads(tar.extractfile(f"{mid}.json").read())
                assert side["media_id"] == mid
                seen[mid] = seen.get(mid, 0) + 1
                mimes[mid] = (n.rsplit(".", 1)[1], side["mime_type"])
    assert seen == {i: 1 for i in range(25)}
    # image members keep their mapped extension + mime
    assert all(mimes[i] == ("png", "image/png") for i in range(20))
    # non-image, unmapped mime: generic member extension, but the
    # sidecar round-trips the exact mime for the reader
    assert all(
        mimes[i] == ("bin", "audio/x-flac") for i in range(20, 25)
    )


def test_embedding_covariance_matches_numpy(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from data_management_python_spark.llmdata import stats

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = emb.orderBy("vec_id").collect()
    A = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    expect = np.cov(A, rowvar=False)
    got = stats.embedding_covariance(emb, "embedding", 64).collect()
    assert len(got) == 64 * 65 // 2
    for r in got[:: max(1, len(got) // 97)]:
        assert abs(r.cov - expect[r.i - 1, r.j - 1]) < 1e-10


def test_pca_project_reconstructs_variance(spark):
    import numpy as np

    from data_management_python_spark.llmdata import stats

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    mean, W, ev = stats.pca_components(emb, k=3, dims=64)
    # components are orthonormal, eigenvalues descending
    assert np.allclose(W.T @ W, np.eye(3), atol=1e-8)
    assert ev[0] >= ev[1] >= ev[2] > 0
    # sign convention: max-|loading| coordinate positive
    for c in range(3):
        assert W[np.argmax(np.abs(W[:, c])), c] > 0
    # projection variance along pc1 equals the top eigenvalue
    rows = emb.orderBy("vec_id").collect()
    A = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    proj = (A - mean) @ W
    assert abs(np.var(proj[:, 0], ddof=1) - ev[0]) / ev[0] < 1e-8
    # the distributed projection matches numpy (up to output rounding)
    out = {r.vec_id: (r.pc1, r.pc2, r.pc3) for r in
           stats.pca_project(emb, k=3, dims=64).collect()}
    ids = [r.vec_id for r in rows]
    for idx in range(0, len(ids), 37):
        got = out[ids[idx]]
        for c in range(3):
            assert abs(got[c] - proj[idx, c]) <= 5e-4


def test_weighted_sample_biases_toward_heavy_docs(spark):
    from pyspark.sql import functions as F

    from data_management_python_spark.llmdata import text as t

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    k = 50
    samp = t.weighted_sample(docs.select("doc_id", "n_chars"), "n_chars", k=k)
    assert samp.count() == k
    # deterministic across invocations
    a = sorted(r.doc_id for r in samp.collect())
    b = sorted(
        r.doc_id
        for r in t.weighted_sample(
            docs.select("doc_id", "n_chars"), "n_chars", k=k
        ).collect()
    )
    assert a == b
    # length-weighted sample skews long: sample mean length > corpus mean
    m_s = samp.agg(F.avg("n_chars")).first()[0]
    m_c = docs.agg(F.avg("n_chars")).first()[0]
    assert m_s > m_c


def test_heavy_hitters_exact_vs_naive(spark):
    """Two-pass Misra-Gries output == the naive full group-by, at a
    capacity far below the vocabulary size (the sketch must still be a
    candidate superset)."""
    from data_management_python_spark.llmdata import text as t

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("text")
    support = 0.02
    got = {
        (r.term, r.cnt)
        for r in t.heavy_hitters(docs, "text", support=support).collect()
    }
    toks = docs.select(F.explode(t.tokens("text")).alias("term"))
    total = toks.count()
    naive = {
        (r.term, r.cnt)
        for r in toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= support * total)
        .collect()
    }
    assert got == naive
    # tiny capacity stress: still exact (more decrements, same superset
    # guarantee as long as capacity >= ceil(1/support))
    got_small = {
        (r.term, r.cnt)
        for r in t.heavy_hitters(
            docs, "text", support=support, capacity=51
        ).collect()
    }
    assert got_small == naive


def test_knn_graph_matches_per_cell_bruteforce(spark):
    """knn_graph's grouped scorer == brute-force within each cell."""
    from data_management_python_spark.llmdata import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = sim.knn_graph(emb, "vec_id", "embedding", n_centroids=4, k=2)
    rows = got.collect()
    # every vector appears with exactly k neighbors (cells are larger
    # than k+1 at this scale) and never lists itself
    from collections import Counter

    per_q = Counter(r.q_id for r in rows)
    assert set(per_q.values()) == {2}
    assert all(r.q_id != r.neighbor_id for r in rows)
    # spot-check one query against ivf_ann (same quantizer, k, corpus):
    # the graph row set for q restricted to ivf's probe cell must match
    probe = emb.filter(F.col("vec_id") == 11)
    ivf = {
        (r.q_id, r.neighbor_id, r.cos_sim)
        for r in sim.ivf_ann(
            emb, probe, "vec_id", "embedding", n_centroids=4, k=2
        ).collect()
    }
    mine = {
        (r.q_id, r.neighbor_id, r.cos_sim) for r in rows if r.q_id == 11
    }
    assert mine == ivf


def test_parse_image_headers_real_formats(spark):
    """Header parsing is real: crafted PNG/JPEG/GIF/BMP bytes yield
    exact dimensions; junk sniffs as unknown."""
    from data_management_python_spark.llmdata.multimodal import (
        parse_image_headers,
    )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + b"\x00\x00\x00\x0dIHDR"
        + (640).to_bytes(4, "big")
        + (480).to_bytes(4, "big")
        + b"\x08\x02\x00\x00\x00"
    )
    # JPEG: SOI, APP0 (len 16), SOF0 (len 17) with h=100 w=200
    jpeg = (
        b"\xff\xd8\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
        + b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
        + (100).to_bytes(2, "big") + (200).to_bytes(2, "big")
        + b"\x03" + b"\x00" * 9
    )
    gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little")
    bmp = (
        b"BM" + b"\x00" * 16
        + (800).to_bytes(4, "little")
        + (-600).to_bytes(4, "little", signed=True)  # top-down negative h
    )
    rows = [
        (1, bytearray(png)),
        (2, bytearray(jpeg)),
        (3, bytearray(gif)),
        (4, bytearray(bmp)),
        (5, bytearray(b"not an image")),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {
        r.media_id: (r.img_format, r.width, r.height)
        for r in parse_image_headers(df).collect()
    }
    assert got[1] == ("png", 640, 480)
    assert got[2] == ("jpeg", 200, 100)
    assert got[3] == ("gif", 320, 200)
    assert got[4] == ("bmp", 800, 600)
    assert got[5] == ("unknown", None, None)
    assert got[6] == (None, None, None)


def test_incremental_near_dup_matches_self_join_cross_pairs(spark):
    """delta->base pairs from the incremental path == the cross-side
    subset of the full self-join path at the same LSH settings, and
    within-delta pairs are excluded by construction."""
    from data_management_python_spark.llmdata import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    base = docs.filter(F.col("doc_id") % 5 != 0)
    inc = dedup.incremental_near_dup(
        base, delta, "doc_id", "text", n=3, num_hashes=16, bands=4,
        threshold=0.2,
    ).collect()
    assert all(r.delta_id % 5 == 0 and r.base_id % 5 != 0 for r in inc)
    full = dedup.near_dup_pairs(
        docs, "doc_id", "text", n=3, num_hashes=16, bands=4, threshold=0.2
    ).collect()
    cross = {
        (a, b, round(j, 9))
        for r in full
        for a, b, j in [(r.id_1, r.id_2, r.jaccard), (r.id_2, r.id_1, r.jaccard)]
        if a % 5 == 0 and b % 5 != 0
    }
    got = {(r.delta_id, r.base_id, round(r.jaccard, 9)) for r in inc}
    assert got == cross


def _make_bmp24(width, height, pixels_rgb):
    """Minimal uncompressed 24-bit bottom-up BMP from scan-order RGB."""
    row_raw = width * 3
    stride = (row_raw + 3) & ~3
    data_off = 54
    size = data_off + stride * height
    hdr = (
        b"BM" + size.to_bytes(4, "little") + b"\x00\x00\x00\x00"
        + data_off.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + width.to_bytes(4, "little", signed=True)
        + height.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + (stride * height).to_bytes(4, "little")
        + b"\x00" * 16
    )
    body = bytearray()
    for r in range(height - 1, -1, -1):  # bottom-up storage
        for c in range(width):
            rr, gg, bb = pixels_rgb[r * width + c]
            body += bytes((bb, gg, rr))
        body += b"\x00" * (stride - row_raw)
    return hdr + bytes(body)


def test_bmp_real_decode_features(spark):
    """Uncompressed BMP blobs are REALLY decoded (pure-Python pixel
    parse, no media lib): pooled luminance features match hand-computed
    values, and the sniffer agrees on dimensions."""
    from data_management_python_spark.llmdata.multimodal import (
        _decode_bmp_pixels,
        _sniff_image,
        extract_features,
    )

    # 2x2: white, black, red, blue (scan order, top-to-bottom)
    px = [(255, 255, 255), (0, 0, 0), (255, 0, 0), (0, 0, 255)]
    blob = _make_bmp24(2, 2, px)
    assert _sniff_image(blob) == ("bmp", 2, 2)
    assert _decode_bmp_pixels(blob) == px

    media = spark.createDataFrame(
        [(1, "image", bytearray(blob), "image/bmp", "{}")],
        "media_id long, modality string, content binary, "
        "mime_type string, meta_json string",
    )
    feats = extract_features(media, dim=4).collect()[0].feature
    # mean luminance per pixel chunk: 1.0, 0.0, 0.299, 0.114
    assert feats == [1.0, 0.0, 0.299, 0.114]


def test_decode_dispatch_parity(spark):
    """The feature path must pool the SAME pixels whichever decode
    branch _decode_image_pixels dispatches to (PIL when importable,
    the pure-Python parsers otherwise) — the equality holds in both
    worlds, so this runs everywhere (round-7: no more env skip)."""
    from data_management_python_spark.llmdata.multimodal import (
        _decode_bmp_pixels,
        _decode_features,
        _pool_pixel_features,
    )

    px = [(10, 20, 30), (200, 100, 0), (0, 0, 0), (255, 255, 255)]
    blob = _make_bmp24(2, 2, px)
    got = _decode_features(blob, "image", 4)
    assert got == _pool_pixel_features(_decode_bmp_pixels(blob), 4)


def test_read_media_shards_inverts_write(spark, tmp_path):
    """Spark-side shard reader: write -> read recovers every row's
    blob, mime, modality, and metadata exactly."""
    import json

    from data_management_python_spark.llmdata import multimodal as mm

    rows = [
        (i, "image", bytes([i] * 40), "image/png", json.dumps({"i": i}))
        for i in range(12)
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = tmp_path / "shards_rt"
    mm.write_media_shards(media, str(out), n_shards=3).collect()
    back = mm.read_media_shards(spark, str(out / "*.tar"))
    got = {r.media_id: r for r in back.collect()}
    assert set(got) == set(range(12))
    for i in range(12):
        r = got[i]
        assert bytes(r.content) == bytes([i] * 40)
        assert r.mime_type == "image/png"
        assert r.modality == "image"
        assert json.loads(r.meta_json) == {"i": i}


def test_resize_images_real_bmp(spark):
    """End-to-end REAL resize: a 4x2 BMP downsamples to 2x1 with
    nearest-neighbor pixels, re-encoded as a valid BMP the sniffer and
    decoder both agree on; undecodable blobs pass through untouched."""
    from data_management_python_spark.llmdata.multimodal import (
        _decode_bmp_pixels,
        _encode_bmp24,
        _sniff_image,
        resize_images,
    )

    px = [
        (255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9),
        (1, 1, 1), (2, 2, 2), (3, 3, 3), (4, 4, 4),
    ]
    blob = _encode_bmp24(4, 2, px)
    assert _sniff_image(blob) == ("bmp", 4, 2)
    df = spark.createDataFrame(
        [(1, bytearray(blob)), (2, bytearray(b"not an image"))],
        "media_id long, content binary",
    )
    got = {r.media_id: r for r in resize_images(df, 2, 1).collect()}
    ok = got[1]
    assert ok.resized and (ok.width, ok.height) == (2, 1)
    assert ok.mime_type == "image/bmp"
    assert _sniff_image(bytes(ok.content)) == ("bmp", 2, 1)
    # nearest-neighbor floor sampling: rows 0..1 -> row 0; cols {0,2}
    assert _decode_bmp_pixels(bytes(ok.content)) == [(255, 0, 0), (0, 0, 255)]
    bad = got[2]
    assert not bad.resized and bytes(bad.content) == b"not an image"
    assert bad.width is None and bad.mime_type is None


def test_bpe_train_matches_reference_exactly(spark):
    """Distributed BPE merges are merge-for-merge identical to the
    classic single-machine algorithm on the same corpus, including the
    (count desc, pair lexicographic) tie-break."""
    from data_management_python_spark.llmdata.bpe import (
        bpe_train,
        bpe_train_reference,
    )

    texts = [
        "low lower lowest low low",
        "new newer newest new",
        "wide wider widest wide wide wide",
        "low new wide slow slower",
    ]
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                 "doc_id long, text string")
    got = bpe_train(docs, num_merges=8)
    want = bpe_train_reference(texts, num_merges=8)
    assert got == want
    # batching contract: never MORE rounds than merges (this corpus is
    # chain-heavy — each merge feeds the next — so batching finds
    # little to take, and that conservatism is the correctness), and
    # batch=1 degrades to the classic loop with identical output
    assert bpe_train.last_num_rounds <= len(got)
    assert bpe_train(docs, num_merges=8, batch=1) == want
    assert bpe_train.last_num_rounds >= 8


def test_bpe_batched_rounds_cut_jobs_4x(spark):
    """The batched trainer produces the reference merge table with
    >=4x fewer SPARK JOBS than the classic loop's cost of one argmax
    collect + one eager checkpoint per merge (>= 2 jobs/merge; the
    round-4 implementation measured ~3) — the reduction that keeps a
    32k-merge vocabulary from being 32k driver round-trips.  Measured
    on natural text, where merge cascades genuinely limit batch
    width."""
    from data_management_python_spark.catalog import load_table
    from data_management_python_spark.llmdata.bpe import (
        bpe_train,
        bpe_train_reference,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(
        400
    )
    texts = [r["text"] for r in docs.collect()]
    n = 32
    sc = spark.sparkContext
    sc.setJobGroup("bpe_batched", "batched bpe trainer")
    try:
        got = bpe_train(docs, num_merges=n, batch=16)
    finally:
        sc.setJobGroup("", "")
    jobs = len(sc.statusTracker().getJobIdsForGroup("bpe_batched"))
    assert got == bpe_train_reference(texts, num_merges=n)
    assert bpe_train.last_num_rounds < n  # batching actually engaged
    # round-4 cost, measured on this exact corpus/merge table: 98 jobs
    # for 32 merges (argmax TakeOrdered under AQE + eager checkpoint
    # per merge) — hold the batched trainer to >=4x below it
    assert jobs * 4 <= 3 * n, (jobs, bpe_train.last_num_rounds)
    # AQE conf restored after the loop (the trainer suspends it)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_bpe_train_on_driver_corpus(spark):
    """Trainer runs on the real documents table and learns plausible
    merges (counts non-increasing is NOT guaranteed by BPE, but counts
    are positive and rules are distinct)."""
    from data_management_python_spark.catalog import load_table
    from data_management_python_spark.llmdata.bpe import apply_bpe, bpe_train

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    merges = bpe_train(docs, num_merges=5)
    assert len(merges) == 5
    assert all(n > 0 for _, _, n in merges)
    assert len({(l, r) for l, r, _ in merges}) == 5
    toks = apply_bpe(docs.limit(10), merges).select("bpe_tokens").collect()
    assert all(len(r.bpe_tokens) > 0 for r in toks)
    # every learned joined symbol actually appears somewhere post-merge
    joined = {l + r for l, r, _ in merges}
    seen = {s for r in toks for s in r.bpe_tokens}
    assert joined & seen  # at least some rules fire on real text


def test_apply_bpe_matches_reference_encoder(spark):
    """The distributed encoder (apply_bpe, Arrow-batched, rules in the
    UDF closure) produces token-for-token the same stream as a pure-
    Python greedy encoder applying the same TRAINED rules — including
    cascading merges where later rules consume earlier outputs."""
    from data_management_python_spark.llmdata.bpe import (
        END,
        _merge_word,
        apply_bpe,
        bpe_train,
    )

    texts = [
        "low lower lowest low low",
        "new newer newest new",
        "wide wider widest wide wide wide",
        "low new wide slow slower",
        "",
    ]
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                 "doc_id long, text string")
    merges = bpe_train(docs, num_merges=10)

    def encode_reference(t: str) -> list[str]:
        out = []
        for w in t.strip().lower().split():
            syms = list(w) + [END]
            for left, right, _ in merges:
                if len(syms) < 2:
                    break
                syms = _merge_word(syms, left, right, left + right)
            out.extend(syms)
        return out

    got = {
        r.doc_id: list(r.bpe_tokens)
        for r in apply_bpe(docs, merges).select("doc_id", "bpe_tokens").collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == encode_reference(t), f"doc {i}"
    assert got[4] == []  # empty text encodes to an empty stream


def test_bpe_encode_oracle_replace_chain_parity(spark):
    """The t_bpe_encode oracle's sentinel-wrapped nested-replace chain
    is semantically the greedy merge: SQL replace() is left-to-right
    non-overlapping, and fully-wrapped tokens share no delimiter, so
    consecutive merges ('a a a a' -> 'aa aa') behave identically."""
    import duckdb

    from data_management_python_spark.llmdata.bpe import END, _merge_word
    from data_management_python_spark.llmdata.queries import (
        _BPE_DEMO_MERGES,
        _bpe_encode_oracle_sql,
    )

    texts = [
        "the table was stable",
        "a a a a aa",           # consecutive-merge stress
        "tata tab taba",        # cascading ta -> tab
        "value value row",
    ]

    def encode(t):
        out = []
        for w in t.strip().lower().split():
            syms = list(w) + [END]
            for left, right in _BPE_DEMO_MERGES:
                syms = _merge_word(syms, left, right, left + right)
            out.extend(syms)
        return out

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in enumerate(texts))
        + ") AS v(doc_id, text)"
    )
    rows = con.execute(_bpe_encode_oracle_sql()).fetchall()
    got = {r[0]: (r[1], r[2]) for r in rows}
    for i, t in enumerate(texts):
        want = encode(t)
        assert got[i] == (len(want), "|".join(want)), f"doc {i}"


def test_resized_bmp_survives_shard_roundtrip(spark, tmp_path):
    """The review-flagged gap: resized images (mime image/bmp) must
    keep their mime through write_media_shards -> read_media_shards,
    and a foreign-named tar member must be skipped, not crash the
    reader."""
    import os
    import tarfile

    from pyspark.sql import functions as F

    from data_management_python_spark.llmdata import multimodal as mm
    from data_management_python_spark.llmdata.multimodal import _encode_bmp24

    blob = _encode_bmp24(4, 4, [(i, i, i) for i in range(16)])
    media = spark.createDataFrame(
        [(1, bytearray(blob))], "media_id long, content binary"
    )
    resized = mm.resize_images(media, 2, 2).select(
        "media_id",
        F.lit("image").alias("modality"),
        "content",
        "mime_type",
        F.lit("{}").alias("meta_json"),
    )
    out = tmp_path / "bmp_shards"
    mm.write_media_shards(resized, str(out), n_shards=1).collect()
    # adversarial member: real WebDataset naming the reader must skip
    shard = next(p for p in os.listdir(out) if p.endswith(".tar"))
    with tarfile.open(out / shard, "a") as tar:
        import io

        info = tarfile.TarInfo("sample_000.jpg")
        info.size = 3
        tar.addfile(info, io.BytesIO(b"xxx"))
    back = mm.read_media_shards(spark, str(out / "*.tar")).collect()
    assert len(back) == 1
    assert back[0].mime_type == "image/bmp"
    from data_management_python_spark.llmdata.multimodal import _sniff_image

    assert _sniff_image(bytes(back[0].content)) == ("bmp", 2, 2)


def test_kcenter_select_matches_greedy_reference(spark):
    """Distributed k-center replays the single-machine greedy exactly:
    same trajectory (seed = lowest id, then farthest-from-chosen with
    rounded distances and id tie-breaks), non-increasing coverage
    radii after the first picked point."""
    from data_management_python_spark.catalog import load_table
    from data_management_python_spark.llmdata.similarity import kcenter_select

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    sub = emb.filter("vec_id < 60")  # limit() without order is not
    # deterministic across the two evaluations below
    rows = {
        r.vec_id: [float(x) for x in r.embedding] for r in sub.collect()
    }

    def n2(v):
        acc = 0.0
        for x in v:
            acc += x * x
        return acc

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    k = 5
    chosen = [min(rows)]
    radii = [0.0]
    for _ in range(1, k):
        best = None
        for vid, v in rows.items():
            if vid in chosen:
                continue
            md = min(
                round(n2(v) - 2 * dot(v, rows[c]) + n2(rows[c]), 6)
                for c in chosen
            )
            key = (-md, vid)
            if best is None or key < best[0]:
                best = (key, vid, md)
        chosen.append(best[1])
        radii.append(best[2])

    got = kcenter_select(sub, "vec_id", "embedding", k=k).collect()
    got_ids = [r.vec_id for r in sorted(got, key=lambda r: r.selection_order)]
    got_radii = [
        r.min_dist_sq for r in sorted(got, key=lambda r: r.selection_order)
    ]
    assert got_ids == chosen
    import pytest

    assert got_radii == pytest.approx(radii)
    # coverage radius is non-increasing across greedy picks
    assert all(
        got_radii[i] >= got_radii[i + 1] for i in range(1, len(got_radii) - 1)
    )


def test_kcenter_udf_path_matches_literal_path_at_k200(spark):
    """Past the literal_max_terms gate the chosen centers travel in a
    pandas-UDF closure instead of as O(k*d) plan literals; the two
    physical paths must produce the identical greedy trajectory
    (rounding is HALF_UP on both), and k=200 must run without blowing
    the plan."""
    from data_management_python_spark.catalog import load_table
    from data_management_python_spark.llmdata.similarity import (
        kcenter_select,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    sub = emb.filter("vec_id < 120")
    # same k, both paths forced via the gate
    lit = kcenter_select(
        sub, "vec_id", "embedding", k=12, literal_max_terms=10**9
    ).collect()
    udf = kcenter_select(
        sub, "vec_id", "embedding", k=12, literal_max_terms=0
    ).collect()
    key = lambda r: r.selection_order  # noqa: E731
    assert [r.vec_id for r in sorted(lit, key=key)] == [
        r.vec_id for r in sorted(udf, key=key)
    ]
    assert [r.min_dist_sq for r in sorted(lit, key=key)] == [
        r.min_dist_sq for r in sorted(udf, key=key)
    ]

    # k=200 exceeds the default gate (k*d > 4096 for d=32) -> UDF path
    big = kcenter_select(emb, "vec_id", "embedding", k=200).collect()
    assert len(big) == 200
    ids = [r.vec_id for r in sorted(big, key=key)]
    assert len(set(ids)) == 200
    radii = [r.min_dist_sq for r in sorted(big, key=key)]
    assert all(radii[i] >= radii[i + 1] for i in range(1, len(radii) - 1))


def test_bpe_batched_parity_property_random_corpora(spark):
    """The batched trainer's safety bound (mutually-unaffected prefix
    + created-pair count bound) must replay sequential greedy exactly
    on ARBITRARY corpora, not just the fixtures — random corpora land
    in the regimes that stress it: heavy count ties, merge cascades,
    and symbols colliding with joined strings."""
    import random

    from data_management_python_spark.llmdata.bpe import (
        bpe_train,
        bpe_train_reference,
    )

    rng = random.Random(5150)
    for trial in range(5):
        # trials 3-4 use the sentinel-forming alphabet: merges over
        # words containing <, /, w, > can CREATE the string "</w>",
        # colliding with the end-of-word sentinel symbol — the one
        # case where a batch merge boosts a pre-existing pair's count
        # and the safety bound's additive B term must engage
        alphabet = "abcdef" if trial < 3 else "</w>a"
        vocab = [
            "".join(rng.choices(alphabet, k=rng.randint(2, 6)))
            for _ in range(rng.randint(6, 20))
        ]
        texts = [
            " ".join(rng.choices(vocab, k=rng.randint(2, 30)))
            for _ in range(rng.randint(2, 8))
        ]
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        n = rng.randint(5, 14)
        got = bpe_train(docs, num_merges=n, batch=8)
        want = bpe_train_reference(texts, num_merges=n)
        assert got == want, (trial, texts, n)


def test_bpe_batched_parity_selfoverlap_and_equal_join(spark):
    """Round-6 regression pins for two batch-conflict gaps the endpoint
    rule missed (found by a 200k-trial randomized search of a pure-
    Python sim against the sequential reference):

    * SELF-OVERLAPPING merger: ('a','a') on runs "aaa" creates
      ('aa','a') out of its own occurrence mass — the bound-A scan
      excludes batch members, so the created pair (count 21 below)
      tied ('b','</w>') (21) and should win the lex tie-break, but the
      old batch had already emitted ('b','</w>') first.
    * EQUAL JOINED strings: (a,bc) and (ab,c) both forming "abc"
      jointly feed a created (x,"abc") the per-merger bound sees once.

    Corpora are the actual divergence-minimal finds; alphabet {a,b,c}
    with long same-char runs is maximally adversarial."""
    from data_management_python_spark.llmdata.bpe import (
        bpe_train,
        bpe_train_reference,
    )

    corpora = [
        # self-overlap divergence: old batch emitted ('b','</w>')
        # before the created ('aa','a') that sequential greedy ranks
        # first on the 21-21 tie
        ([
            "baaabb aaacb baaabb baaabb cbc aaacb aaacb aaacb baaabb "
            "cbc baaabb aaacb cbc aaacb baaabb",
            "aaacb baaabb baaabb cbc",
            "aaacb cbc aaacb aaacb baaabb cbc baaabb baaabb",
        ], 6),
        ([
            "bbbbab aaaaaa aaaaaa abbaa bbbbab bb aaaaaa bbabab bb",
            "aaaaaa aaaaaa aaaaaa aaaaaa bbabab aaaaaa abbaa",
        ], 9),
        (["aaacc aaacc ba ccbb bcbbcb baaa aaacc cbaaa aaacc aaacc "
          "bbacca"], 4),
    ]
    for texts, n in corpora:
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        got = bpe_train(docs, num_merges=n, batch=8)
        want = bpe_train_reference(texts, num_merges=n)
        assert got == want, (texts, n, got, want)


def test_kcenter_path_parity_on_half_grid_distance(spark):
    """Round-6 regression: a distance whose binary double sits a hair
    off the 0.0000005 half-grid (raw = 2.4999999999999998e-06 here —
    found by randomized search) rounds DIFFERENTLY under the UDF's old
    floor trick (|x|*1e6 rounds up to 2.5 exactly -> 3e-6) than under
    Spark's shortest-decimal-repr HALF_UP (2.4999999999999998 -> 2e-6).
    Half-grid-adjacent cells must take the exact Decimal(repr) path
    regardless of magnitude so both physical paths agree."""
    from data_management_python_spark.llmdata.similarity import (
        kcenter_select,
    )

    # seed (id 1) is the 'chosen' vector; id 2's distance to it is the
    # half-grid raw value above
    emb = spark.createDataFrame(
        [
            (1, [0.001847, 0.000693]),
            (2, [0.000347, 0.001193]),
            (3, [0.5, 0.5]),
        ],
        "vec_id long, embedding array<double>",
    )
    lit = kcenter_select(
        emb, "vec_id", "embedding", k=3, literal_max_terms=10**9
    ).collect()
    udf = kcenter_select(
        emb, "vec_id", "embedding", k=3, literal_max_terms=0
    ).collect()
    key = lambda r: r.selection_order  # noqa: E731
    assert [(r.vec_id, r.min_dist_sq) for r in sorted(lit, key=key)] == [
        (r.vec_id, r.min_dist_sq) for r in sorted(udf, key=key)
    ]
    # and the half-grid distance itself must be the repr-HALF_UP value
    by_id = {r.vec_id: r.min_dist_sq for r in udf}
    assert by_id[2] == 2e-06


def test_kcenter_path_parity_at_hostile_magnitudes(spark):
    """Unnormalized vectors with 1e4-scale components put squared
    distances where the double ulp rivals the 1e-6 rounding grid —
    numpy's pairwise matmul and the floor-trick round both diverge
    from Spark's sequential fold there.  The UDF path must recompute
    such cells Spark-exactly so both physical paths still walk the
    identical trajectory WITH identical rounded radii."""
    import random

    from data_management_python_spark.llmdata.similarity import (
        kcenter_select,
    )

    rng = random.Random(3)
    rows = [
        (i, [rng.uniform(-40000, 40000) for _ in range(4)])
        for i in range(30)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    key = lambda r: r.selection_order  # noqa: E731
    lit = kcenter_select(
        emb, "vec_id", "embedding", k=8, literal_max_terms=10**9
    ).collect()
    udf = kcenter_select(
        emb, "vec_id", "embedding", k=8, literal_max_terms=0
    ).collect()
    assert [(r.vec_id, r.min_dist_sq) for r in sorted(lit, key=key)] == [
        (r.vec_id, r.min_dist_sq) for r in sorted(udf, key=key)
    ]


def _png_filtered_fixture(width, height, px, filters, rgba=False):
    """Test-local PNG builder applying a CHOSEN filter per row — the
    decoder must invert all five; the module's own encoder only emits
    filter 0, so conformant third-party files (libpng favors Paeth)
    need this adversarial path."""
    import struct
    import zlib

    bpp = 4 if rgba else 3

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    rows = []
    for r in range(height):
        row = bytearray()
        for c in range(width):
            rgb = px[r * width + c]
            row += bytes(rgb if not rgba else (*rgb, 200))
        rows.append(bytes(row))
    raw = bytearray()
    zero = bytes(len(rows[0]))
    for r, (filt, line) in enumerate(zip(filters, rows)):
        prior = rows[r - 1] if r else zero
        raw.append(filt)
        for i in range(len(line)):
            left = line[i - bpp] if i >= bpp else 0
            ul = prior[i - bpp] if i >= bpp else 0
            up = prior[i]
            if filt == 0:
                v = line[i]
            elif filt == 1:
                v = line[i] - left
            elif filt == 2:
                v = line[i] - up
            elif filt == 3:
                v = line[i] - ((left + up) >> 1)
            else:
                v = line[i] - paeth(left, up, ul)
            raw.append(v & 0xFF)
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 6 if rgba else 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b""))


def test_png_roundtrip_and_filter_coverage():
    """Pure-Python PNG codec: encode->decode identity, and the decoder
    inverts every filter type (None/Sub/Up/Average/Paeth) plus RGBA
    alpha-drop — files from conformant third-party encoders decode,
    not just this module's filter-0 output."""
    import random

    from data_management_python_spark.llmdata.multimodal import (
        _decode_png_wh_pixels,
        _encode_png24,
        _sniff_image,
    )

    rng = random.Random(6)
    for w, h in [(1, 1), (3, 2), (5, 7), (16, 16)]:
        px = [
            (rng.randrange(256), rng.randrange(256), rng.randrange(256))
            for _ in range(w * h)
        ]
        blob = _encode_png24(w, h, px)
        assert _sniff_image(blob) == ("png", w, h)
        assert _decode_png_wh_pixels(blob) == (w, h, px)
        # adversarial filters, every type exercised across rows
        filters = [(r % 5) for r in range(h)]
        assert _decode_png_wh_pixels(
            _png_filtered_fixture(w, h, px, filters)
        ) == (w, h, px)
        # RGBA: alpha dropped, pixels identical
        assert _decode_png_wh_pixels(
            _png_filtered_fixture(w, h, px, filters, rgba=True)
        ) == (w, h, px)
    # non-PNG and truncated inputs refuse instead of raising
    assert _decode_png_wh_pixels(b"not a png") is None
    assert _decode_png_wh_pixels(blob[:30]) is None


def test_png_decoder_rejects_adversarial_blobs_bounded():
    """Untrusted-corpus hardening (round-6 advice): a decompression
    bomb (tiny IDAT, huge inflate) must be stopped at the
    IHDR-derived byte bound instead of OOMing the worker, and absurd
    declared dimensions must refuse before any allocation."""
    import struct
    import tracemalloc
    import zlib

    from data_management_python_spark.llmdata.multimodal import (
        _MAX_IMAGE_PIXELS,
        _PNG_SIG,
        _decode_png_wh_pixels,
        _encode_png24,
    )

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    def png(w, h, idat_raw):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        return (
            _PNG_SIG
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(idat_raw, 9))
            + chunk(b"IEND", b"")
        )

    # declared dims over the pixel cap: refused outright
    big_w = 100_000
    big_h = _MAX_IMAGE_PIXELS // big_w + 1
    assert _decode_png_wh_pixels(png(big_w, big_h, b"\x00")) is None

    # bomb: 8x8 declared, IDAT inflates to 64 MB.  The compressed blob
    # is a few KB; the decoder must cap the inflate near the ~200-byte
    # expected size, so peak allocation stays far under the bomb size.
    bomb = png(8, 8, b"\x00" * (64 * 1024 * 1024))
    assert len(bomb) < 128 * 1024  # it really is a bomb
    tracemalloc.start()
    assert _decode_png_wh_pixels(bomb) is None
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert peak < 8 * 1024 * 1024, f"bomb inflated {peak} bytes"

    # a valid image still decodes after the hardening
    px = [(r, r, r) for r in range(16)]
    assert _decode_png_wh_pixels(_encode_png24(4, 4, px)) == (4, 4, px)


def test_resize_images_png_output_and_input(spark):
    """resize_images decodes PNG inputs without PIL and re-encodes as
    PNG when asked: mime, sniffed dims, and nearest-neighbor pixels all
    line up; the PNG thumbnails round-trip through the module's own
    decoder."""
    from data_management_python_spark.llmdata.multimodal import (
        _decode_png_wh_pixels,
        _encode_png24,
        _sniff_image,
        resize_images,
    )

    px = [
        (255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9),
        (1, 1, 1), (2, 2, 2), (3, 3, 3), (4, 4, 4),
    ]
    blob = _encode_png24(4, 2, px)
    df = spark.createDataFrame(
        [(1, bytearray(blob)), (2, bytearray(b"junk"))],
        "media_id long, content binary",
    )
    got = {
        r.media_id: r
        for r in resize_images(df, 2, 1, out_format="png").collect()
    }
    ok = got[1]
    assert ok.resized and ok.mime_type == "image/png"
    assert _sniff_image(bytes(ok.content)) == ("png", 2, 1)
    assert _decode_png_wh_pixels(bytes(ok.content)) == (
        2, 1, [(255, 0, 0), (0, 0, 255)],
    )
    assert not got[2].resized and bytes(got[2].content) == b"junk"

    import pytest

    with pytest.raises(ValueError, match="out_format"):
        resize_images(df, 2, 1, out_format="webp")


def test_wav_decode_features_and_clip_slicing(spark):
    """REAL audio path: a PCM WAV round-trips through the stdlib
    codec, extract_features pools RMS energy over true samples (loud
    first half, silent second half), and sample_frames slices real
    time windows with sample-rate timestamps, each a standalone
    decodable WAV clip."""
    import math

    from data_management_python_spark.llmdata.multimodal import (
        _decode_wav_samples,
        _encode_wav16,
        extract_features,
        sample_frames,
    )

    rate = 8000
    loud = [0.5 * math.sin(2 * math.pi * 440 * t / rate)
            for t in range(rate)]          # 1s of 440Hz at 0.5 amp
    quiet = [0.0] * rate                   # 1s of silence
    blob = _encode_wav16(rate, loud + quiet)

    got = _decode_wav_samples(blob)
    assert got is not None
    r, nch, samples = got
    assert (r, nch, len(samples)) == (rate, 1, 2 * rate)
    assert abs(max(samples) - 0.5) < 1e-3
    # stereo mono-mix and 8-bit width decode too
    st = _decode_wav_samples(_encode_wav16(rate, loud[:100], n_channels=2))
    assert st is not None and st[1] == 2 and len(st[2]) == 100
    assert _decode_wav_samples(b"RIFFxxxxWAVEjunk") is None

    media = spark.createDataFrame(
        [(1, "audio", bytearray(blob), "audio/wav", None),
         (2, "audio", bytearray(b"not audio"), None, None)],
        "media_id long, modality string, content binary, "
        "mime_type string, meta_json string",
    )
    feats = {
        r.media_id: r.feature
        for r in extract_features(media, dim=4).collect()
    }
    # halves: chunks 0-1 cover the loud second (RMS ~ 0.5/sqrt(2)),
    # chunks 2-3 the silence
    f = feats[1]
    assert abs(f[0] - 0.5 / math.sqrt(2)) < 0.01 and f[1] == f[0]
    assert f[2] == 0.0 and f[3] == 0.0
    assert feats[2] is not None  # stub path still vectorizes

    clips = [
        r for r in sample_frames(media, n_frames=4).collect()
        if r.media_id == 1
    ]
    assert len(clips) == 4
    # true sample-rate timestamps: 2s / 4 windows = 500ms steps
    assert [c.frame_ts_ms for c in clips] == [0, 500, 1000, 1500]
    for c in clips:
        dec = _decode_wav_samples(bytes(c.frame_bytes))
        assert dec is not None and dec[0] == rate
        assert len(dec[2]) == (2 * rate) // 4


def test_wav_zero_rate_blob_refused_not_crashing(spark):
    """A parseable WAV declaring sample rate 0 (the stdlib wave module
    accepts it) must decode to None and take the stub paths — one
    adversarial blob must not ZeroDivision an entire sample_frames or
    extract_features job."""
    import io
    import struct
    import wave

    from data_management_python_spark.llmdata.multimodal import (
        _decode_wav_samples,
        extract_features,
        sample_frames,
    )

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(1)  # placeholder; patched to 0 below
        w.writeframes(struct.pack("<4h", 1, 2, 3, 4))
    blob = bytearray(buf.getvalue())
    # fmt chunk sample-rate field lives at offset 24 in a canonical
    # RIFF/WAVE header; zero it (byte rate at 28 too, for coherence)
    blob[24:28] = (0).to_bytes(4, "little")
    blob[28:32] = (0).to_bytes(4, "little")
    with wave.open(io.BytesIO(bytes(blob))) as w:
        assert w.getframerate() == 0  # stdlib really accepts it
    assert _decode_wav_samples(bytes(blob)) is None

    media = spark.createDataFrame(
        [(1, "audio", blob, "audio/wav", None)],
        "media_id long, modality string, content binary, "
        "mime_type string, meta_json string",
    )
    assert sample_frames(media, n_frames=2).count() == 2  # stub slices
    assert extract_features(media, dim=4).count() == 1    # stub vector


# -- baseline JPEG codec (round-7) -------------------------------------------

#: CPython's own 16x16 baseline 4:2:0 test JPEG (Lib/test/test_email/
#: data/python.jpg, PSF license) — an INDEPENDENT real-encoder fixture,
#: embedded so the test doesn't depend on the interpreter's layout
_PYTHON_LOGO_JPG_B64 = (
    "/9j/4AAQSkZJRgABAQEAAQABAAD/2wBDAAMCAgICAgMCAgIDAwMDBAYEBAQEBAgGBgUGCQgKCgkICQkKDA8MCgsOCwkJDRENDg8QEBEQCgwSExIQEw8QEBD/2wBDAQMDAwQDBAgEBAgQCwkLEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBD/wAARCAAQABADASIAAhEBAxEB/8QAFgABAQEAAAAAAAAAAAAAAAAABwQF/8QAJBAAAQQBBAICAwAAAAAAAAAAAQIDBAYFBwgSExEiABQJMTL/xAAVAQEBAAAAAAAAAAAAAAAAAAAABv/EACMRAAECBQMFAAAAAAAAAAAAAAECEQMEBQYhABIxFRZhgeH/2gAMAwEAAhEDEQA/ABSm0mobc8HmExLUlRzzEWPkJWW+ulrsaUVAseUgslSlH9LKuPryIKuWPZdskzXmm3fX5m2nF4GlVxx/HOpx4ks51+MiU/Iaad7UcUo4tILoS4kqcWkezS0hO/HvuRp0rO6hWnWO1UisZVuFi4GFeyEpmGepa5S5SWVPuciFKRFLgSrwetnyPIB+Vb4N9mKhQMzo5po9XLdDs9d6ZVix2VEhiL9kuNPxw2gEKcDQ/rs8AuA8VAe0vdl7VOYn+27flGAUgmITjbhSmCg3BYlyeWDkMolvw4KOp1KM6iCNvngZHwetf//Z"
)


def _jpeg_test_encoder(
    w, h, px, subsample=False, restart_interval=0, quant=1,
    scan_order=(0, 1, 2),
):
    """Minimal baseline JPEG ENCODER for roundtrip tests: float FDCT,
    flat quant tables, canonical fixed-length Huffman tables built from
    the symbols actually emitted (inverted through the decoder's own
    _jpeg_huff_table so canonical code assignment is exercised, not
    assumed), optional 4:2:0 subsampling and restart intervals.  Lives
    in the tests — the engine only decodes."""
    import math
    import struct

    from data_management_python_spark.llmdata.multimodal import (
        _JPEG_ZIGZAG,
        _jpeg_huff_table,
    )

    def fdct(block):  # 8x8 forward DCT-II, T.81 normalization
        out = [0.0] * 64
        for u in range(8):
            cu = (0.3535533905932738 if u == 0 else 0.5)
            for v in range(8):
                cv = (0.3535533905932738 if v == 0 else 0.5)
                s = 0.0
                for y in range(8):
                    for x in range(8):
                        s += block[y * 8 + x] * math.cos(
                            (2 * x + 1) * v * math.pi / 16
                        ) * math.cos((2 * y + 1) * u * math.pi / 16)
                out[u * 8 + v] = cu * cv * s
        return out

    def cat(v):  # magnitude category + raw bits (T.81 F.1.2.1.2)
        if v == 0:
            return 0, 0
        t = abs(v).bit_length()
        return t, (v if v >= 0 else v + (1 << t) - 1)

    # color convert + plane extraction
    ys = [0.0] * (w * h)
    cbs = [0.0] * (w * h)
    crs = [0.0] * (w * h)
    for i, (r, g, b) in enumerate(px):
        ys[i] = 0.299 * r + 0.587 * g + 0.114 * b
        cbs[i] = -0.168736 * r - 0.331264 * g + 0.5 * b + 128
        crs[i] = 0.5 * r - 0.418688 * g - 0.081312 * b + 128
    if subsample:
        cw, ch = -(-w // 2), -(-h // 2)

        def down(p):
            out = [0.0] * (cw * ch)
            for y in range(ch):
                for x in range(cw):
                    vals = [
                        p[yy * w + xx]
                        for yy in (2 * y, min(2 * y + 1, h - 1))
                        for xx in (2 * x, min(2 * x + 1, w - 1))
                    ]
                    out[y * cw + x] = sum(vals) / len(vals)
            return out

        planes = [(ys, w, h, 2, 2), (down(cbs), cw, ch, 1, 1),
                  (down(crs), cw, ch, 1, 1)]
    else:
        planes = [(ys, w, h, 1, 1), (cbs, w, h, 1, 1), (crs, w, h, 1, 1)]
    hmax = max(p[3] for p in planes)
    vmax = max(p[4] for p in planes)
    mcus_x, mcus_y = -(-w // (8 * hmax)), -(-h // (8 * vmax))

    # pass 1: quantized coefficient blocks per MCU, in scan order
    def block_at(plane, pw, ph, bx, by):
        out = [0.0] * 64
        for y in range(8):
            sy = min(by * 8 + y, ph - 1)
            for x in range(8):
                sx = min(bx * 8 + x, pw - 1)
                out[y * 8 + x] = plane[sy * pw + sx] - 128
        return out

    mcu_blocks = []  # [(comp_idx, zigzag-quantized 64 ints)]
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci in scan_order:  # MCU data units follow SCAN order
                plane, pw, ph, hs, vs = planes[ci]
                for by in range(vs):
                    for bx in range(hs):
                        f = fdct(
                            block_at(plane, pw, ph, mx * hs + bx,
                                     my * vs + by)
                        )
                        zz = [
                            int(round(f[_JPEG_ZIGZAG[k]] / quant))
                            for k in range(64)
                        ]
                        mcu_blocks.append((ci, zz))

    # pass 2: symbol census -> fixed-length canonical tables
    n_per_mcu = sum(p[3] * p[4] for p in planes)
    dc_syms = [set(), set()]
    ac_syms = [set(), set()]
    preds = [0, 0, 0]
    bi = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            mcu_i = my * mcus_x + mx
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                preds = [0, 0, 0]
            for _ in range(n_per_mcu):
                ci, zz = mcu_blocks[bi]
                bi += 1
                tid = 0 if ci == 0 else 1
                t, _bits = cat(zz[0] - preds[ci])
                preds[ci] = zz[0]
                dc_syms[tid].add(t)
                run = 0
                for k in range(1, 64):
                    if zz[k] == 0:
                        run += 1
                        continue
                    while run > 15:
                        ac_syms[tid].add(0xF0)
                        run -= 16
                    s, _ = cat(zz[k])
                    ac_syms[tid].add((run << 4) | s)
                    run = 0
                if run:
                    ac_syms[tid].add(0x00)
    for t in ac_syms:
        t.add(0x00)  # always allow EOB

    def make_table(symset):
        vals = bytes(sorted(symset))
        length = max(1, (len(vals) + 1).bit_length())
        bits = [0] * 16
        bits[length - 1] = len(vals)
        dec = _jpeg_huff_table(bits, vals)
        enc = {sym: (ln, code) for (ln, code), sym in dec.items()}
        return bits, vals, enc

    tables = {  # (class, id) -> (bits, vals, encode map)
        (0, 0): make_table(dc_syms[0]),
        (0, 1): make_table(dc_syms[1]),
        (1, 0): make_table(ac_syms[0]),
        (1, 1): make_table(ac_syms[1]),
    }

    # pass 3: entropy-coded bytes
    out_bits = []

    def put(n, v):
        for i in range(n - 1, -1, -1):
            out_bits.append((v >> i) & 1)

    def flush_stuffed(data):
        while len(out_bits) % 8:
            out_bits.append(1)
        for i in range(0, len(out_bits), 8):
            byte = 0
            for b in out_bits[i : i + 8]:
                byte = (byte << 1) | b
            data.append(byte)
            if byte == 0xFF:
                data.append(0x00)
        out_bits.clear()

    scan = bytearray()
    preds = [0, 0, 0]
    bi = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            mcu_i = my * mcus_x + mx
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                flush_stuffed(scan)
                scan += bytes([0xFF, 0xD0 + ((mcu_i // restart_interval - 1) & 7)])
                preds = [0, 0, 0]
            for _ in range(n_per_mcu):
                ci, zz = mcu_blocks[bi]
                bi += 1
                tid = 0 if ci == 0 else 1
                t, tb = cat(zz[0] - preds[ci])
                preds[ci] = zz[0]
                ln, code = tables[(0, tid)][2][t]
                put(ln, code)
                put(t, tb)
                run = 0
                for k in range(1, 64):
                    if zz[k] == 0:
                        run += 1
                        continue
                    while run > 15:
                        ln, code = tables[(1, tid)][2][0xF0]
                        put(ln, code)
                        run -= 16
                    s, sb = cat(zz[k])
                    ln, code = tables[(1, tid)][2][(run << 4) | s]
                    put(ln, code)
                    put(s, sb)
                    run = 0
                if run:
                    ln, code = tables[(1, tid)][2][0x00]
                    put(ln, code)
    flush_stuffed(scan)

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    qtab = bytes([0]) + bytes([quant] * 64)
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for cid, (_, _, _, hs, vs) in enumerate(planes, start=1):
        sof += bytes([cid, (hs << 4) | vs, 0])
    dht = b""
    for (cls, tid), (bits, vals, _) in sorted(tables.items()):
        dht += seg(0xC4, bytes([(cls << 4) | tid]) + bytes(bits) + vals)
    sos = bytes([3]) + b"".join(
        bytes([ci + 1, 0x00 if ci == 0 else 0x11]) for ci in scan_order
    ) + bytes([0, 63, 0])
    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, qtab)
    out += seg(0xC0, sof)
    out += dht
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    out += seg(0xDA, sos)
    out += scan
    out += b"\xff\xd9"
    return bytes(out)


def test_jpeg_decode_handcrafted_dc_only_exact():
    """Absolute anchor (not a mirrored roundtrip): a byte-level
    hand-assembled grayscale baseline JPEG — flat quant table, one
    1-bit Huffman code per table, DC diff 80, immediate EOB — whose
    expected output is computed BY HAND from T.81: DC-only IDCT gives
    80/8 + 128 = 138 for all 64 samples."""
    from data_management_python_spark.llmdata.multimodal import (
        _decode_jpeg_wh_pixels,
        _sniff_image,
    )

    blob = bytes(
        [0xFF, 0xD8]                                   # SOI
        + [0xFF, 0xDB, 0x00, 0x43, 0x00] + [1] * 64    # DQT id0, all 1s
        + [0xFF, 0xC0, 0x00, 0x0B, 0x08,               # SOF0 8-bit
           0x00, 0x08, 0x00, 0x08, 0x01,               # 8x8, 1 comp
           0x01, 0x11, 0x00]                           # comp 1: 1x1, q0
        + [0xFF, 0xC4, 0x00, 0x14, 0x00, 0x01]         # DHT DC0:
        + [0x00] * 15 + [0x07]                         #  1 code len1 -> sym 7
        + [0xFF, 0xC4, 0x00, 0x14, 0x10, 0x01]         # DHT AC0:
        + [0x00] * 15 + [0x00]                         #  1 code len1 -> EOB
        + [0xFF, 0xDA, 0x00, 0x08, 0x01, 0x01, 0x00,   # SOS
           0x00, 0x3F, 0x00]
        + [0x50, 0x7F]                                 # 0|1010000|0|pad1s
        + [0xFF, 0xD9]                                 # EOI
    )
    assert _sniff_image(blob) == ("jpeg", 8, 8)
    out = _decode_jpeg_wh_pixels(blob)
    assert out is not None
    w, h, px = out
    assert (w, h) == (8, 8)
    assert px == [(138, 138, 138)] * 64


def test_jpeg_decode_real_encoder_fixture():
    """The embedded CPython python.jpg (16x16 baseline 4:2:0 from a
    real third-party encoder): dims match the sniffer, and the decoded
    image shows the logo's structure — Python blue in the upper snake,
    Python yellow in the lower snake, near-black border."""
    import base64

    from data_management_python_spark.llmdata.multimodal import (
        _decode_jpeg_wh_pixels,
        _sniff_image,
    )

    blob = base64.b64decode(_PYTHON_LOGO_JPG_B64)
    assert _sniff_image(blob) == ("jpeg", 16, 16)
    out = _decode_jpeg_wh_pixels(blob)
    assert out is not None
    w, h, px = out
    assert (w, h, len(px)) == (16, 16, 256)
    r, g, b = px[5 * 16 + 6]           # upper snake: Python blue
    assert b > r + 50 and 80 <= b <= 220 and 80 <= g <= 180
    r, g, b = px[10 * 16 + 6]          # lower snake: Python yellow
    assert r > 200 and g > 180 and b < 140 and r > b + 100
    assert all(v < 40 for v in px[0])  # border: near-black
    assert all(v < 40 for v in px[255])


def test_jpeg_roundtrip_444_420_and_restarts():
    """Own-encoder roundtrip at flat quant: 4:4:4 must reconstruct
    within DCT float-rounding tolerance; 4:2:0 over 2x2-constant
    content is subsampling-lossless and must match within the same
    tolerance; a restart interval exercises RSTn sync + DC prediction
    reset."""
    import random

    from data_management_python_spark.llmdata.multimodal import (
        _decode_jpeg_wh_pixels,
    )

    rng = random.Random(7)

    def assert_close(px, got, tol):
        worst = max(
            abs(a - b) for p, q in zip(px, got) for a, b in zip(p, q)
        )
        assert worst <= tol, f"max channel error {worst} > {tol}"

    # 4:4:4, 16x8 random smooth-ish content
    w, h = 16, 8
    px = []
    for y in range(h):
        for x in range(w):
            base = 16 * x + 8 * y
            px.append((
                (base + rng.randrange(32)) % 256,
                (2 * base + rng.randrange(32)) % 256,
                (128 + base + rng.randrange(32)) % 256,
            ))
    out = _decode_jpeg_wh_pixels(_jpeg_test_encoder(w, h, px))
    assert out is not None and (out[0], out[1]) == (w, h)
    assert_close(px, out[2], 14)  # YCbCr int roundtrip + DCT rounding

    # 4:2:0 with 2x2-constant color blocks (subsampling-lossless)
    w, h = 16, 16
    px = []
    for y in range(h):
        for x in range(w):
            cx, cy = x // 2, y // 2
            px.append((
                (37 * cx + 11 * cy) % 256,
                (91 * cx + 53 * cy) % 256,
                (13 * cx + 71 * cy) % 256,
            ))
    out = _decode_jpeg_wh_pixels(_jpeg_test_encoder(w, h, px, subsample=True))
    assert out is not None and (out[0], out[1]) == (w, h)
    assert_close(px, out[2], 14)

    # restart interval: 32x8 4:4:4 -> 8 MCUs, RST every 2
    w, h = 32, 8
    px = [(i % 256, (3 * i) % 256, (7 * i) % 256) for i in range(w * h)]
    blob = _jpeg_test_encoder(w, h, px, restart_interval=2)
    assert b"\xff\xd0" in blob or b"\xff\xd1" in blob  # RSTn present
    out = _decode_jpeg_wh_pixels(blob)
    assert out is not None and (out[0], out[1]) == (w, h)
    assert_close(px, out[2], 14)


def test_jpeg_decode_rejects_unsupported_and_malformed():
    """Progressive SOF2, truncated scans, and over-cap declared dims
    refuse with None instead of raising or OOMing."""
    import base64

    from data_management_python_spark.llmdata.multimodal import (
        _MAX_JPEG_PIXELS,
        _decode_jpeg_wh_pixels,
    )

    blob = base64.b64decode(_PYTHON_LOGO_JPG_B64)
    # flip SOF0 -> SOF2 (progressive): refuse
    i = blob.find(b"\xff\xc0")
    prog = blob[:i] + b"\xff\xc2" + blob[i + 2:]
    assert _decode_jpeg_wh_pixels(prog) is None
    # truncated entropy scan: refuse, no exception
    assert _decode_jpeg_wh_pixels(blob[: len(blob) // 2]) is None
    assert _decode_jpeg_wh_pixels(b"\xff\xd8\xff") is None
    # dimension bomb: huge declared dims refuse before any allocation
    big = (_MAX_JPEG_PIXELS // 60000) + 1
    j = blob.find(b"\xff\xc0")
    sof = bytearray(blob[j : j + 19])
    sof[5:7] = big.to_bytes(2, "big") if big < 65536 else b"\xff\xff"
    sof[7:9] = (60000).to_bytes(2, "big")
    bomb = blob[:j] + bytes(sof) + blob[j + 19:]
    assert _decode_jpeg_wh_pixels(bomb) is None


def test_jpeg_through_resize_and_features_dispatch(spark):
    """Spark-side plumbing: a real JPEG blob flows through
    resize_images (decode -> resample -> BMP re-encode) without PIL,
    and undecodable rows still pass through."""
    import base64

    from data_management_python_spark.llmdata.multimodal import (
        _decode_bmp_pixels,
        _sniff_image,
        resize_images,
    )

    blob = base64.b64decode(_PYTHON_LOGO_JPG_B64)
    df = spark.createDataFrame(
        [(1, bytearray(blob)), (2, bytearray(b"junk"))],
        "media_id long, content binary",
    )
    got = {r.media_id: r for r in resize_images(df, 4, 4).collect()}
    ok = got[1]
    assert ok.resized and ok.mime_type == "image/bmp"
    assert _sniff_image(bytes(ok.content)) == ("bmp", 4, 4)
    small = _decode_bmp_pixels(bytes(ok.content))
    assert len(small) == 16
    r, g, b = small[10]  # lower-left quadrant samples the yellow snake
    assert r > 150 and b < 160
    assert not got[2].resized and bytes(got[2].content) == b"junk"


def test_jpeg_sos_reordered_components_decode_correctly():
    """T.81 orders an interleaved MCU's data units by the SCAN header's
    component list, which may differ from SOF order — a conformant
    file with SOS listing Cr,Cb,Y must decode with the planes mapped
    by component ID, not by position (round-7 review finding: SOF-order
    iteration silently swapped planes)."""
    from data_management_python_spark.llmdata.multimodal import (
        _decode_jpeg_wh_pixels,
    )

    w, h = 8, 8
    px = [(200, 30, 60)] * (w * h)  # strongly chromatic: swaps visible
    normal = _decode_jpeg_wh_pixels(_jpeg_test_encoder(w, h, px))
    reordered = _decode_jpeg_wh_pixels(
        _jpeg_test_encoder(w, h, px, scan_order=(2, 1, 0))
    )
    assert normal is not None and reordered is not None
    assert reordered[2] == normal[2]  # identical pixels either order
    r, g, b = reordered[2][0]
    assert abs(r - 200) <= 6 and abs(g - 30) <= 6 and abs(b - 60) <= 6


def test_jpeg_grayscale_with_sampling_factors_is_noninterleaved():
    """A single-component scan is NON-INTERLEAVED: one data unit per
    MCU in raster order, sampling factors ignored.  A 16x8 grayscale
    declaring 2x2 sampling carries exactly 2 DC-only data units (left
    138, right 128) — the interleaved rule would expect 4 and garble
    the layout (round-7 review finding)."""
    import struct

    from data_management_python_spark.llmdata.multimodal import (
        _decode_jpeg_wh_pixels,
    )

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(
            ">H", len(payload) + 2
        ) + payload

    bits = []

    def put(n, v):
        for i in range(n - 1, -1, -1):
            bits.append((v >> i) & 1)

    # unit 1: DC diff +80 (cat 7, bits 1010000) -> 80/8+128 = 138
    put(1, 0); put(7, 80); put(1, 0)          # DC code, bits, EOB
    # unit 2: DC diff -80 (cat 7, bits 0101111) -> DC 0 -> 128
    put(1, 0); put(7, -80 + (1 << 7) - 1); put(1, 0)
    while len(bits) % 8:
        bits.append(1)
    scan_bytes = bytearray()
    for i in range(0, len(bits), 8):
        byte = 0
        for bb in bits[i : i + 8]:
            byte = (byte << 1) | bb
        scan_bytes.append(byte)
        if byte == 0xFF:
            scan_bytes.append(0x00)

    blob = (
        b"\xff\xd8"
        + seg(0xDB, bytes([0]) + bytes([1] * 64))
        + seg(0xC0, struct.pack(">BHHB", 8, 8, 16, 1)
              + bytes([1, 0x22, 0]))          # 2x2 sampling declared!
        + seg(0xC4, bytes([0x00, 1] + [0] * 15 + [0x07]))
        + seg(0xC4, bytes([0x10, 1] + [0] * 15 + [0x00]))
        + seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + bytes(scan_bytes)
        + b"\xff\xd9"
    )
    out = _decode_jpeg_wh_pixels(blob)
    assert out is not None
    w, h, px = out
    assert (w, h) == (16, 8)
    assert all(px[y * 16 + x] == (138, 138, 138)
               for y in range(8) for x in range(8))
    assert all(px[y * 16 + x] == (128, 128, 128)
               for y in range(8) for x in range(8, 16))


def test_jpeg_duplicate_component_ids_refuse():
    """Second-review finding: duplicate component ids (SOF or SOS) are
    malformed and must decode to None, not garbage with an unwritten
    plane."""
    import base64

    from data_management_python_spark.llmdata.multimodal import (
        _decode_jpeg_wh_pixels,
    )

    blob = bytearray(base64.b64decode(_PYTHON_LOGO_JPG_B64))
    j = bytes(blob).find(b"\xff\xc0")
    # SOF comps at j+10..j+18 (3 x (cid, hv, q)): duplicate cid 2 -> 2,2
    assert blob[j + 10] == 1 and blob[j + 13] == 2 and blob[j + 16] == 3
    dup = bytearray(blob)
    dup[j + 16] = 2
    assert _decode_jpeg_wh_pixels(bytes(dup)) is None
    # duplicate cids in SOS only
    s = bytes(blob).find(b"\xff\xda")
    dup2 = bytearray(blob)
    assert dup2[s + 5] == 1 and dup2[s + 7] == 2 and dup2[s + 9] == 3
    dup2[s + 9] = 2
    assert _decode_jpeg_wh_pixels(bytes(dup2)) is None
    # the unmodified fixture still decodes
    assert _decode_jpeg_wh_pixels(bytes(blob)) is not None


def test_image_decode_pixel_caps():
    """Round-8 ADVICE: the pixel caps bound DECODED working set, not
    raw bytes — the pure-Python decoders refuse a declared size whose
    tuple-list materialization would stall/OOM a worker.  BMP (which
    previously had no cap) and the tighter JPEG cap both refuse."""
    from data_management_python_spark.llmdata.multimodal import (
        _MAX_IMAGE_PIXELS,
        _MAX_JPEG_PIXELS,
        _decode_bmp_wh_pixels,
    )

    assert _MAX_JPEG_PIXELS < _MAX_IMAGE_PIXELS <= 16_000_000
    # BMP header declaring >cap pixels: refused before any allocation
    w = 60_000
    h = _MAX_IMAGE_PIXELS // w + 1
    hdr = (
        b"BM" + (54).to_bytes(4, "little") + b"\x00" * 4
        + (54).to_bytes(4, "little") + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + b"\x00" * 20
    )
    assert len(hdr) == 54
    assert _decode_bmp_wh_pixels(hdr + b"\x00" * 64) is None


def test_dhash_invariances_and_near_stability():
    """dHash contract: exactly invariant under lossless re-encode,
    integer upscale, and global brightness shift (gradient hash);
    small-but-nonzero Hamming drift under per-pixel noise; far from
    any OTHER random image (brute-force property check — the oracle
    for mm_image_neardup is ground truth, and this pins the hash
    behavior it relies on)."""
    import numpy as np

    from data_management_python_spark.llmdata.multimodal import (
        _bmp_np_pixels,
        _decode_png_wh_pixels,
        _dhash_bits,
        _encode_bmp24,
        _encode_png24,
        _resize_nearest,
    )

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    w, h = 18, 16
    hashes = []
    for seed in range(30):
        arr = np.random.RandomState(seed).randint(0, 256, size=(h, w, 3))
        px = [tuple(int(v) for v in p) for p in arr.reshape(-1, 3)]
        d0 = _dhash_bits(w, h, px)
        hashes.append(d0)
        # lossless PNG re-encode: identical hash
        pw, ph, ppx = _decode_png_wh_pixels(_encode_png24(w, h, px))
        assert _dhash_bits(pw, ph, ppx) == d0
        # 2x integer upscale: box averaging is exactly invariant
        big = _resize_nearest(px, w, h, 2 * w, 2 * h)
        assert _dhash_bits(2 * w, 2 * h, big) == d0
        # global brightness shift: gradients unchanged
        shifted = [
            tuple(min(255, c + 3) for c in p) for p in px
        ]
        assert ham(_dhash_bits(w, h, shifted), d0) <= 1  # clip edge only
        # per-pixel noise: near, not far
        noise = np.random.RandomState(seed + 999_983).randint(
            -1, 2, size=arr.shape
        )
        noisy = np.clip(arr + noise, 0, 255)
        npx = [tuple(int(v) for v in p) for p in noisy.reshape(-1, 3)]
        assert ham(_dhash_bits(w, h, npx), d0) <= 7
    # distinct random images: far apart (brute force over all pairs)
    dists = [
        ham(a, b)
        for i, a in enumerate(hashes)
        for b in hashes[i + 1:]
    ]
    assert min(dists) > 12
    # numpy BMP decode parity with the pure path's pixels
    arr = np.random.RandomState(1).randint(0, 256, size=(h, w, 3))
    px = [tuple(int(v) for v in p) for p in arr.reshape(-1, 3)]
    blob = _encode_bmp24(w, h, px)
    npx = _bmp_np_pixels(blob)
    assert [tuple(int(v) for v in p) for p in npx.reshape(-1, 3)] == px


def test_hash_near_dup_pairs_pigeonhole_recall(spark):
    """With max_hamming < n_bands, banded recall is EXACT: every pair
    within threshold is found (<=7 flipped bits cannot touch all 8
    bands); pairs beyond threshold are filtered by the exact verify
    even when they share a band."""
    from data_management_python_spark.llmdata.multimodal import (
        hash_near_dup_pairs,
    )

    base = 0x0123_4567_89AB_CDEF
    rows = [(0, base)]
    # id k: k bits flipped, spread ADVERSARIALLY one per band (worst
    # case for banding: touches the most bands possible)
    for k in range(1, 10):
        v = base
        for j in range(k):
            # one flip per band for j<8, then wrap to a second bit in
            # band 0 — all positions distinct and inside 64 bits
            v ^= 1 << ((j % 8) * 8 + 3 + (j // 8))
        rows.append((k, v - (1 << 64) if v >= (1 << 63) else v))
    hashes = spark.createDataFrame(rows, "media_id long, dhash long")
    got = {
        (r.id_1, r.id_2): r.hamming
        for r in hash_near_dup_pairs(hashes).collect()
    }
    # every (0, k) pair with k<=7 found with exact distance k
    for k in range(1, 8):
        assert got.get((0, k)) == k
    assert (0, 8) not in got and (0, 9) not in got  # beyond threshold
    # adjacent flipped variants also pair up: d(i,j) = |i-j| bands
    assert got.get((6, 7)) == 1


def test_image_neardup_end_to_end_planted(spark):
    """Planted-corpus end-to-end at test scale: generation -> decode ->
    dHash -> banded join finds exactly the planted twins."""
    from data_management_python_spark.llmdata.multimodal import (
        hash_near_dup_pairs,
        image_dhash,
        synthetic_image_corpus,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(1, 61)], "doc_id long"
    )
    media = synthetic_image_corpus(docs, plant_every=10)
    assert media.count() == 66  # 60 originals + 6 twins
    kinds = {
        r.kind for r in media.filter("media_id < 0").collect()
    }
    assert kinds == {"reencode", "upscale", "noise"}
    pairs = hash_near_dup_pairs(image_dhash(media)).collect()
    got = {(r.id_1, r.id_2) for r in pairs}
    assert got == {(-d, d) for d in range(10, 61, 10)}
    assert all(r.hamming <= 7 for r in pairs)


def test_apply_bpe_rank_path_matches_rule_order(spark):
    """Round-8 encoder fast path: the rank-based min-pair loop must be
    WORD-FOR-WORD identical to textbook rule-order application —
    including cascading merges, repeated symbols, and unicode — on
    both random words and a real trained ruleset."""
    import numpy as np

    from data_management_python_spark.llmdata.bpe import (
        apply_bpe,
        bpe_train_reference,
        encode_word_rule_order,
    )

    rs = np.random.RandomState(3)
    letters = list("abcde")  # tiny alphabet -> dense cascading merges
    words = [
        "".join(rs.choice(letters, size=rs.randint(1, 14)))
        for _ in range(400)
    ] + ["aaaa", "ababab", "ééééx", "a"]
    from collections import Counter

    counts = Counter()
    for w in words:
        counts[w] += rs.randint(1, 50)
    merges = bpe_train_reference(counts, 60)
    rules = [(l, r, l + r) for l, r, _ in merges]

    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id long, text string"
    )
    got = {
        r.doc_id: list(r.bpe_tokens)
        for r in apply_bpe(docs, merges).collect()
    }
    for i, w in enumerate(words):
        assert got[i] == encode_word_rule_order(w, rules), w


def test_audio_fingerprint_invariances():
    """Audio fingerprint contract (128-bit): exactly invariant under
    amplitude gain (the log-energy double difference cancels a
    constant), near under requantization and low noise (<= the
    threshold-14 join bound), far between distinct clips — the
    separation 64 bits measurably lacked at corpus scale."""
    import numpy as np

    from data_management_python_spark.llmdata.multimodal import (
        _afp_words,
        _decode_wav_samples,
        _encode_wav16,
    )

    def ham(a, b):
        return sum(
            bin((x ^ y) & ((1 << 64) - 1)).count("1")
            for x, y in zip(a, b)
        )

    def fp_of(x, rate=8000):
        # roundtrip through the real WAV codec, like the operator does
        dec = _decode_wav_samples(_encode_wav16(rate, list(x)))
        assert dec is not None
        return tuple(_afp_words(dec[0], dec[2]))

    rate, n = 8000, 4096
    t = np.arange(n) / rate
    hashes = []
    for seed in range(20):
        rs = np.random.RandomState(seed)
        x = np.zeros(n)
        for _ in range(5):
            x += rs.uniform(0.1, 0.5) * np.sin(
                2 * np.pi * rs.uniform(80, 3200) * t
                + rs.uniform(0, 2 * np.pi)
            )
        x += rs.normal(0, 0.01, n)
        x *= 0.8 / np.max(np.abs(x))
        f0 = fp_of(x)
        hashes.append(f0)
        assert fp_of(0.4 * x) == f0  # exact gain invariance
        assert ham(fp_of(np.round(x * 127) / 127), f0) <= 14
        noisy = x + np.random.RandomState(seed + 424_243).normal(
            0, 0.001, n
        )
        assert ham(fp_of(np.clip(noisy, -1, 1)), f0) <= 14
    dists = [
        ham(a, b) for i, a in enumerate(hashes) for b in hashes[i + 1:]
    ]
    assert min(dists) > 20  # distinct clips are far


def test_audio_neardup_end_to_end_planted(spark):
    """Planted audio corpus end to end: generation -> WAV decode ->
    fingerprint -> banded join finds exactly the planted twins through
    the SAME join operator as the image path."""
    from data_management_python_spark.llmdata.multimodal import (
        audio_fingerprint,
        hash_near_dup_pairs,
        synthetic_audio_corpus,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(1, 61)], "doc_id long"
    )
    media = synthetic_audio_corpus(docs, plant_every=10)
    assert media.count() == 66
    kinds = {r.kind for r in media.filter("media_id < 0").collect()}
    assert kinds == {"gain", "requantize", "noise"}
    pairs = hash_near_dup_pairs(
        audio_fingerprint(media),
        hash_cols=["afp0", "afp1"],
        n_bands=16,
        max_hamming=14,
    ).collect()
    got = {(r.id_1, r.id_2) for r in pairs}
    assert got == {(-d, d) for d in range(10, 61, 10)}


def test_wav16_np_fast_paths_parity():
    """The numpy WAV fast paths must match the pure codecs exactly:
    encode byte-identical (same double multiply + half-even rounding),
    decode numerically identical — including half-integer rounding
    edges and clipping."""
    import numpy as np

    from data_management_python_spark.llmdata.multimodal import (
        _decode_wav_samples,
        _encode_wav16,
        _encode_wav16_np,
        _wav16_np_samples,
    )

    rs = np.random.RandomState(11)
    x = np.concatenate([
        rs.uniform(-1.2, 1.2, 500),           # incl. clipped values
        np.array([0.5 / 32767, 1.5 / 32767,   # half-even edges
                  -0.5 / 32767, 1.0, -1.0, 0.0]),
    ])
    pure = _encode_wav16(8000, [float(v) for v in x])
    fast = _encode_wav16_np(8000, x)
    assert fast == pure
    rate, arr = _wav16_np_samples(pure)
    dec = _decode_wav_samples(pure)
    assert rate == dec[0] == 8000
    assert np.array_equal(arr, np.array(dec[2]))


def test_incremental_hash_neardup_probe(spark):
    """Incremental probe semantics: twins and exact re-uploads match
    their base item, brand-new images match nothing, and pairs WITHIN
    the delta are never reported — all through the materialized band
    table, without touching base media."""
    from data_management_python_spark.llmdata.multimodal import (
        hash_band_table,
        image_dhash,
        incremental_hash_neardup,
        synthetic_image_corpus,
        synthetic_image_delta,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(1, 101)], "doc_id long"
    )
    base = synthetic_image_corpus(docs, plant_every=1 << 62)
    assert base.filter("media_id < 0").count() == 0  # originals only
    bands = hash_band_table(image_dhash(base), n_bands=4)
    delta = synthetic_image_delta(docs)
    kinds = {r.kind for r in delta.collect()}
    assert kinds == {"reencode", "upscale", "noise", "reupload", "new"}
    got = {
        (r.delta_id, r.base_id): r.hamming
        for r in incremental_hash_neardup(
            image_dhash(delta), bands, n_bands=4, max_hamming=3
        ).collect()
    }
    expected = {
        -d: d for d in range(1, 101) if d % 25 in (0, 7)
    }
    assert {k for k in got} == {(-d, d) for d in expected.values()}
    # exact re-uploads are Hamming 0
    for d in range(1, 101):
        if d % 25 == 7:
            assert got[(-d, d)] == 0


def test_gif_codec_roundtrip_and_spec_surface():
    """The pure-Python GIF codec: encode->decode roundtrip is
    pixel-exact; the decoder handles the spec surface other encoders
    emit — interlacing, disposal methods, transparency, local color
    tables — plus untrusted-input bounds (pixel cap, frame cap,
    LZW output bounded by the declared frame size)."""
    import base64

    import numpy as np

    from data_management_python_spark.llmdata.multimodal import (
        _GIF_MAX_FRAMES,
        _decode_gif_frames,
        _encode_gif,
        _lzw_decode,
        _lzw_encode,
    )

    # roundtrip
    rs = np.random.RandomState(9)
    pal = rs.randint(0, 256, (256, 3)).astype(np.uint8)
    frames = [
        bytes(rs.randint(0, 256, 12 * 10).astype(np.uint8))
        for _ in range(4)
    ]
    blob = _encode_gif(12, 10, pal, frames, delay_cs=3)
    w, h, fr = _decode_gif_frames(blob)
    assert (w, h, len(fr)) == (12, 10, 4)
    for k, (delay, arr) in enumerate(fr):
        assert delay == 3
        assert np.array_equal(
            arr, pal[np.frombuffer(frames[k], np.uint8).reshape(10, 12)]
        )

    # the classic 1x1 transparent GIF — an external encoder's output
    tiny = base64.b64decode(
        "R0lGODlhAQABAIAAAAAAAP///yH5BAEAAAAALAAAAAABAAEAAAIBRAA7"
    )
    got = _decode_gif_frames(tiny)
    assert got is not None and (got[0], got[1], len(got[2])) == (1, 1, 1)

    # hand-built: 4x4, GCT of 4 colors, INTERLACED frame
    def sub_blocks(data: bytes) -> bytes:
        out = bytearray()
        for i in range(0, len(data), 255):
            out.append(len(data[i:i + 255]))
            out += data[i:i + 255]
        out.append(0)
        return bytes(out)

    gct = bytes(
        [255, 0, 0,  0, 255, 0,  0, 0, 255,  255, 255, 255]
    )
    rows = [bytes([0] * 4), bytes([1] * 4), bytes([2] * 4), bytes([3] * 4)]
    # interlace pass order for h=4: rows 0, 2, 1, 3 stored in that order
    stored = rows[0] + rows[2] + rows[1] + rows[3]
    hdr = (
        b"GIF89a" + (4).to_bytes(2, "little") + (4).to_bytes(2, "little")
        + bytes([0x80 | 0x01, 0, 0]) + gct
    )
    img = (
        b"\x2c" + b"\x00\x00\x00\x00"
        + (4).to_bytes(2, "little") + (4).to_bytes(2, "little")
        + bytes([0x40])  # interlaced, no local table
        + bytes([2]) + sub_blocks(_lzw_encode(stored, 2))
    )
    w, h, fr = _decode_gif_frames(hdr + img + b"\x3b")
    arr = fr[0][1]
    assert [tuple(arr[r, 0]) for r in range(4)] == [
        (255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 255)
    ]

    # disposal 2 (restore background) + transparency on frame 2: the
    # second frame paints only non-transparent pixels over the
    # RESTORED background
    f1 = bytes([1] * 16)  # all green
    f2 = bytes([0, 2] * 8)  # red/blue checker; make 0 TRANSPARENT
    # GCE: disposal 2 (bits 2-4 = 010 -> 0x08), transparent flag set
    gce1 = b"\x21\xf9\x04" + bytes([0x08]) + b"\x00\x00" + b"\x00\x00"
    gce2 = b"\x21\xf9\x04" + bytes([0x01]) + b"\x00\x00" + b"\x00\x00"
    def img_block(data: bytes) -> bytes:
        return (
            b"\x2c" + b"\x00\x00\x00\x00"
            + (4).to_bytes(2, "little") + (4).to_bytes(2, "little")
            + bytes([0]) + bytes([2]) + sub_blocks(_lzw_encode(data, 2))
        )
    two = (
        b"GIF89a" + (4).to_bytes(2, "little") + (4).to_bytes(2, "little")
        + bytes([0x80 | 0x01, 3, 0]) + gct  # bg = index 3 (white)
        + gce1 + img_block(f1)
        + gce2 + img_block(f2)
        + b"\x3b"
    )
    w, h, fr = _decode_gif_frames(two)
    assert len(fr) == 2
    assert tuple(fr[0][1][0, 0]) == (0, 255, 0)  # green
    # frame 2: bg (white) restored where transparent idx 0, blue at idx 2
    assert tuple(fr[1][1][0, 0]) == (255, 255, 255)
    assert tuple(fr[1][1][0, 1]) == (0, 0, 255)

    # bounds: over-cap dims refuse; frame count is capped
    bomb_hdr = (
        b"GIF89a" + (60000).to_bytes(2, "little")
        + (60000).to_bytes(2, "little") + bytes([0, 0, 0]) + b"\x3b"
    )
    assert _decode_gif_frames(bomb_hdr) is None
    many = _encode_gif(
        2, 2, [(0, 0, 0), (255, 255, 255)],
        [bytes([0, 1, 1, 0])] * (_GIF_MAX_FRAMES + 20),
    )
    got = _decode_gif_frames(many)
    assert got is not None and len(got[2]) == _GIF_MAX_FRAMES
    # LZW bomb: output bounded at the declared size
    big = _lzw_encode(bytes([0]) * 1_000_000, 8)
    out = _lzw_decode(big, 8, 16)
    assert out is not None and len(out) <= 17


def test_video_neardup_end_to_end_planted(spark):
    """Planted GIF corpus end to end: palette-permuted re-encodes,
    palette-noise twins, and truncated clips all pair with their
    source; distinct clips never do."""
    from data_management_python_spark.llmdata.multimodal import (
        synthetic_video_corpus,
        video_frame_hashes,
        video_near_dup_pairs,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(1, 61)], "doc_id long"
    )
    media = synthetic_video_corpus(docs, plant_every=10)
    assert media.count() == 66
    kinds = {r.kind for r in media.filter("media_id < 0").collect()}
    assert kinds == {"reencode", "palette_noise", "frame_drop"}
    fh = video_frame_hashes(media)
    # frame-drop twin really is one frame shorter
    n = {
        r.media_id: r.n_frames
        for r in fh.select("media_id", "n_frames").distinct().collect()
    }
    drops = [d for d in range(10, 61, 10) if (d // 10) % 3 == 2]
    for d in drops:
        assert n[-d] == n[d] - 1
    pairs = video_near_dup_pairs(fh).collect()
    got = {(r.id_1, r.id_2) for r in pairs}
    assert got == {(-d, d) for d in range(10, 61, 10)}
    by_pair = {(r.id_1, r.id_2): r for r in pairs}
    for d in drops:  # truncated re-post: full match of the short clip
        assert by_pair[(-d, d)].match_frac == 1.0


def test_sample_frames_real_gif_path(spark):
    """sample_frames on a GIF: REAL decoded frames re-encoded as BMP
    stills with true delay-accumulated timestamps — not byte windows."""
    import numpy as np

    from data_management_python_spark.llmdata.multimodal import (
        _decode_bmp_wh_pixels,
        _encode_gif,
        sample_frames,
    )

    pal = [(i, 255 - i, 7) for i in range(4)]
    frames = [bytes([c] * 6 * 4) for c in range(4)]  # solid frames
    blob = _encode_gif(6, 4, pal, frames, delay_cs=5)
    media = spark.createDataFrame(
        [(1, "video", bytearray(blob), "image/gif", "{}")],
        "media_id long, modality string, content binary, "
        "mime_type string, meta_json string",
    )
    got = sample_frames(media, n_frames=2).orderBy("frame_idx").collect()
    assert [r.frame_ts_ms for r in got] == [0, 100]  # 2 of 4 @ 50ms
    for r, c in zip(got, (0, 2)):
        dec = _decode_bmp_wh_pixels(bytes(r.frame_bytes))
        assert dec is not None and dec[0] == 6 and dec[1] == 4
        assert dec[2][0] == (c, 255 - c, 7)


def test_remove_duplicated_spans_brute_force(spark):
    """Mirrored-oracle guard: the span-REMOVAL operator is checked
    against an independent plain-Python reimplementation on a corpus
    with planted shared spans (boilerplate shared 3 ways, a span
    shared 2 ways, overlapping windows, a keeper doc, short docs)."""
    import hashlib

    from data_management_python_spark.llmdata.dedup import (
        remove_duplicated_spans,
    )

    boiler = "subscribe to our newsletter for updates and exclusive offers today friends"
    quote = "to be or not to be that is the question"
    rows = [
        (1, f"alpha beta {boiler} gamma delta"),
        (2, f"{boiler} something entirely different here now ok"),
        (3, f"prefix words {quote} and some suffix content here"),
        (4, f"other opening {quote} closing words go here now"),
        (5, f"unique document with no shared content at all whatsoever"),
        (6, "short doc"),
        (7, f"double trouble {boiler} middle bits {quote} tail end"),
    ]
    k, mod_p = 8, 4

    # independent reference implementation
    def fps_of(text):
        toks = text.strip().lower().split()
        out = []
        for p in range(len(toks) - k + 1):
            h = int(
                hashlib.md5(
                    " ".join(toks[p:p + k]).encode()
                ).hexdigest()[:8],
                16,
            )
            if h % mod_p == 0:
                out.append((p, h))
        return out

    all_fps = {i: fps_of(t) for i, t in rows}
    by_fp = {}
    for i, lst in all_fps.items():
        for p, h in lst:
            by_fp.setdefault(h, []).append(i)
    keeper = {
        h: min(ids) for h, ids in by_fp.items() if len(set(ids)) >= 2
    }
    expected = {}
    for i, t in rows:
        orig = t.strip().split()
        cut = set()
        for p, h in all_fps[i]:
            if h in keeper and keeper[h] != i:
                cut.update(range(p, p + k))
        kept = [w for j, w in enumerate(orig) if j not in cut]
        expected[i] = (" ".join(kept), len(orig) - len(kept))

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_tokens_removed)
        for r in remove_duplicated_spans(
            docs, k=k, mod_p=mod_p
        ).collect()
    }
    assert got == expected
    # sanity: something was actually removed and something kept
    assert any(n > 0 for _, n in expected.values())
    assert expected[5][1] == 0 and expected[6][1] == 0


def test_gif_local_color_table_and_disposal_previous():
    """Spec paths the main roundtrip doesn't hit: a frame with its own
    LOCAL color table overrides the global one, and disposal 3
    (restore-previous) rewinds the canvas after the frame shows."""
    from data_management_python_spark.llmdata.multimodal import (
        _decode_gif_frames,
        _lzw_encode,
    )

    def sub_blocks(data: bytes) -> bytes:
        out = bytearray()
        for i in range(0, len(data), 255):
            out.append(len(data[i:i + 255]))
            out += data[i:i + 255]
        out.append(0)
        return bytes(out)

    gct = bytes([10, 10, 10, 20, 20, 20, 30, 30, 30, 40, 40, 40])
    lct = bytes([200, 0, 0, 0, 200, 0, 0, 0, 200, 9, 9, 9])
    hdr = (
        b"GIF89a" + (2).to_bytes(2, "little") + (2).to_bytes(2, "little")
        + bytes([0x80 | 0x01, 0, 0]) + gct
    )

    def img(data, lct_flag=False, table=b""):
        return (
            b"\x2c" + b"\x00\x00\x00\x00"
            + (2).to_bytes(2, "little") + (2).to_bytes(2, "little")
            + bytes([0x81 if lct_flag else 0])  # lct flag + size 1 (4)
            + table
            + bytes([2]) + sub_blocks(_lzw_encode(data, 2))
        )

    gce_disp3 = b"\x21\xf9\x04" + bytes([0x0C]) + b"\x00\x00\x00\x00"
    blob = (
        hdr
        + img(bytes([0, 1, 2, 3]))                     # GCT frame
        + gce_disp3
        + img(bytes([1, 1, 1, 1]), True, lct)          # LCT + disposal 3
        + img(bytes([3, 3, 3, 3]))                     # after restore
        + b"\x3b"
    )
    got = _decode_gif_frames(blob)
    assert got is not None
    w, h, fr = got
    assert len(fr) == 3
    assert tuple(fr[0][1][0, 0]) == (10, 10, 10)       # GCT color 0
    assert tuple(fr[1][1][0, 0]) == (0, 200, 0)        # LCT color 1
    assert tuple(fr[2][1][0, 0]) == (40, 40, 40)       # GCT color 3
    # disposal 3 restored frame 1's canvas before frame 3 painted —
    # nothing of the LCT frame leaks (full-frame paint here, but the
    # restore is what reset the canvas the paint composed onto)


from hypothesis import HealthCheck as _HC
from hypothesis import given as _given
from hypothesis import settings as _settings
from hypothesis import strategies as _st


@_settings(
    max_examples=30, deadline=None, suppress_health_check=list(_HC)
)
@_given(
    w=_st.integers(min_value=1, max_value=40),
    h=_st.integers(min_value=1, max_value=30),
    n_colors=_st.integers(min_value=2, max_value=256),
    n_frames=_st.integers(min_value=1, max_value=5),
    seed=_st.integers(min_value=0, max_value=10_000),
)
def test_gif_roundtrip_property(w, h, n_colors, n_frames, seed):
    """PROPERTY: encode->decode is pixel-exact for any size, palette
    size, and frame count (the encoder pads palettes to a power of
    two; the decoder must honor whatever index stream results)."""
    import numpy as np

    from data_management_python_spark.llmdata.multimodal import (
        _decode_gif_frames,
        _encode_gif,
    )

    rs = np.random.RandomState(seed)
    pal = rs.randint(0, 256, (n_colors, 3)).astype(np.uint8)
    frames = [
        bytes(rs.randint(0, n_colors, w * h).astype(np.uint8))
        for _ in range(n_frames)
    ]
    blob = _encode_gif(w, h, pal, frames)
    got = _decode_gif_frames(blob)
    assert got is not None
    gw, gh, fr = got
    assert (gw, gh, len(fr)) == (w, h, n_frames)
    for k, (_d, arr) in enumerate(fr):
        exp = pal[np.frombuffer(frames[k], np.uint8).reshape(h, w)]
        assert np.array_equal(arr, exp)


# ---------------------------------------------------------------------------
# round-8 session additions: DSIR weights, n-gram novelty, CDC chunking


def test_ngram_novelty_known_corpus(spark):
    out = {
        r.doc_id: r
        for r in dedup.ngram_novelty(docs_df(spark), "doc_id", "text", n=3).collect()
    }
    # docs 1 and 4 are identical: every shingle appears in >= 2 docs
    assert out[1].novel_ratio == 0.0
    assert out[4].novel_ratio == 0.0
    # doc 3 shares no vocabulary with anything
    assert out[3].novel_ratio == 1.0
    assert out[3].max_dup_docs == 1
    # doc 2 differs from 1/4 only in the last word: exactly the one
    # trailing shingle containing "cat" is unique to it
    assert out[2].n_novel == 1
    assert out[1].max_dup_docs == 3  # shingles shared by docs 1, 2, 4


def test_dsir_weights_exact_brute_force(spark):
    import hashlib
    import math

    rows = [
        (1, "alpha beta gamma alpha beta", "en"),
        (2, "alpha beta gamma delta", "en"),
        (3, "uno dos tres cuatro cinco", "es"),
        (4, "alpha beta uno dos", "fr"),
        (5, "gamma gamma gamma beta", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        r.doc_id: r
        for r in text.dsir_weights(
            docs, target=F.col("lang") == "en", n_buckets=1024
        ).collect()
    }

    def grams(t):
        toks = t.strip().lower().split()
        return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % 1024

    c_raw, c_tgt, per_doc = {}, {}, {}
    for doc_id, t, lang in rows:
        bs = [bucket(g) for g in grams(t)]
        per_doc[doc_id] = bs
        for b in bs:
            c_raw[b] = c_raw.get(b, 0) + 1
            if lang == "en":
                c_tgt[b] = c_tgt.get(b, 0) + 1
    r_tot = sum(c_raw.values())
    t_tot = sum(c_tgt.values())
    for doc_id, bs in per_doc.items():
        want = round(
            sum(
                math.log((c_tgt.get(b, 0) + 1.0) / (t_tot + 1024))
                - math.log((c_raw[b] + 1.0) / (r_tot + 1024))
                for b in bs
            ),
            6,
        )
        assert abs(got[doc_id].dsir_logratio - want) < 1e-9, doc_id
        assert got[doc_id].n_feats == len(bs)
        assert got[doc_id].prefers_target == (want > 0)
    # the pure-target vocabulary doc must look more target-like than
    # the pure-raw-only one
    assert got[1].dsir_logratio > got[3].dsir_logratio


def _cdc_brute(text_val, window=24, boundary_mod=4):
    import hashlib

    n = len(text_val)
    bounds = [
        i
        for i in range(window, n)
        if int(
            hashlib.md5(text_val[i - window : i].encode()).hexdigest()[:2], 16
        )
        < boundary_mod
    ]
    ends = bounds + [n]
    chunks, prev = [], 0
    for e in ends:
        chunks.append(text_val[prev:e])
        prev = e
    return chunks


def test_cdc_chunk_stats_brute_force_and_stability(spark):
    import hashlib
    import random

    rng = random.Random(42)
    words = ["lorem", "ipsum", "dolor", "sit", "amet", "consectetur",
             "adipiscing", "elit", "sed", "do", "eiusmod", "tempor"]
    base_text = " ".join(rng.choice(words) for _ in range(200))
    # doc 2 = doc 1 with a small mid-document insertion; doc 3 exact
    # dup of 1; doc 4 unrelated
    half = len(base_text) // 2
    edited = base_text[:half] + " INSERTED PHRASE HERE " + base_text[half:]
    unrelated = " ".join(rng.choice(words[::-1]) + str(i) for i in range(150))
    rows = [(1, base_text), (2, edited), (3, base_text), (4, unrelated)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in dedup.cdc_chunk_stats(docs, "doc_id", "text").collect()
    }

    # paired brute force: chunk count and shared ratio per doc
    all_chunks = {doc_id: _cdc_brute(t) for doc_id, t in rows}
    owners: dict[str, set[int]] = {}
    for doc_id, chs in all_chunks.items():
        for c in chs:
            owners.setdefault(hashlib.md5(c.encode()).hexdigest(), set()).add(
                doc_id
            )
    for doc_id, chs in all_chunks.items():
        assert got[doc_id].n_chunks == len(chs), doc_id
        shared = sum(
            len(c)
            for c in chs
            if len(owners[hashlib.md5(c.encode()).hexdigest()]) > 1
        )
        want = round(shared / sum(len(c) for c in chs), 6)
        assert abs(got[doc_id].shared_char_ratio - want) < 1e-9, doc_id

    # exact dup pair: fully shared
    assert got[1].shared_char_ratio == 1.0
    assert got[3].shared_char_ratio == 1.0
    # content-defined boundaries localize the edit: the inserted-into
    # copy still shares most of its characters with doc 1/3
    assert got[2].shared_char_ratio > 0.5
    # unrelated doc shares nothing
    assert got[4].shared_char_ratio == 0.0


def test_cdc_short_doc_single_chunk(spark):
    docs = spark.createDataFrame(
        [(1, "tiny"), (2, "tiny"), (3, "x" * 23)], "doc_id long, text string"
    )
    got = {
        r.doc_id: r for r in dedup.cdc_chunk_stats(docs, "doc_id", "text").collect()
    }
    # below the window width there are no candidate boundaries: one
    # whole-doc chunk, shared only via exact equality
    assert got[1].n_chunks == 1 and got[1].shared_char_ratio == 1.0
    assert got[2].n_chunks == 1
    assert got[3].n_chunks == 1 and got[3].shared_char_ratio == 0.0


def test_kmeans_assign_matches_lloyd_reference(spark):
    """Distributed deterministic k-means replays the single-machine
    Lloyd loop exactly: same seeds (k lowest ids), same per-round
    assignments (rounded distances, centroid-id tie-breaks), same
    rounded per-dim means, empty cells keeping their centroid."""
    from data_management_python_spark.catalog import load_table
    from data_management_python_spark.llmdata.similarity import kmeans_assign

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    sub = emb.filter("vec_id < 80")
    rows = {
        r.vec_id: [float(x) for x in r.embedding] for r in sub.collect()
    }
    k, iterations = 4, 3

    def n2(v):
        acc = 0.0
        for x in v:
            acc += x * x
        return acc

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    cents = [list(rows[vid]) for vid in sorted(rows)[:k]]

    def assign():
        out = {}
        for vid, v in rows.items():
            best = None
            for ci, c in enumerate(cents):
                d = round(n2(v) - 2 * dot(v, c) + n2(c), 6)
                if best is None or (d, ci) < best:
                    best = (d, ci)
            out[vid] = best
        return out

    for _ in range(iterations):
        a = assign()
        dims = len(cents[0])
        for ci in range(k):
            members = [rows[vid] for vid, b in a.items() if b[1] == ci]
            if not members:
                continue  # empty cell keeps its centroid
            for j in range(dims):
                acc = 0.0
                for m in members:
                    acc += m[j]
                cents[ci][j] = round(acc / len(members), 6)
    want = assign()

    got = {
        r.vec_id: (r.dist_sq, r.cluster_id)
        for r in kmeans_assign(
            sub, "vec_id", "embedding", k=k, iterations=iterations
        ).collect()
    }
    assert set(got) == set(want)
    for vid in want:
        assert got[vid][1] == want[vid][1], vid
        assert abs(got[vid][0] - want[vid][0]) < 1e-9, vid
    # every cluster is non-empty at this corpus (sanity that the test
    # actually exercised multi-cluster assignment)
    assert len({c for _, c in got.values()}) > 1


def test_semdedup_kmeans_planted_duplicates(spark):
    from data_management_python_spark.llmdata.similarity import (
        semdedup_kmeans,
    )

    # two tight pairs far apart + one singleton; k=2 puts each pair in
    # one cluster, and within each the higher id must drop
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 1
        (10, [0.0, 0.0, 1.0, 0.0]),
        (11, [0.0, 0.01, 0.999, 0.0]),  # near-dup of 10
        (20, [0.0, 0.6, 0.8, 0.0]),     # same cluster as 10/11, distinct
    ]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    got = {
        r.vec_id: r
        for r in semdedup_kmeans(
            emb, "vec_id", "embedding", k=2, iterations=2, threshold=0.95
        ).collect()
    }
    assert got[1].kept and not got[2].kept
    assert got[10].kept and not got[11].kept
    # 20 is in 10's cluster but below the threshold to both mates
    assert got[20].kept and got[20].max_cos_lower < 0.95
    # cluster-minimum ids carry NULL max_cos_lower
    assert got[1].max_cos_lower is None and got[10].max_cos_lower is None
    # the two pairs landed in different clusters
    assert got[1].cluster_id != got[10].cluster_id


def test_hll_registers_merge_algebra_and_brute_force(spark):
    """HLL sketch-of-union == element-wise-max merge of shard sketches
    (the shippable-across-shards property), and the whole register
    table + estimate replay a Python md5 reimplementation exactly."""
    import hashlib
    import math

    from data_management_python_spark.llmdata import stats

    a_vals = [f"tok{i}" for i in range(300)]
    b_vals = [f"tok{i}" for i in range(150, 600)]  # overlaps a
    df_a = spark.createDataFrame([(v,) for v in a_vals], "v string")
    df_b = spark.createDataFrame([(v,) for v in b_vals], "v string")
    df_u = df_a.unionByName(df_b)

    regs_a = stats.hll_registers(df_a, "v")
    regs_b = stats.hll_registers(df_b, "v")
    merged = stats.merge_hll_registers(regs_a, regs_b)
    union = stats.hll_registers(df_u, "v")
    assert {(r["__j"], r["__M"]) for r in merged.collect()} == {
        (r["__j"], r["__M"]) for r in union.collect()
    }
    est_m = stats.hll_estimate(merged).first()
    est_u = stats.hll_estimate(union).first()
    assert est_m.hll_estimate == est_u.hll_estimate

    # brute-force replay: registers and estimate bit-for-bit
    def reg(vals):
        out = {}
        for v in set(vals):
            hx = hashlib.md5(v.encode()).hexdigest()
            j = int(hx[:8], 16) % 256
            w = int(hx[8:21], 16)
            r = 53 - len(bin(w)[2:].lstrip("0")) if w else 53
            out[j] = max(out.get(j, 0), r)
        return out

    want = reg(a_vals + b_vals)
    assert {(j, M) for j, M in want.items()} == {
        (r["__j"], r["__M"]) for r in union.collect()
    }
    S = sum(2.0 ** -want.get(j, 0) for j in range(256))
    V = sum(1 for j in range(256) if want.get(j, 0) == 0)
    alpha = 0.7213 / (1.0 + 1.079 / 256)
    raw = alpha * 256 * 256 / S
    est = 256.0 * math.log(256.0 / V) if (raw <= 640.0 and V > 0) else raw
    assert abs(est_u.hll_estimate - round(est, 6)) < 1e-6
    assert est_u.n_zero_registers == V

    # hll_distinct's fused exact path (one register aggregate carrying
    # per-bucket counts; r12) == the register/estimate building blocks
    # plus a plain distinct count, column for column
    fused = stats.hll_distinct(df_u, "v", p=8, exact=True).first()
    assert fused.m == 256
    assert fused.hll_estimate == est_u.hll_estimate
    assert fused.n_zero_registers == est_u.n_zero_registers
    n_exact = df_u.select("v").distinct().count()
    assert fused.exact_distinct == n_exact
    assert fused.rel_error == round(
        (fused.hll_estimate - n_exact) / n_exact, 6
    )
    # exact=False keeps the plain registers->estimate path
    lean = stats.hll_distinct(df_u, "v", p=8, exact=False)
    assert lean.columns == ["m", "n_zero_registers", "hll_estimate"]
    assert lean.first().hll_estimate == est_u.hll_estimate


def test_bloom_probe_no_false_negatives_and_sizing(spark):
    """The Bloom guarantee: every truly-present delta doc probes
    positive at ANY filter size; volume sizing keeps the FP tail
    small."""
    from data_management_python_spark.llmdata.dedup import bloom_dedup_probe

    base = spark.createDataFrame(
        [(i, f"base document number {i}") for i in range(200)],
        "doc_id long, text string",
    )
    dup_texts = [f"base document number {i}" for i in range(0, 40)]
    fresh = [f"totally new content {i}" for i in range(160)]
    delta = spark.createDataFrame(
        [(1000 + j, t) for j, t in enumerate(dup_texts + fresh)],
        "doc_id long, text string",
    )
    got = bloom_dedup_probe(base, delta, "doc_id", "text").collect()
    for r in got:
        if r.exact_present:
            assert r.bloom_maybe, r.doc_id  # NO false negatives, ever
    fp = sum(1 for r in got if r.bloom_maybe and not r.exact_present)
    assert fp <= len(fresh) * 0.10  # ~1% expected at 10 bits/element
    # a deliberately tiny filter still keeps the guarantee (only the
    # FP rate degrades)
    tiny = bloom_dedup_probe(
        base, delta, "doc_id", "text", m_bits=64
    ).collect()
    assert all(r.bloom_maybe for r in tiny if r.exact_present)


def test_cms_merge_algebra_and_never_underestimates(spark):
    """CMS sketch-of-union == counter-SUM merge of shard sketches, and
    point estimates never underestimate the true frequency — for every
    probed value, not just the heavy ones."""
    from data_management_python_spark.llmdata import stats

    a_vals = [f"t{i % 40}" for i in range(400)]
    b_vals = [f"t{i % 70}" for i in range(350)]
    df_a = spark.createDataFrame([(v,) for v in a_vals], "v string")
    df_b = spark.createDataFrame([(v,) for v in b_vals], "v string")
    df_u = df_a.unionByName(df_b)

    merged = stats.merge_cms_registers(
        stats.cms_registers(df_a, "v"), stats.cms_registers(df_b, "v")
    )
    union = stats.cms_registers(df_u, "v")
    assert {
        (r["__i"], r["__b"], r["__c"]) for r in merged.collect()
    } == {(r["__i"], r["__b"], r["__c"]) for r in union.collect()}

    from collections import Counter

    truth = Counter(a_vals + b_vals)
    probes = spark.createDataFrame(
        [(v,) for v in truth], "v string"
    )
    est = {
        r.v: r.cms_estimate
        for r in stats.cms_point_estimates(union, probes, "v").collect()
    }
    assert set(est) == set(truth)
    for v, n in truth.items():
        assert est[v] >= n, (v, est[v], n)  # the CMS guarantee


def test_video_band_tuple_mode_identical_pairs(spark):
    """Round-9: tuple banding (8 blocks x 4-combinations, 32-bit keys)
    must return EXACTLY the classic mode's pairs — both have exact
    recall (generalized pigeonhole) and exact verify, so the output
    is mode-independent; only candidate volume differs."""
    from data_management_python_spark.llmdata.multimodal import (
        synthetic_video_corpus,
        video_frame_hashes,
        video_near_dup_pairs,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(1, 61)], "doc_id long"
    )
    fh = video_frame_hashes(
        synthetic_video_corpus(docs, plant_every=10)
    ).localCheckpoint(eager=True)
    classic = {
        (r.id_1, r.id_2)
        for r in video_near_dup_pairs(fh, band_tuple=1).collect()
    }
    tuple4 = {
        (r.id_1, r.id_2)
        for r in video_near_dup_pairs(fh, band_tuple=4).collect()
    }
    assert classic == tuple4 == {(-d, d) for d in range(10, 61, 10)}


def test_band_tuple_pigeonhole_exact():
    """Analytic pigeonhole check for the 8x8-bit 4-combination keys:
    ANY two 64-bit words within Hamming 4 share at least one of the
    C(8,4) concatenated block keys."""
    import itertools
    import random

    rng = random.Random(7)
    combos = list(itertools.combinations(range(8), 4))

    def keys(h):
        blocks = [(h >> (8 * j)) & 255 for j in range(8)]
        return {
            (ci, tuple(blocks[b] for b in combo))
            for ci, combo in enumerate(combos)
        }

    for _ in range(300):
        h1 = rng.getrandbits(64)
        h2 = h1
        for _ in range(rng.randint(0, 4)):  # flip <= 4 bits
            h2 ^= 1 << rng.randrange(64)
        assert keys(h1) & keys(h2), f"{h1:x} vs {h2:x} share no key"


def test_video_band_tuple_rejects_wide_threshold():
    import pytest

    from data_management_python_spark.llmdata.multimodal import (
        video_near_dup_pairs,
    )

    with pytest.raises(ValueError, match="max_hamming"):
        video_near_dup_pairs(None, max_hamming=5, band_tuple=4)


def test_cap_cluster_sizes_bounds_and_identity(spark):
    """cap_cluster_sizes: cells at or under the cap pass through as a
    pure relabeling (capped semdedup == exact semdedup), oversized
    cells split into bounded sub-cells deterministically."""
    from pyspark.sql import functions as F

    from data_management_python_spark.llmdata import similarity

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11) for j in range(8)])
         for i in range(1, 121)],
        "vec_id long, embedding array<float>",
    )
    a = similarity.kmeans_assign(emb, "vec_id", "embedding", k=4,
                                 iterations=2)
    # no cell near the cap: capped verdicts == exact verdicts
    exact = {
        (r.vec_id, r.max_cos_lower)
        for r in similarity.semdedup_kmeans(
            emb, assignments=a, threshold=0.45
        ).collect()
    }
    capped_a = similarity.cap_cluster_sizes(a, max_cluster=1000)
    capped = {
        (r.vec_id, r.max_cos_lower)
        for r in similarity.semdedup_kmeans(
            emb, assignments=capped_a, threshold=0.45
        ).collect()
    }
    assert capped == exact
    # force splitting: every sub-cell lands at or near the cap
    tiny = similarity.cap_cluster_sizes(a, max_cluster=10)
    sizes = [r["count"] for r in tiny.groupBy("cluster_id").count()
             .collect()]
    assert max(sizes) <= 2 * 10  # hash split: bounded, not exact-even
    assert tiny.count() == a.count()  # relabel only, no row change
    # deterministic across invocations
    s1 = sorted((r.vec_id, r.cluster_id) for r in tiny.collect())
    s2 = sorted(
        (r.vec_id, r.cluster_id)
        for r in similarity.cap_cluster_sizes(a, max_cluster=10)
        .collect()
    )
    assert s1 == s2


def test_semdedup_cells_arrow_matches_exact(spark):
    """The Arrow per-cell SemDeDup verdict (scale path) must agree
    with the pair-join exact twin verdict-for-verdict on the same
    assignments."""
    from data_management_python_spark.llmdata import similarity

    emb = spark.createDataFrame(
        [(i, [float((i * 13 + j * 5) % 17) / 17.0 for j in range(16)])
         for i in range(1, 201)],
        "vec_id long, embedding array<float>",
    )
    a = similarity.kmeans_assign(emb, "vec_id", "embedding", k=5,
                                 iterations=2)
    exact = {
        (r.vec_id, r.max_cos_lower, r.kept)
        for r in similarity.semdedup_kmeans(
            emb, assignments=a, threshold=0.45
        ).collect()
    }
    arrow = {
        (r.vec_id, r.max_cos_lower, r.kept)
        for r in similarity.semdedup_cells_arrow(
            emb, a, threshold=0.45
        ).collect()
    }
    assert arrow == exact
