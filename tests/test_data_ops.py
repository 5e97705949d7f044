"""Unit tests for dedup / similarity / text-analysis / multimodal operators."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from datapipeline_spark.dedup import (
    MinHashParams,
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash,
    word_shingles,
)
from datapipeline_spark.multimodal import (
    decode_media,
    extract_features,
    fake_media_table,
)
from datapipeline_spark.similarity import (
    brute_force_knn,
    embedding_similar_pairs,
    fit_ivf_centroids,
    ivf_knn,
    lsh_knn,
)
from datapipeline_spark.text import lang_scores, quality_score, text_stats
from datapipeline_spark.text.analysis import winnow_fingerprints


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
        (2, "completely different content about spark engines"),
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = {r["rep_id"]: r["n_dupes"] for r in exact_dedup(docs).collect()}
    assert out[0] == 2  # docs 0 and 3 share content
    assert out[1] == 1 and out[2] == 1


def test_word_shingles(docs):
    sh = word_shingles(docs, "doc_id", "text", 2)
    got = {r["shingle"] for r in sh.filter(F.col("doc_id") == 0).collect()}
    assert "the quick" in got and "lazy dog" in got
    assert len(got) == 8  # 9 tokens → 8 bigrams, all distinct

def test_jaccard_exact_and_near(docs):
    sh = word_shingles(docs, "doc_id", "text", 2)
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in jaccard_pairs(sh, "doc_id", threshold=0.5).collect()}
    assert pairs[(0, 3)] == 1.0  # identical
    assert pairs[(0, 1)] == pytest.approx(7 / 9, abs=0.01)  # 7 shared of 9 distinct
    assert (0, 2) not in pairs


def test_minhash_lsh_finds_dups(docs):
    params = MinHashParams(num_hashes=8)
    sh = word_shingles(docs, "doc_id", "text", 2)
    sig = minhash_signatures(sh, "doc_id", params)
    assert sig.count() == 4 and len(sig.columns) == 9
    cand = lsh_candidate_pairs(sig, "doc_id", params, bands=4)
    got = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    assert (0, 3) in got  # exact dup always collides


def test_simhash_similar_docs_close(docs):
    sig = simhash(docs, bits=32)
    vals = {r["doc_id"]: r["simhash"] for r in sig.collect()}
    assert vals[0] == vals[3]  # identical text → identical simhash
    ham01 = bin(vals[0] ^ vals[1]).count("1")
    ham02 = bin(vals[0] ^ vals[2]).count("1")
    assert ham01 < ham02  # near-dup closer than unrelated


def test_simhash_null_text_contract(spark):
    """Pins the map-only simhash's NULL/empty semantics (round-7 verdict
    What's-wrong #7): a NULL text yields a ROW with NULL fingerprint (the
    old explode-based form silently dropped the document — the map form's
    one-row-in-one-row-out contract is the documented behavior); an empty
    string is one ''-token document with the deterministic md5('')
    fingerprint, identical for every empty doc."""
    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, ""), (3, "a b")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["simhash"] for r in simhash(df, bits=32).collect()}
    assert set(out) == {0, 1, 2, 3}  # every input row surfaces
    assert out[0] is None
    assert out[1] is not None and out[1] == out[2]
    assert out[3] is not None


def test_text_stats_and_quality(docs):
    out = {r["doc_id"]: r for r in text_stats(docs).collect()}
    assert out[0]["n_tokens"] == 9
    assert out[0]["n_distinct_tokens"] == 8  # "the" twice
    assert out[0]["ttr"] == pytest.approx(8 / 9, abs=1e-6)
    q = {r["doc_id"]: r["quality"] for r in quality_score(docs).collect()}
    assert 0 < q[0] <= 1


def test_bpe_token_count(spark):
    from datapipeline_spark.text import bpe_token_count

    rows = [
        (0, "I'll say it's 42 tokens, right?"),
        (1, "hello"),
        (2, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["n_bpe_tokens"] for r in bpe_token_count(df).collect()}
    # "I" "'ll" " say" " it" "'s" " 42" " tokens" "," " right" "?" → 10
    assert out[0] == 10
    assert out[1] == 1
    assert out[2] == 0


def test_lang_scores(spark):
    rows = [(0, "the cat and the dog of the house"), (1, "der hund und die katze ist da")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["pred_lang"] for r in lang_scores(df).collect()}
    assert out[0] == "en" and out[1] == "de"


def test_winnow_fingerprints_deterministic(docs):
    fp1 = sorted(tuple(r) for r in winnow_fingerprints(docs).collect())
    fp2 = sorted(tuple(r) for r in winnow_fingerprints(docs).collect())
    assert fp1 == fp2 and len(fp1) > 0
    by_doc = {}
    for doc_id, fp, pos in fp1:
        by_doc.setdefault(doc_id, set()).add(fp)
    assert by_doc[0] == by_doc[3]  # identical docs → identical fingerprint sets
    # near-dups share most fingerprints
    inter = len(by_doc[0] & by_doc[1]) / len(by_doc[0] | by_doc[1])
    assert inter > 0.5


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),  # opposite of 0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_knn(vectors):
    out = brute_force_knn(vectors, vectors.filter(F.col("vec_id") == 0), k=2)
    got = [(r["neighbor_id"], r["rank"]) for r in out.orderBy("rank").collect()]
    assert got == [(1, 1), (2, 2)]


def test_embedding_similar_pairs(vectors):
    pairs = {(r["id_a"], r["id_b"]): r["cosine"] for r in embedding_similar_pairs(vectors, threshold=0.9).collect()}
    assert (0, 1) in pairs and len(pairs) == 1


def test_ivf_full_probe_matches_brute_force(spark):
    from datapipeline_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    cents = fit_ivf_centroids(emb, n_centroids=4, seed=42)
    assert cents == fit_ivf_centroids(emb, n_centroids=4, seed=42)  # deterministic
    bf = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["score"])
        for r in brute_force_knn(emb, q, k=3).collect()
    }
    # probing every inverted list degenerates to exact search
    full = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["score"])
        for r in ivf_knn(emb, q, n_centroids=4, nprobe=4, k=3, centroids=cents).collect()
    }
    assert full == bf
    # partial probe returns a valid bounded result per query
    part = ivf_knn(emb, q, n_centroids=4, nprobe=1, k=3, centroids=cents).collect()
    per_q: dict = {}
    for r in part:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert set(per_q) == {0, 1, 2, 3, 4}
    assert all(sorted(ranks) == list(range(1, len(ranks) + 1)) for ranks in per_q.values())


def test_lsh_knn_recovers_close_neighbor(spark):
    import random

    rng = random.Random(7)
    base = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(40)]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    rows.append((100, [float(x * 1.01 + 0.001) for x in base[5]]))  # near-clone of 5
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = lsh_knn(df, df.filter(F.col("vec_id") == 100), dim=16, planes=8, bands=4, k=1)
    got = [(r["neighbor_id"], r["rank"]) for r in out.collect()]
    assert got == [(5, 1)]


def test_multimodal_pipeline(spark):
    media = fake_media_table(spark, n=12)
    decoded = decode_media(media)
    rows = decoded.collect()
    assert len(rows) == 12
    for r in rows:
        if r["media_type"] == "image":
            assert r["width"] >= 64 and r["height"] >= 64 and r["n_frames"] == 1
        if r["media_type"] == "audio":
            assert r["sample_rate"] == 16000
    # deterministic across runs
    assert sorted(map(tuple, rows)) == sorted(map(tuple, decode_media(media).collect()))

    feats = extract_features(media, dim=16).collect()
    assert len(feats) == 12 and all(len(r["feature"]) == 16 for r in feats)

    # codec="real" decodes PPM/PCM-WAV natively (tests/test_multimodal.py);
    # these synthetic sha-stream blobs are neither, so the real path raises
    # at execution, at the compressed-codec integration point
    with pytest.raises(Exception, match="NotImplementedError|codecs"):
        decode_media(media, codec="real").collect()


# --------------------------------------------------- near-dup clustering (CC)


def test_connected_components_chain_and_islands(spark):
    from datapipeline_spark.dedup.cluster import connected_components

    # chain 1-2-3-4 (diameter 3), pair {10, 11}, self-contained clique {20,21,22}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a bigint, id_b bigint",
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_long_chain_converges(spark):
    from datapipeline_spark.dedup.cluster import connected_components

    n = 30
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a bigint, id_b bigint"
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs, max_iterations=40).collect()}
    assert set(comp.values()) == {0} and len(comp) == n + 1


def test_distributed_components_matches_driver_union_find(spark):
    """Every test graph sits below DRIVER_EDGE_THRESHOLD, so
    connected_components answers it by driver union-find; the
    pointer-jumping loop that large edge lists take is called directly
    here and must give the union-find labels on the same symmetric edges."""
    from datapipeline_spark.dedup.cluster import (
        _distributed_components,
        _driver_union_find,
    )

    def sym(pairs):
        rows = sorted({(a, b) for a, b in pairs} | {(b, a) for a, b in pairs})
        return spark.createDataFrame(rows, "a bigint, b bigint")

    def labels(df):
        return {r["id"]: r["component"] for r in df.collect()}

    chain31 = sym([(i, i + 1) for i in range(30)])
    cases = [
        (
            sym([(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)]),
            {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20},
        ),
        (chain31, {i: 0 for i in range(31)}),
        # a degenerate (x, x) pair must still emit vertex x
        (sym([(7, 7), (1, 2)]), {7: 7, 1: 1, 2: 1}),
    ]
    for edges, want in cases:
        # 8 rounds < the chain's diameter of 30: only pointer jumping
        # converges that fast
        got = labels(_distributed_components(edges, max_iterations=8))
        assert got == want == labels(_driver_union_find(spark, edges))
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        _distributed_components(chain31, max_iterations=1)


def test_dedup_representatives(spark):
    from datapipeline_spark.dedup.cluster import dedup_representatives

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id bigint, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "id_a bigint, id_b bigint"
    )
    kept = sorted(r["doc_id"] for r in dedup_representatives(docs, pairs).collect())
    # component {0,1,2} -> keep 0; {4,5} -> keep 4; unpaired 3 kept
    assert kept == [0, 3, 4]


def test_clean_text_stages(spark):
    from datapipeline_spark.text import clean_text

    df = spark.createDataFrame(
        [
            (1, '<p class="x">Hello &amp; welcome</p>'),
            (2, "mail me at bob.smith+spam@corp-mail.example today"),
            (3, "docs at https://ex.example/a?b=1 or call 555-123-4567 now"),
            (4, "  spaced\t\tout\n\nlines  "),
            (5, "&lt;script&gt; stays literal"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["text_clean"] for r in clean_text(df).collect()}
    assert got[1] == "Hello & welcome"
    assert got[2] == "mail me at <EMAIL> today"
    assert got[3] == "docs at <URL> or call <PHONE> now"
    assert got[4] == "spaced out lines"
    # strip-then-unescape: escaped markup becomes literal text, not a tag
    assert got[5] == "<script> stays literal"


def test_clean_text_is_map_only(spark):
    from datapipeline_spark.text import clean_text

    df = spark.createDataFrame([(1, "<b>x</b>")], "doc_id long, text string")
    plan = clean_text(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure projection: no shuffle at any scale


class TestChunkDocuments:
    def test_overlap_and_tail(self, spark):
        from datapipeline_spark.text import chunk_documents

        text = " ".join(f"w{i}" for i in range(1, 11))  # 10 tokens
        df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
        rows = {
            r["chunk_idx"]: r
            for r in chunk_documents(df, size=4, stride=3).collect()
        }
        # starts 1,4,7,10 -> 4 chunks; last two are tails
        assert sorted(rows) == [0, 1, 2, 3]
        assert rows[0]["chunk_text"] == "w1 w2 w3 w4"
        assert rows[1]["chunk_text"] == "w4 w5 w6 w7"  # 1-token overlap
        assert rows[2]["chunk_text"] == "w7 w8 w9 w10"
        assert rows[3]["chunk_text"] == "w10"
        assert [rows[i]["n_tokens"] for i in range(4)] == [4, 4, 4, 1]

    def test_short_doc_single_chunk(self, spark):
        from datapipeline_spark.text import chunk_documents

        df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
        out = chunk_documents(df, size=64, stride=48).collect()
        assert len(out) == 1
        assert out[0]["chunk_text"] == "a b"
        assert out[0]["n_tokens"] == 2

    def test_rejects_bad_params(self, spark):
        from datapipeline_spark.text import chunk_documents

        df = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
        with pytest.raises(ValueError):
            chunk_documents(df, size=0, stride=3)


class TestRepetitionSignals:
    def test_hand_computed(self, spark):
        from datapipeline_spark.text import repetition_signals

        # doc 1: "a a a b" -> words: a=3, b=1 -> top_word = 3/4
        # bigrams: "a a"(2), "a b"(1) -> top = 2/3, dup = 2/3
        # trigrams: "a a a"(1), "a a b"(1) -> dup = 0
        # doc 2: "x y x y x y" -> top_word 3/6; bigrams "x y"(3),"y x"(2)
        #   -> top 3/5, dup 5/5; trigrams "x y x"(2),"y x y"(2) -> dup 4/4
        df = spark.createDataFrame(
            [(1, "a a a b"), (2, "x y x y x y")], ["doc_id", "text"]
        )
        rows = {r["doc_id"]: r for r in repetition_signals(df).collect()}
        assert rows[1]["top_word_frac"] == 0.75
        assert rows[1]["top_bigram_frac"] == round(2 / 3, 6)
        assert rows[1]["dup_bigram_frac"] == round(2 / 3, 6)
        assert rows[1]["dup_trigram_frac"] == 0.0
        assert rows[2]["top_word_frac"] == 0.5
        assert rows[2]["top_bigram_frac"] == 0.6
        assert rows[2]["dup_bigram_frac"] == 1.0
        assert rows[2]["dup_trigram_frac"] == 1.0

    def test_short_doc_drops_out(self, spark):
        from datapipeline_spark.text import repetition_signals

        # a 2-token doc has no trigrams -> excluded from the joined output
        df = spark.createDataFrame([(1, "a b"), (2, "a b c")], ["doc_id", "text"])
        out = repetition_signals(df).collect()
        assert [r["doc_id"] for r in out] == [2]


class TestPackSequences:
    def test_exclusive_scan_matches_driver_reference(self, spark):
        import hashlib

        from datapipeline_spark.text import pack_sequences

        docs = [(i, " ".join(["w"] * (i % 7 + 1))) for i in range(50)]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        out = {r["doc_id"]: r for r in pack_sequences(df, seq_len=10).collect()}

        order = sorted(
            docs, key=lambda d: (hashlib.md5(f"42|{d[0]}".encode()).hexdigest(), d[0])
        )
        start = 0
        for doc_id, text in order:
            n = len(text.split())
            r = out[doc_id]
            assert r["n_tokens"] == n
            assert r["start_token"] == start
            assert r["first_seq"] == start // 10
            assert r["last_seq"] == (start + n - 1) // 10
            start += n
        # stream is gapless: total == sum of token counts
        assert start == sum(len(t.split()) for _, t in docs)

    def test_partition_layout_invariance(self, spark):
        from datapipeline_spark.text import pack_sequences

        docs = [(i, " ".join(["w"] * (i % 5 + 1))) for i in range(40)]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        a = sorted(map(tuple, pack_sequences(df, seq_len=8).collect()))
        b = sorted(map(tuple, pack_sequences(df.repartition(13), seq_len=8).collect()))
        assert a == b

    def test_rejects_bad_seq_len(self, spark):
        from datapipeline_spark.text import pack_sequences

        df = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
        with pytest.raises(ValueError):
            pack_sequences(df, seq_len=0)


def test_bucketed_global_rank_matches_naive_window(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from datapipeline_spark.operators.rank import bucketed_global_rank

    df = spark.range(5000).selectExpr(
        "id AS k",
        # 52-bit deterministic hash, same convention as the query registry;
        # every 97th hash is NULL and ranks first, as in the naive window
        "CASE WHEN id % 97 = 0 THEN NULL ELSE"
        " cast(conv(substring(sha2(cast(id AS string), 256), 1, 13), 16, 10) AS long) END AS h",
    )
    naive = df.select(
        "k", F.row_number().over(Window.orderBy("h", "k")).cast("long").alias("pos")
    )
    fast = bucketed_global_rank(df, "h", ["k"]).select("k", "pos")
    assert fast.exceptAll(naive).count() == 0
    assert naive.exceptAll(fast).count() == 0
    # the heavy window is partitioned: no single-partition WindowExec on data
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan


def test_jaccard_candidate_path_equals_semijoined_all_pairs(spark):
    """The candidate-bounded intersection (driven FROM the candidate pairs,
    matching on (id, shingle)) must return exactly the all-pairs result
    semi-joined to the candidates — the brute form is the verifier."""
    from datapipeline_spark.dedup import MinHashParams, word_shingles

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sh = word_shingles(d, "doc_id", "text", 2)
    params = MinHashParams()
    sig = minhash_signatures(sh, "doc_id", params)
    cand = lsh_candidate_pairs(sig, "doc_id", params, bands=4)
    bounded = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(sh, "doc_id", cand, threshold=0.3).collect()
    }
    brute = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(sh, "doc_id", None, threshold=0.3)
        .join(cand, ["id_a", "id_b"], "leftsemi")
        .collect()
    }
    assert bounded == brute and bounded


def test_jaccard_max_doc_freq_restricts_universe(spark):
    """DF-capped jaccard == plain jaccard over the pre-filtered shingle
    stream (sizes AND intersections both restricted)."""
    from datapipeline_spark.dedup import word_shingles
    from pyspark.sql import functions as F

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sh = word_shingles(d, "doc_id", "text", 2)
    capped = {
        tuple(r) for r in jaccard_pairs(sh, "doc_id", threshold=0.4, max_doc_freq=5).collect()
    }
    rare = (
        sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= 5).select("shingle")
    )
    manual = {
        tuple(r)
        for r in jaccard_pairs(
            sh.join(rare, "shingle", "leftsemi"), "doc_id", threshold=0.4
        ).collect()
    }
    assert capped == manual and capped
    # the two bounds are alternatives: both at once is refused
    cand = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="not both"):
        jaccard_pairs(sh, "doc_id", cand, threshold=0.4, max_doc_freq=5)


def test_lsh_similar_pairs_subset_of_brute_with_recall(vectors):
    """LSH-blocked pairs ⊆ brute-force pairs with identical cosines, and at
    a near-dup threshold the blocking recovers the clustered duplicates."""
    from datapipeline_spark.similarity import lsh_similar_pairs

    brute = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_similar_pairs(vectors, threshold=0.9).collect()
    }
    dim = len(vectors.select("embedding").first()[0])
    blocked = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in lsh_similar_pairs(
            vectors, threshold=0.9, dim=dim, planes=8, bands=4
        ).collect()
    }
    assert set(blocked) <= set(brute)
    for k, v in blocked.items():
        assert v == brute[k]
    assert len(blocked) >= max(1, len(brute) // 2)  # near-dup recall


def test_learned_ivf_equals_brute_force_at_full_probe(spark):
    """ivf_knn with a LEARNED k-means quantizer at nprobe == n_centroids
    degenerates to exact brute force: every inverted list is probed, so the
    quantizer cannot change the candidate set. This closes the evidence gap
    for the one registry entry whose oracle is rows-only (the learned
    centroids aren't SQL-expressible): the approximation structure is
    verified exact at full probe on the driver testdata."""
    from datapipeline_spark.similarity import brute_force_knn, ivf_knn
    from datapipeline_spark.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    brute = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["score"])
        for r in brute_force_knn(e, q, k=3).collect()
    }
    ivf = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["score"])
        for r in ivf_knn(e, q, n_centroids=8, nprobe=8, k=3).collect()
    }
    assert ivf == brute and len(ivf) == 30


def test_ivf_assignment_partitions_corpus(spark):
    """Centroid assignment invariants: every vector gets exactly one
    centroid id in [0, k), and each vector's own centroid is among its
    nprobe nearest (nprobe=1 probe set == assignment)."""
    from datapipeline_spark.similarity import fit_ivf_centroids, ivf_assign
    from datapipeline_spark.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    cents = fit_ivf_centroids(e, n_centroids=8)
    assert len(cents) == 8
    assigned = ivf_assign(e, cents)
    stats = assigned.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("centroid_id").alias("lo"),
        F.max("centroid_id").alias("hi"),
        F.countDistinct("centroid_id").alias("k"),
    ).collect()[0]
    assert stats.n == e.count() and stats.lo >= 0 and stats.hi <= 7
    assert stats.k >= 2  # corpus actually partitions across lists


def test_fellegi_sunter_weights_and_decisions(spark):
    from pyspark.sql import functions as F

    from datapipeline_spark.operators.linkage import (
        WEIGHT_SCALE,
        FieldComparison,
        fellegi_sunter_score,
    )

    pairs = spark.createDataFrame(
        [(1, 2, True, True), (3, 4, True, False), (5, 6, False, False)],
        "l long, r long, f1 boolean, f2 boolean",
    )
    comps = [
        FieldComparison("f1", F.col("f1"), 0.9, 0.1),
        FieldComparison("f2", F.col("f2"), 0.8, 0.2),
    ]
    out = {r.l: (r.match_weight, r.decision) for r in
           fellegi_sunter_score(pairs, comps, upper=3.0, lower=0.0).collect()}
    import math
    w1a = round(math.log2(0.9 / 0.1) * WEIGHT_SCALE)
    w1d = round(math.log2(0.1 / 0.9) * WEIGHT_SCALE)
    w2a = round(math.log2(0.8 / 0.2) * WEIGHT_SCALE)
    w2d = round(math.log2(0.2 / 0.8) * WEIGHT_SCALE)
    assert out[1] == (w1a + w2a, "match")
    assert out[3] == (w1a + w2d, "possible")
    assert out[5][0] == w1d + w2d and out[5][1] == "non_match"


def test_row_minhash_equals_aggregated_signatures(spark):
    """min over the shingle multiset == min over the distinct set: the
    per-row map-stage signature must be bit-identical to the groupBy path."""
    from pyspark.sql import functions as F

    from datapipeline_spark.dedup import (
        MinHashParams,
        minhash_signatures,
        row_minhash,
        word_shingles,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    params = MinHashParams()
    agg = minhash_signatures(word_shingles(d, "doc_id", "text", 2), "doc_id", params)
    agg_sig = agg.select(
        "doc_id",
        F.concat_ws(
            "_", *[F.col(f"mh{j}").cast("string") for j in range(params.num_hashes)]
        ).alias("sig"),
    )
    row = row_minhash(d, "text", params).select("doc_id", "minhash_sig")
    joined = agg_sig.join(row, "doc_id", "full")
    assert joined.filter(F.col("sig") != F.col("minhash_sig")).count() == 0
    assert row.filter(F.col("minhash_sig").isNotNull()).count() == agg.count()


def test_row_minhash_is_shuffle_free(spark):
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from datapipeline_spark.dedup import row_minhash

    plan = row_minhash(d, "text")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # whole signature inside the scan projection


def test_inverted_index_postings_and_cap(spark):
    from datapipeline_spark.text import build_inverted_index

    d = spark.createDataFrame(
        [(1, "a b a c"), (2, "b c a"), (3, "a x")], "doc_id long, text string"
    )
    idx = {r.term: r for r in build_inverted_index(d, max_df=2).collect()}
    assert "a" not in idx  # df=3 > cap
    assert idx["b"].doc_ids == [1, 2] and idx["b"].tfs == [1, 1]
    assert idx["x"].doc_ids == [3] and idx["x"].df == 1
    # tf counted, postings doc-sorted
    full = {r.term: r for r in build_inverted_index(d, max_df=None).collect()}
    assert full["a"].doc_ids == [1, 2, 3] and full["a"].tfs == [2, 1, 1]


def test_bm25_prefers_term_dense_short_docs(spark):
    from datapipeline_spark.text import bm25_scores

    d = spark.createDataFrame(
        [
            (1, "spark spark spark"),          # dense in the query term, short
            (2, "spark filler filler filler filler filler filler"),
            (3, "nothing relevant here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bm25_scores(d, ["spark"]).collect()}
    assert 3 not in out          # no match -> no row
    assert out[1].rank == 1 and out[2].rank == 2
    assert out[1].score > out[2].score > 0


def test_triangle_counts_known_graph(spark):
    from datapipeline_spark.operators.graph import triangle_counts

    # two triangles sharing edge (1,2): {1,2,3} and {1,2,4}; plus a dangler
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 4), (2, 4), (4, 5)], "src long, dst long"
    )
    got = {r.node: r.n_triangles for r in triangle_counts(edges).collect()}
    assert got == {1: 2, 2: 2, 3: 1, 4: 1}

    # direction/duplicate invariance: reversed + doubled edge list, same answer
    rev = spark.createDataFrame(
        [(2, 1), (3, 2), (1, 3), (4, 1), (4, 2), (5, 4), (1, 2)],
        "src long, dst long",
    )
    assert {r.node: r.n_triangles for r in triangle_counts(rev).collect()} == got


def test_doc_cosine_identical_docs_score_one(spark):
    from datapipeline_spark.queries_data import REGISTRY

    out = REGISTRY["doc_cosine_pairs"][0](spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert rows and all(0.5 <= r.cosine <= 1.0 for r in rows)


def test_ppjoin_equals_brute_force_at_multiple_thresholds(spark):
    """Prefix filtering is LOSSLESS: the bounded join returns exactly the
    all-pairs jaccard result at every threshold (the claim that separates
    it from LSH)."""
    from datapipeline_spark.dedup import jaccard_pairs, ppjoin_pairs, word_shingles

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sh = word_shingles(d, "doc_id", "text", 2)
    for t in (0.3, 0.5, 0.8):
        pp = {(r.id_a, r.id_b): r.jaccard for r in ppjoin_pairs(d, threshold=t).collect()}
        brute = {
            (r.id_a, r.id_b): r.jaccard
            for r in jaccard_pairs(sh, "doc_id", None, t).collect()
        }
        assert pp == brute, t


def test_prefix_position_filter_keeps_threshold_boundary_pair(spark):
    """Losslessness at the exact threshold boundary: jaccard == t must
    survive the position filter. A float-computed
    ceil(lit(t/(1+t)) * (na+nb)) rounds ABOVE the exact rational for
    t=0.8, na+nb=63 (exact overlap requirement 28, float ceil 29) and
    silently dropped this pair — the integer-arithmetic form must not."""
    from datapipeline_spark.dedup.ppjoin import prefix_filter_candidates

    shared = [f"s{i:02d}" for i in range(28)]
    a_only = ["a0", "a1"]
    b_only = ["b0", "b1", "b2", "b3", "b4"]
    rows = [(1, s) for s in shared + a_only] + [(2, s) for s in shared + b_only]
    sh = spark.createDataFrame(rows, "doc_id long, shingle string")
    # |A|=30, |B|=33, inter=28 -> jaccard = 28/35 = 0.8 exactly
    cand = {(r.id_a, r.id_b) for r in prefix_filter_candidates(sh, "doc_id", 0.8).collect()}
    assert (1, 2) in cand


def test_prefix_length_integer_ceil_keeps_low_threshold_pair(spark):
    """Prefix LENGTH must also be integer-exact: float ceil(n * lit(t))
    overshoots exact integers (t=0.07, n=100: float ceil 8 vs exact 7),
    shortening the prefix by one token. Construct the pair that only
    matches at A's 94th-ranked token — exact p = 100 - 7 + 1 = 94 keeps
    it, the float form's p = 93 drops it."""
    from datapipeline_spark.dedup.ppjoin import prefix_filter_candidates

    a_only = [f"a{i:02d}" for i in range(93)]  # df=1, rank before shared
    shared = [f"s{i}" for i in range(7)]  # df=2, A's ranks 94..100
    rows = [(1, s) for s in a_only + shared] + [(2, s) for s in shared]
    sh = spark.createDataFrame(rows, "doc_id long, shingle string")
    # jaccard = 7/100 = 0.07 exactly; overlap requirement and position
    # filter both sit at equality — every rounding must be lossless
    cand = {
        (r.id_a, r.id_b)
        for r in prefix_filter_candidates(sh, "doc_id", 0.07).collect()
    }
    assert (1, 2) in cand


def test_prefix_group_cap_error_mode_raises_with_lsh_guidance(spark):
    """On a degenerate corpus (every doc shares the same rare tokens) the
    guard must fail the FIRST ACTION and route to the capped LSH path —
    and cost nothing at construction (round-7: the old eager pre-flight
    scanned the shingles at build on every healthy corpus too)."""
    import pytest

    from datapipeline_spark.dedup.ppjoin import prefix_filter_candidates

    rows = [(i, f"t{j}") for i in range(20) for j in range(4)]
    sh = spark.createDataFrame(rows, "doc_id long, shingle string")
    # construction must NOT raise (the guard is action-time; residual
    # build jobs are only the prefix checkpoint's stage materialization,
    # shared with drop mode — the old eager pre-flight aggregate is gone)
    cand = prefix_filter_candidates(
        sh, "doc_id", 0.5, max_prefix_group=10, on_exceed="error"
    )
    with pytest.raises(Exception, match="minhash_lsh_pairs"):
        cand.collect()


def test_prefix_group_cap_drop_is_subset_of_exact(spark):
    """Drop mode loses only pairs whose EVERY shared prefix token is in an
    over-cap group: the result is a subset of the exact join with
    identical jaccard values, and a cap above every group size is exact."""
    from datapipeline_spark.dedup import ppjoin_pairs

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ppjoin_pairs(d, threshold=0.5).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in ppjoin_pairs(
            d, threshold=0.5, max_prefix_group=64, on_exceed="drop"
        ).collect()
    }
    assert set(capped) <= set(exact)
    assert all(exact[k] == v for k, v in capped.items())
    uncapped = {
        (r.id_a, r.id_b): r.jaccard
        for r in ppjoin_pairs(
            d, threshold=0.5, max_prefix_group=10**9, on_exceed="drop"
        ).collect()
    }
    assert uncapped == exact


def test_prefix_filter_candidate_volume_is_bounded(spark):
    """The candidate set is a strict subset of all co-token pairs — the
    rare-first prefix keeps boilerplate tokens out of the join keys."""
    from datapipeline_spark.dedup import prefix_filter_candidates, word_shingles
    from pyspark.sql import functions as F

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sh = word_shingles(d, "doc_id", "text", 2)
    cand = prefix_filter_candidates(sh, "doc_id", threshold=0.8).count()
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    all_pairs = (
        a.join(b, "shingle").filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b").distinct().count()
    )
    # prefix length ~0.2n at t=0.8 -> candidates collapse vs co-token pairs
    assert 0 < cand < all_pairs / 2


def test_kcore_peels_layers(spark):
    from datapipeline_spark.operators.graph import kcore_nodes

    # a 4-clique with a pendant chain: 2-core = the clique only (the chain
    # peels layer by layer, exercising multi-round convergence)
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6), (6, 7)]
    df = spark.createDataFrame(edges, "src long, dst long")
    core2 = sorted(r.node for r in kcore_nodes(df, 2).collect())
    assert core2 == [1, 2, 3, 4]
    core3 = sorted(r.node for r in kcore_nodes(df, 3).collect())
    assert core3 == [1, 2, 3, 4]
    assert kcore_nodes(df, 4).count() == 0


def test_bloom_prefilter_no_false_negatives_and_join_equivalence(spark):
    from datapipeline_spark.operators.bloom import (
        bloom_build,
        bloom_filter_keys,
        bloom_prefilter_join,
    )

    probe = spark.range(100_000).select(F.col("id").alias("pk"))
    build = spark.range(0, 100_000, 41).select(F.col("id").alias("bk"))
    words = bloom_build(build, "bk")
    filt = bloom_filter_keys(probe, "pk", words)
    # no false negatives: every build key survives the filter
    assert build.join(filt, build.bk == filt.pk, "left_anti").count() == 0
    # false-positive rate bounded (m/n ~ 107 bits/key -> essentially zero)
    n_true = len(range(0, 100_000, 41))
    assert filt.count() - n_true < 0.01 * 100_000
    # prefiltered join == plain join, exactly
    a = bloom_prefilter_join(probe, build, "pk", "bk").select("pk")
    b = probe.join(build, probe.pk == build.bk).select("pk")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_bloom_filter_is_map_side_only(spark):
    from datapipeline_spark.operators.bloom import bloom_build, bloom_filter_keys

    probe = spark.range(1000).select(F.col("id").alias("pk"))
    words = bloom_build(spark.range(100).select(F.col("id").alias("bk")), "bk")
    plan = (
        bloom_filter_keys(probe, "pk", words)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the probe filter must introduce no shuffle and no join
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_table_checksum_invariance_and_sensitivity(spark):
    from datapipeline_spark.operators.checksum import table_checksum

    d = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 100).alias("v")
    )
    base = table_checksum(d, ["k", "v"], n_buckets=8).orderBy("bucket").collect()
    # partition/order invariance
    shuf = table_checksum(
        d.repartition(13, "v").sortWithinPartitions(F.desc("k")),
        ["k", "v"],
        n_buckets=8,
    ).orderBy("bucket").collect()
    assert base == shuf
    # one changed value is detected
    mut = d.withColumn(
        "v", F.when(F.col("k") == 5000, F.col("v") + 1).otherwise(F.col("v"))
    )
    assert base != table_checksum(mut, ["k", "v"], n_buckets=8).orderBy("bucket").collect()
    # a deleted row is detected even where xor could cancel
    assert base != table_checksum(
        d.filter(F.col("k") != 7777), ["k", "v"], n_buckets=8
    ).orderBy("bucket").collect()


def test_spearman_known_values(spark):
    from datapipeline_spark.operators.stats import spearman_corr

    # perfectly monotone -> 1; anti-monotone -> -1 (nonlinear is fine)
    d = spark.createDataFrame(
        [(float(i), float(i * i), float(-i)) for i in range(1, 50)],
        "x double, up double, down double",
    )
    assert spearman_corr(d, "x", "up").collect()[0].spearman == 1.0
    assert spearman_corr(d, "x", "down").collect()[0].spearman == -1.0

    # hand-computed tie case: x=[1,2,2,3], y=[10,20,30,40]
    # rank(x)=[1,2.5,2.5,4], rank(y)=[1,2,3,4] -> rho = 0.9486833 (= 3/sqrt(10))
    t = spark.createDataFrame(
        [(1.0, 10.0), (2.0, 20.0), (2.0, 30.0), (3.0, 40.0)], "x double, y double"
    )
    assert abs(t.transform(lambda s: spearman_corr(s, "x", "y")).collect()[0].spearman
               - 0.948683) < 1e-6


def test_hashed_features_partition_invariant_and_tf_exact(spark):
    from datapipeline_spark.text.features import hashed_features

    d = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "beta gamma")], "doc_id long, text string"
    )
    rows = hashed_features(d, dim=1 << 18).collect()
    # no collisions in a 3-token vocab at 2^18 dims: |weight| == tf
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(abs(r.weight))
    assert sorted(by_doc[1]) == [1, 2]  # beta x1, alpha x2
    assert sorted(by_doc[2]) == [1, 1]
    # partition invariance
    again = hashed_features(d.repartition(7), dim=1 << 18).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_hll_custom_hash_col(spark, monkeypatch):
    """The xxhash64 register hash (fast mode) estimates 50k distinct keys
    within 10%."""
    from datapipeline_spark.sketch.hll import corrected_estimate, hll_estimate, hll_registers

    monkeypatch.setenv("SPARK_GRAFT_HASH_MODE", "fast")
    d = spark.range(50_000).select(F.col("id").alias("k"))
    r = hll_estimate(hll_registers(d, "k")).collect()[0]
    c = corrected_estimate(r.n_registers, r.scaled_harmonic)
    assert abs(c - 50_000) / 50_000 < 0.1


def test_bfs_distances_path_graph(spark):
    from datapipeline_spark.operators.graph import bfs_distances

    # path 1-2-3-4-5 (both directions), source {1}
    e = [(i, i + 1) for i in range(1, 5)] + [(i + 1, i) for i in range(1, 5)]
    edges = spark.createDataFrame(e, "src long, dst long")
    srcs = spark.createDataFrame([(1,)], "node long")
    got = {r.node: r.dist for r in bfs_distances(edges, srcs, 3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}  # 5 is beyond the horizon
    # two sources: distances are min over sources
    srcs2 = spark.createDataFrame([(1,), (5,)], "node long")
    got2 = {r.node: r.dist for r in bfs_distances(edges, srcs2, 3).collect()}
    assert got2 == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}


def test_hhi_and_gini_known_values(spark):
    from datapipeline_spark.operators.stats import gini, hhi

    # monopoly: one holder -> HHI = 1, and (degenerate n=1) Gini = 0
    mono = spark.createDataFrame([(100,)], "v long")
    assert hhi(mono, "v").collect()[0].hhi == 1.0
    # perfectly equal 4 ways -> HHI = 1/4, Gini = 0
    eq = spark.createDataFrame([(25,)] * 4, "v long")
    assert hhi(eq, "v").collect()[0].hhi == 0.25
    assert gini(eq, "v").collect()[0].gini == 0.0
    # [1,3] -> shares (0.25, 0.75): HHI = 0.625; G = (2*1*1+2*2*3-3*4)/(2*4) = 0.25
    two = spark.createDataFrame([(1,), (3,)], "v long")
    assert hhi(two, "v").collect()[0].hhi == 0.625
    assert gini(two, "v").collect()[0].gini == 0.25
    # tie-order invariance under repartition/shuffle
    t = spark.createDataFrame([(5,), (5,), (2,), (8,)], "v long")
    a = gini(t, "v").collect()[0].gini
    b = gini(t.repartition(7), "v").collect()[0].gini
    assert a == b
    # zero total -> NULL, not divide-by-zero
    z = spark.createDataFrame([(0,), (0,)], "v long")
    assert hhi(z, "v").collect()[0].hhi is None
    assert gini(z, "v").collect()[0].gini is None


def test_chi_square_known_values(spark):
    from datapipeline_spark.operators.stats import chi_square

    # 2x2 [[10,20],[20,10]]: E=15 everywhere, chi2 = 4*(25/15) = 20/3
    rows = (
        [("a", "p")] * 10 + [("a", "q")] * 20 + [("b", "p")] * 20 + [("b", "q")] * 10
    )
    d = spark.createDataFrame(rows, "x string, y string")
    r = chi_square(d, "x", "y").collect()[0]
    assert (r.n, r.r, r.c, r.dof) == (60, 2, 2, 1)
    assert abs(r.chi2 - 20 / 3) < 1e-5
    # Cramer's V for 2x2 = sqrt(chi2 / n)
    assert abs(r.cramers_v - math.sqrt((20 / 3) / 60)) < 1e-5

    # absent cell (b,q): identity sum O^2*N/(R*C) - N must absorb it exactly
    rows2 = [("a", "p")] * 2 + [("a", "q")] * 2 + [("b", "p")] * 2
    d2 = spark.createDataFrame(rows2, "x string, y string")
    r2 = chi_square(d2, "x", "y").collect()[0]
    assert (r2.n, r2.dof) == (6, 1)
    assert abs(r2.chi2 - 1.5) < 1e-5

    # independence -> chi2 == 0
    rows3 = [("a", "p")] * 6 + [("a", "q")] * 6 + [("b", "p")] * 3 + [("b", "q")] * 3
    d3 = spark.createDataFrame(rows3, "x string, y string")
    assert abs(chi_square(d3, "x", "y").collect()[0].chi2) < 1e-5


def test_ols_known_values(spark):
    from datapipeline_spark.operators.stats import ols

    exact = spark.createDataFrame([(1, 2), (2, 4), (3, 6)], "x long, y long")
    r = ols(exact, "x", "y").collect()[0]
    assert (r.slope, r.intercept, r.r2) == (2.0, 0.0, 1.0)

    # n=3, Sx=6, Sy=5, Sxx=14, Syy=9, Sxy=11 -> slope .5, icpt 2/3, r2 .75
    d = spark.createDataFrame([(1, 1), (2, 2), (3, 2)], "x long, y long")
    r = ols(d, "x", "y").collect()[0]
    assert (r.slope, r.intercept, r.r2) == (0.5, 0.67, 0.75)

    # constant x -> undefined slope (NULL, not a div-by-zero)
    cx = spark.createDataFrame([(5, 1), (5, 2)], "x long, y long")
    r = ols(cx, "x", "y").collect()[0]
    assert r.slope is None and r.intercept is None and r.r2 is None

    # grouped + partition invariance
    g = spark.createDataFrame(
        [("u", 1, 2), ("u", 2, 4), ("v", 1, 5), ("v", 3, 5)], "k string, x long, y long"
    )
    a = {r.k: (r.slope, r.r2) for r in ols(g, "x", "y", ["k"]).collect()}
    b = {
        r.k: (r.slope, r.r2)
        for r in ols(g.repartition(7), "x", "y", ["k"]).collect()
    }
    # constant y in group v -> r2 undefined (NULL), slope still 0
    assert a == b and a["u"] == (2.0, 1.0) and a["v"] == (0.0, None)


def test_proportion_ztest_known_values(spark):
    import math

    from datapipeline_spark.operators.stats import proportion_ztest

    rows = [(0, 1)] * 10 + [(0, 0)] * 90 + [(1, 1)] * 20 + [(1, 0)] * 80
    d = spark.createDataFrame(rows, "arm long, conv long")
    r = proportion_ztest(d, "arm", "conv").collect()[0]
    assert (r.n0, r.c0, r.n1, r.c1) == (100, 10, 100, 20)
    pool = 30 / 200
    want = (0.2 - 0.1) / math.sqrt(pool * (1 - pool) * (2 / 100))
    assert abs(r.z - want) < 1e-6

    # empty arm -> NULL
    one = spark.createDataFrame([(1, 1), (1, 0)], "arm long, conv long")
    assert proportion_ztest(one, "arm", "conv").collect()[0].z is None


def test_equidepth_bands_cover_and_balance(spark):
    from datapipeline_spark.queries_data import REGISTRY

    fn, _ = REGISTRY["equidepth_price_bands"]
    out = fn(spark, "/root/testdata/sf0.001").collect()
    assert len(out) == 8
    sizes = [r.n_orders for r in out]
    assert max(sizes) - min(sizes) <= 1  # equi-depth
    # bands tile the value range in order
    bands = sorted(out, key=lambda r: r.band)
    for lo, hi in zip(bands, bands[1:]):
        assert lo.hi_cents <= hi.lo_cents


def test_markov_transitions_rows_normalize(spark):
    from datapipeline_spark.queries_data import REGISTRY

    fn, _ = REGISTRY["markov_event_transitions"]
    out = fn(spark, "/root/testdata/sf0.001").collect()
    by_prev = {}
    for r in out:
        by_prev.setdefault(r.prev, []).append(r.prob)
    for prev, probs in by_prev.items():
        assert abs(sum(probs) - 1.0) < 1e-4, prev


def test_label_propagation_two_triangles(spark):
    from datapipeline_spark.operators.graph import label_propagation

    def clique(nodes):
        return [(a, b) for a in nodes for b in nodes if a != b]

    e = spark.createDataFrame(
        clique([1, 2, 3]) + clique([10, 11, 12]), "src long, dst long"
    )
    got = {
        r.node: r.community
        for r in label_propagation(e, rounds=4).collect()
    }
    # each component converges to its minimum node id
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}
    # partition invariance (deterministic sync + min tie-break)
    again = {
        r.node: r.community
        for r in label_propagation(e.repartition(7), rounds=4).collect()
    }
    assert again == got


def test_label_propagation_min_tie_break(spark):
    """A node receiving equally many votes for two labels adopts the
    SMALLER label (the deterministic sync-LPA rule, now carried by
    mode(lab, deterministic=true))."""
    from datapipeline_spark.operators.graph import label_propagation

    # node 5 hears from 1 and 2 (one vote each, labels 1 and 2 after
    # round 1's self-labels) -> must adopt 1, never 2
    e = spark.createDataFrame(
        [(1, 5), (2, 5), (5, 1), (5, 2)], "src long, dst long"
    )
    got = {
        r.node: r.community
        for r in label_propagation(e, rounds=1).collect()
    }
    assert got[5] == 1


def test_undirected_drops_self_loops_both_directions(spark):
    """_undirected must drop a self-loop entirely (the old union form
    filtered only one direction's branch)."""
    from datapipeline_spark.operators.graph import _undirected

    e = spark.createDataFrame([(1, 1), (1, 2)], "src long, dst long")
    got = sorted(map(tuple, _undirected(e, "src", "dst").collect()))
    assert got == [(1, 2), (2, 1)]


def test_benford_known_distribution(spark):
    from datapipeline_spark.operators.stats import BENFORD_P, benford

    # construct counts exactly proportional to Benford: digit d appears
    # round(p_d * 1000) times -> dev_micro should be small everywhere
    rows = []
    for d in range(1, 10):
        rows += [(d * 100,)] * round(BENFORD_P[d] * 1000)
    df = spark.createDataFrame(rows, "v long")
    out = {r.digit: r for r in benford(df, "v").collect()}
    assert set(out) == set(range(1, 10))
    n = sum(r.observed for r in out.values())
    for d, r in out.items():
        assert r.observed == round(BENFORD_P[d] * 1000)
        assert r.expected_micro == math.floor(n * BENFORD_P[d] * 1e6 + 0.5)
        assert r.dev_micro == abs(r.observed * 1_000_000 - r.expected_micro)
    # zero/negative values excluded
    z = spark.createDataFrame([(0,), (-5,), (123,)], "v long")
    got = benford(z, "v").collect()
    assert len(got) == 1 and got[0].digit == 1 and got[0].observed == 1


def test_pearson_and_autocorr_known_values(spark):
    from datapipeline_spark.operators.stats import autocorr, pearson_corr

    # exact linear -> 1; anti-linear -> -1
    d = spark.createDataFrame(
        [(i, 2 * i + 3, -i) for i in range(1, 30)], "x long, up long, down long"
    )
    assert pearson_corr(d, "x", "up").collect()[0].pearson == 1.0
    assert pearson_corr(d, "x", "down").collect()[0].pearson == -1.0
    # constant -> NULL
    c = spark.createDataFrame([(1, 5), (2, 5)], "x long, y long")
    assert pearson_corr(c, "x", "y").collect()[0].pearson is None
    # period-2 alternating series: lag-2 ACF = 1, lag-1 ACF = -1
    s = spark.createDataFrame(
        [(t, 10 if t % 2 == 0 else -10) for t in range(20)], "time long, v long"
    )
    assert autocorr(s, "v", 2).collect()[0].acf == 1.0
    assert autocorr(s, "v", 1).collect()[0].acf == -1.0
    # grouped + partition invariance
    g = spark.createDataFrame(
        [("a", t, t % 3) for t in range(12)] + [("b", t, 7) for t in range(6)],
        "k string, time long, v long",
    )
    one = {r.k: r.acf for r in autocorr(g, "v", 3, ["k"]).collect()}
    two = {r.k: r.acf for r in autocorr(g.repartition(5), "v", 3, ["k"]).collect()}
    assert one == two and one["a"] == 1.0 and one["b"] is None


def test_autocorr_wide_survives_aggregate_scale_magnitudes(spark):
    """Red-on-revert for the sf1 overflow: series values beyond the
    int64 path's |v| ≲ 3e9 squaring bound (daily SUMS grow with data
    volume) must raise ANSI ARITHMETIC_OVERFLOW on pearson_corr's
    int64-product path — never silently wrap — and autocorr, which takes
    the decimal path, must compute them exactly."""
    import math

    import pytest

    from datapipeline_spark.operators.stats import autocorr, pearson_corr

    # magnitudes ~5e9: v*v ~ 2.5e19 > 2^63
    xs = [5_000_000_000 + (t % 7) * 400_000_000 for t in range(20)]
    s = spark.createDataFrame(
        [(t, v) for t, v in enumerate(xs)], "time long, v long"
    )
    pairs = spark.createDataFrame(
        list(zip(xs[:-7], xs[7:])), "yl long, y long"
    )
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        pearson_corr(pairs, "yl", "y").collect()
    got = autocorr(s, "v", 7).collect()[0]
    # exact python reference (arbitrary-precision ints, one float chain)
    y = xs[7:]
    yl = xs[:-7]
    n = len(y)
    sx, sy = sum(yl), sum(y)
    sxx = sum(a * a for a in yl)
    syy = sum(b * b for b in y)
    sxy = sum(a * b for a, b in zip(yl, y))
    num = float(n * sxy - sx * sy)
    den = math.sqrt(float(n * sxx - sx * sx)) * math.sqrt(float(n * syy - sy * sy))
    assert got.acf == round(num / den, 6)
    assert got.n == n


def test_sssp_weighted_path(spark):
    from datapipeline_spark.operators.graph import sssp_distances

    # 1 -2-> 2 -3-> 3; direct 1 -10-> 3: shortest 1->3 is 5 via 2
    e = spark.createDataFrame(
        [(1, 2, 2), (2, 3, 3), (1, 3, 10), (2, 1, 2), (3, 2, 3), (3, 1, 10)],
        "src long, dst long, w long",
    )
    srcs = spark.createDataFrame([(1,)], "node long")
    got = {
        r.node: r.dist
        for r in sssp_distances(e, srcs, rounds=3).collect()
    }
    assert got == {1: 0, 2: 2, 3: 5}
    # capped horizon: 1 round can't take the 2-hop path yet
    one = {
        r.node: r.dist
        for r in sssp_distances(e, srcs, rounds=1).collect()
    }
    assert one == {1: 0, 2: 2, 3: 10}


# ------------------------------------------------------------------- privacy


def test_k_anonymity_report_and_suppression(spark):
    from datapipeline_spark.operators.privacy import k_anonymity_report

    rows = (
        [("dk", 1, "red")] * 4
        + [("dk", 1, "blue")] * 3
        + [("dk", 2, "red")] * 2      # class of 2 -> suppressed at k=3
        + [("se", 1, "red")] * 5      # single sensitive value -> not l-diverse
    )
    df = spark.createDataFrame(rows, "country string, band int, color string")
    rep = {
        (r.country, r.band): (r.class_size, r.l_distinct, r.k_anonymous, r.l_diverse)
        for r in k_anonymity_report(df, ["country", "band"], "color", k=3, l=2).collect()
    }
    assert rep == {
        ("dk", 1): (7, 2, 1, 1),
        ("dk", 2): (2, 1, 0, 0),
        ("se", 1): (5, 1, 1, 0),
    }


# -------------------------------------------------------------------- baskets


def test_association_rules_exact_ppm(spark):
    from datapipeline_spark.operators.basket import association_rules

    rows = [(1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b"), (3, "a"),
            (3, "c"), (4, "b"), (4, "b"), (5, "d")]
    df = spark.createDataFrame(rows, "o long, it string")
    got = {
        (r.antecedent, r.consequent): (r.pair_support, r.conf_ppm, r.lift_ppm)
        for r in association_rules(df, "o", "it").collect()
    }
    # sup: a=3 b=3 c=2 d=1; n=5; e.g. c->a: 2/2 conf, lift 2*5/(2*3)
    assert got[("c", "a")] == (2, 1_000_000, 1_666_666)
    assert got[("a", "b")] == (2, 666_666, 1_111_111)
    assert got[("b", "c")] == (1, 333_333, 833_333)
    assert ("d", "a") not in got  # d co-occurs with nothing


def test_frequent_pairs_apriori_prune_and_basket_cap(spark):
    from datapipeline_spark.operators.basket import frequent_pairs

    rows = [(1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b"), (3, "a"),
            (3, "c"), (4, "b"), (4, "b"), (5, "d")]
    df = spark.createDataFrame(rows, "o long, it string")
    # support>=3 keeps a (baskets 1-3) and b (1, 2, 4); c (2) and d (1)
    # never enter the pair join
    got = {
        (r.ia, r.ib): r.pair_support
        for r in frequent_pairs(df, "o", "it", min_item_support=3).collect()
    }
    assert got == {("a", "b"): 2}
    # duplicate (4,'b') rows count once: presence, not multiplicity
    full = {
        (r.ia, r.ib): r.pair_support
        for r in frequent_pairs(df, "o", "it").collect()
    }
    assert full == {("a", "b"): 2, ("a", "c"): 2, ("b", "c"): 1}


def test_cm_inner_product_upper_bounds_join_size(spark):
    from datapipeline_spark.sketch import build_cm_sketch, cm_inner_product

    a = spark.createDataFrame([(i % 7,) for i in range(200)], "k long")
    b = spark.createDataFrame([(i % 5,) for i in range(100)], "k long")
    true_size = a.join(b, "k").count()
    est = cm_inner_product(
        build_cm_sketch(a, "k", depth=4, width=64),
        build_cm_sketch(b, "k", depth=4, width=64),
    ).collect()[0]["est"]
    assert est >= true_size
    # at 64 buckets for 7x5 keys there are no collisions: estimate is exact
    assert est == true_size


def test_negative_samples_fixed_k_and_labeling(spark):
    from datapipeline_spark.dataset.negatives import negative_samples

    pos = spark.createDataFrame([(1, 0), (1, 1), (2, 3)], "u long, it long")
    out = negative_samples(pos, "u", "it", n_items=4, k=5).collect()
    assert len(out) == 3 * 5  # exactly k rows per positive, hits included
    by_user = {}
    for r in out:
        assert 0 <= r.neg_item < 4
        by_user.setdefault(r.user, set()).add((r.neg_item, r.is_positive))
    # user 1 interacted with {0,1}: any drawn 0/1 must be flagged, 2/3 not
    for item, flag in by_user[1]:
        assert flag == (1 if item in (0, 1) else 0)
    for item, flag in by_user[2]:
        assert flag == (1 if item == 3 else 0)
    # deterministic: a second run is bit-identical
    again = negative_samples(pos, "u", "it", n_items=4, k=5).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_skyline_2d_matches_brute_force(spark):
    from datapipeline_spark.operators.skyline import skyline_2d

    import random
    rng = random.Random(7)
    pts = [(rng.randrange(0, 40), rng.randrange(0, 40)) for _ in range(300)]
    pts += [pts[0], pts[1]]  # exact duplicates both survive
    df = spark.createDataFrame(pts, "x long, y long")

    def better(q, p):  # q dominates p: minimize x, maximize y
        return q[0] <= p[0] and q[1] >= p[1] and (q[0] < p[0] or q[1] > p[1])

    want = sorted(p for p in pts if not any(better(q, p) for q in pts))
    got = sorted((r.x, r.y) for r in skyline_2d(df, "x", "y", buckets=8).collect())
    assert got == want


def test_skyline_2d_null_x_matches_oracle(spark):
    """A NULL x neither empties the frontier nor joins it: on every frame
    the rows equal what DuckDB returns for the skyline_parts oracle SQL,
    whose RANGE frame puts a NULL-x row in its own prefix."""
    from decimal import Decimal

    import duckdb

    from datapipeline_spark.operators.skyline import skyline_2d
    from datapipeline_spark.queries_data import REGISTRY

    oracle_sql = REGISTRY["skyline_parts"][1]

    def oracle(rows):
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE part (p_partkey BIGINT, p_retailprice DECIMAL(15, 2), p_size BIGINT)"
        )
        con.executemany(
            "INSERT INTO part VALUES (?, ?, ?)",
            [(k, None if x is None else Decimal(x) / 100, y) for k, x, y in rows],
        )
        return sorted(con.execute(oracle_sql).fetchall())

    def ours(rows):
        df = spark.createDataFrame(rows, "p_partkey long, price_cents long, p_size long")
        out = skyline_2d(df, "price_cents", "p_size", buckets=8)
        return sorted(tuple(r) for r in out.collect())

    frontier = [(1, 10, 5), (2, 20, 8)]
    assert ours(frontier) == oracle(frontier) == frontier
    for nulls in (
        [(3, None, 9)],
        [(3, None, 1)],
        [(3, None, 9), (4, None, 3), (5, None, 9)],
        [(3, None, None), (4, None, 7)],
    ):
        rows = frontier + nulls
        assert ours(rows) == oracle(rows) == frontier, nulls
    only_nulls = [(3, None, 1), (4, None, 2)]
    assert ours(only_nulls) == oracle(only_nulls) == []


def test_interval_concurrency_sweep(spark):
    from datapipeline_spark.operators.interval import interval_concurrency

    iv = spark.createDataFrame(
        [(0, 10), (0, 10), (5, 7), (10, 11), (20, 21)], "s long, e long"
    )
    got = {
        r.point: r.concurrent
        for r in interval_concurrency(iv, "s", "e").collect()
    }
    # [start, end): at 0 ->2, at 5 ->3, at 7 ->2, at 10 both close +1 opens
    assert got == {0: 2, 5: 3, 7: 2, 10: 1, 11: 0, 20: 1, 21: 0}


def test_golden_record_per_field_survivorship(spark):
    from datapipeline_spark.operators.survivorship import golden_record

    rows = [
        (1, 1, "a@x", None),     # oldest: has email, no phone
        (1, 2, None, "555"),     # newer: phone only
        (1, 3, None, None),      # newest: nothing -> both survive from older
        (2, 1, None, None),      # entity with all-null field stays null
    ]
    df = spark.createDataFrame(rows, "ent long, pri long, email string, phone string")
    got = {
        r.ent: (r.email, r.phone, r.n_records)
        for r in golden_record(df, ["ent"], ["pri"], ["email", "phone"]).collect()
    }
    assert got == {1: ("a@x", "555", 3), 2: (None, None, 1)}


# ------------------------------------------------------------------------ bpe


def _python_bpe(texts, n_merges, min_pair_count=2):
    """Pure-Python Sennrich BPE on word frequencies — differential oracle."""
    import re
    from collections import Counter

    wf = Counter()
    for t in texts:
        for w in re.split(r"[^a-zA-Z]+", t.lower()):
            if w:
                wf[w] += 1
    words = {w: list(w) + ["</w>"] for w in wf}
    rules = []
    for rank in range(1, n_merges + 1):
        pc = Counter()
        for w, syms in words.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += wf[w]
        if not pc:
            break
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_pair_count:
            break
        rules.append((rank, a, b, cnt))
        for w, syms in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = out
    return rules


def test_bpe_merges_match_python_reference(spark):
    from datapipeline_spark.text.bpe import apply_bpe, learn_bpe_merges

    texts = [
        "the quick brown fox jumps over the lazy dog dog dog",
        "the lazier dogs jumped over quick brown foxes",
        "thinking about the things they think through",
    ]
    docs = spark.createDataFrame([(t,) for t in texts], "text string")
    got = learn_bpe_merges(docs, "text", 12)
    assert got == _python_bpe(texts, 12)
    # applying the learned merges re-tokenizes deterministically
    m = [(a, b) for _, a, b, _ in got]
    toks = apply_bpe(docs, "text", m).collect()
    assert all(len(r.bpe_tokens) > 0 for r in toks)
    joined = "".join(toks[0].bpe_tokens).replace("</w>", "")
    assert joined == "thequickbrownfoxjumpsoverthelazydogdogdog"


def test_fd_profile_exact_and_approximate(spark):
    from datapipeline_spark.operators.fd import fd_profile

    rows = [
        (1, "a", "x"), (2, "a", "x"), (3, "b", "y"),
        (4, "b", "z"),               # b -> {y,z}: violates c2->c3
        (5, "c", None), (6, "c", None),  # null dependent: two nulls agree
    ]
    df = spark.createDataFrame(rows, "id long, c2 string, c3 string")
    got = {
        (r.det, r.dep): (r.det_groups, r.violating_rows, r.holds, r.held_ppm)
        for r in fd_profile(df, ["id", "c2", "c3"]).collect()
    }
    assert got[("id", "c2")] == (6, 0, 1, 1_000_000)  # key determines all
    assert got[("c2", "c3")] == (3, 2, 0, 666_666)    # b-group (2 rows) violates
    # c3=x -> c2=a, y->b, z->b, null->c: the reverse direction holds
    assert got[("c3", "c2")] == (4, 0, 1, 1_000_000)


def test_group_mode_and_impute(spark):
    from datapipeline_spark.operators.impute import group_mode, impute_mode

    rows = [
        (1, "a"), (1, "a"), (1, "b"),         # mode a
        (2, "x"), (2, "y"),                   # tie -> larger value y
        (3, None), (3, "z"), (3, None),       # nulls ignored, mode z
        (4, None),                            # all-null group stays null
    ]
    df = spark.createDataFrame(rows, "g long, v string")
    modes = {r.g: (r.mode, r.mode_count) for r in group_mode(df, ["g"], "v").collect()}
    assert modes == {1: ("a", 2), 2: ("y", 1), 3: ("z", 1)}
    filled = {(r.g, i): r.v for i, r in enumerate(
        impute_mode(df, ["g"], "v").orderBy("g", "v").collect())}
    vals = sorted(filled.items())
    assert [v for (_, _), v in vals if v is None] == [None]  # only group 4
    got3 = [v for (g, _), v in vals if g == 3]
    assert got3 == ["z", "z", "z"]


def test_apportion_exact_sum_and_hamilton(spark):
    from datapipeline_spark.operators.apportion import apportion

    w = spark.createDataFrame(
        [("a", 505), ("b", 305), ("c", 190)], "src string, tokens long"
    )
    got = {r.src: r.allocated for r in apportion(w, ["src"], "tokens", 100).collect()}
    # floors: 50,30,19 -> 99; largest remainder .5 tie between a and b -> a wins (key order)
    assert sum(got.values()) == 100
    assert got == {"a": 51, "b": 30, "c": 19}
    # multi-row weights sum per group; budget conservation at awkward sizes
    w2 = spark.createDataFrame(
        [("x", 1), ("x", 1), ("y", 1), ("z", 1)], "src string, tokens long"
    )
    got2 = {r.src: r.allocated for r in apportion(w2, ["src"], "tokens", 10).collect()}
    assert sum(got2.values()) == 10 and got2["x"] == 5


def test_stratified_exact_split_sizes_and_determinism(spark):
    from datapipeline_spark.dataset.split import stratified_exact_split

    rows = [(chr(97 + i % 3), i) for i in range(1000)]
    rows += [(None, 1000 + i) for i in range(10)]  # a NULL stratum is a stratum
    df = spark.createDataFrame(rows, "stratum string, id long")
    fr = [("train", 800_000), ("val", 100_000), ("test", 100_000)]
    out = stratified_exact_split(df, ["stratum"], ["id"], fr)
    counts = {
        (r.stratum, r.split): r.n
        for r in out.groupBy("stratum", "split").agg(F.count("*").alias("n")).collect()
    }
    # strata: a=334, b=333, c=333 -> train floor(0.8n), val floor(0.9n)-train
    for s_, n in (("a", 334), ("b", 333), ("c", 333), (None, 10)):
        tr = n * 800000 // 1000000
        va = n * 900000 // 1000000 - tr
        assert counts[(s_, "train")] == tr
        assert counts[(s_, "val")] == va
        assert counts[(s_, "test")] == n - tr - va
    # repartitioning must not change a single assignment
    a = sorted(map(tuple, out.select("id", "stratum", "split").collect()))
    b2 = sorted(
        map(
            tuple,
            stratified_exact_split(df.repartition(13), ["stratum"], ["id"], fr)
            .select("id", "stratum", "split")
            .collect(),
        )
    )
    assert a == b2
    with pytest.raises(ValueError):
        stratified_exact_split(df, ["stratum"], ["id"], [("x", 1)])


def test_diff_in_diff_cells(spark):
    from datapipeline_spark.operators.stats import diff_in_diff

    rows = [
        (True, False, 100), (True, False, 200),   # treat pre mean 150
        (True, True, 400), (True, True, 600),     # treat post mean 500
        (False, False, 100),                      # control pre mean 100
        (False, True, 200), (False, True, 200),   # control post mean 200
    ]
    df = spark.createDataFrame(rows, "t boolean, p boolean, v long")
    r = diff_in_diff(df, "t", "p", "v").collect()[0]
    assert (r.n_t1, r.n_t0, r.n_c1, r.n_c0) == (2, 2, 2, 1)
    assert (r.mean_t1, r.mean_t0, r.mean_c1, r.mean_c0) == (500.0, 150.0, 200.0, 100.0)
    assert r.did == (500.0 - 150.0) - (200.0 - 100.0)
    # empty cell -> null means and null estimate
    r2 = diff_in_diff(df.filter("NOT (t AND p)"), "t", "p", "v").collect()[0]
    assert r2.mean_t1 is None and r2.did is None


def test_int_gram_matrix_exact(spark):
    from datapipeline_spark.similarity.gram import int_gram_matrix

    rows = [([1, 2, 3],), ([4, 5, 6],), ([-1, 0, 2],)]
    df = spark.createDataFrame(rows, "q array<int>")
    got = {(r.i, r.j): (r.n, r.s_ij, r.s_i, r.s_j, r.cov_num)
           for r in int_gram_matrix(df, "q", 3).collect()}
    assert len(got) == 6  # upper triangle of 3x3
    # cell (0,1): s01 = 1*2+4*5+(-1)*0 = 22; s0=4, s1=7 -> cov_num = 3*22-28=38
    assert got[(0, 1)] == (3, 22, 4, 7, 38)
    # diagonal (2,2): s22 = 9+36+4 = 49; s2=11 -> 3*49-121=26
    assert got[(2, 2)] == (3, 49, 11, 11, 26)
    # partition invariance: exact integers cannot drift
    got2 = {(r.i, r.j): r.cov_num
            for r in int_gram_matrix(df.repartition(5), "q", 3).collect()}
    assert got2 == {k: v[4] for k, v in got.items()}


def test_greedy_max_coverage_picks(spark):
    from datapipeline_spark.operators.cover import greedy_max_coverage

    rows = [
        ("a", 1), ("a", 2), ("a", 3),          # a covers 3
        ("b", 3), ("b", 4),                    # b adds 1 after a
        ("c", 4), ("c", 5), ("c", 6),          # c adds 3... but greedy: a(3) then c(+3) then b(0 new? 3,4 covered -> 0)
        ("d", 1),                              # d adds nothing ever
    ]
    df = spark.createDataFrame(rows, "src string, item long")
    got = [(r.rank, r.grp, r.gain, r.cum_covered)
           for r in greedy_max_coverage(spark, df, "src", "item", k=4).collect()]
    # round1 tie a(3) vs c(3) -> 'a'; round2 c adds {4,5,6}=3; round3 b adds 0 -> stop
    assert got == [(1, "a", 3, 3), (2, "c", 3, 6)]


def test_bucketed_value_rank_equals_global_window(spark):
    from pyspark.sql import Window
    from datapipeline_spark.operators.rank import bucketed_value_rank

    import random
    rng = random.Random(11)
    # every 50th value is NULL and ranks first, as in the naive window
    rows = [(None if i % 50 == 0 else rng.randrange(-50, 50), i) for i in range(500)]
    df = spark.createDataFrame(rows, "v long, id long")
    got = {r.id: r.pos for r in bucketed_value_rank(df, "v", ["id"], buckets=8).collect()}
    w = Window.orderBy("v", "id")
    want = {r.id: r.pos for r in df.withColumn("pos", F.row_number().over(w)).collect()}
    assert got == want
    # constant column: everything lands in bucket 0, ranks still exact
    cdf = spark.createDataFrame([(7, i) for i in range(20)], "v long, id long")
    cg = {r.id: r.pos for r in bucketed_value_rank(cdf, "v", ["id"]).collect()}
    assert sorted(cg.values()) == list(range(1, 21))


def test_apportion_zero_total_fails_loudly(spark):
    """All-zero weights have no proportional answer: the ANSI division
    surfaces as an error at action time rather than silent nulls."""
    from datapipeline_spark.operators.apportion import apportion

    df = spark.createDataFrame([("a", 0), ("b", 0)], "g string, w long")
    with pytest.raises(Exception):
        apportion(df, ["g"], "w", 10).collect()


def test_skyline_all_equal_points(spark):
    """Degenerate input: identical points are all mutually non-dominating."""
    from datapipeline_spark.operators.skyline import skyline_2d

    df = spark.createDataFrame([(5, 5)] * 4, "x long, y long")
    assert skyline_2d(df, "x", "y").count() == 4


def test_reservoir_n_larger_than_group(spark):
    from datapipeline_spark.operators.rank import reservoir_per_key

    df = spark.createDataFrame([(1, 1), (1, 2)], "k long, id long")
    assert reservoir_per_key(df, ["k"], ["id"], n=10).count() == 2


def test_ind_profile_containment_and_violation(spark):
    from datapipeline_spark.operators.ind import ind_profile

    child = spark.createDataFrame(
        [(1,), (2,), (2,), (3,), (None,)], "fk: int"
    )
    parent = spark.createDataFrame([(1,), (2,), (4,)], "pk: int")
    rows = {
        (r["dependent"], r["referenced"]): r
        for r in ind_profile(
            [
                ("child", child, "fk", "parent", parent, "pk"),
                ("parent", parent, "pk", "child", child, "fk"),
            ]
        ).collect()
    }
    fwd = rows[("child.fk", "parent.pk")]
    # distinct non-null fks {1,2,3}; {1,2} contained -> 2/3
    assert fwd["n_distinct"] == 3
    assert fwd["n_contained"] == 2
    assert fwd["holds"] == 0
    assert fwd["contained_ppm"] == (2 * 1_000_000) // 3
    rev = rows[("parent.pk", "child.fk")]
    assert (rev["n_distinct"], rev["n_contained"], rev["holds"]) == (3, 2, 0)


def test_ind_profile_exact_inclusion_holds(spark):
    from datapipeline_spark.operators.ind import ind_profile

    child = spark.createDataFrame([(1,), (1,), (2,)], "fk: int")
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk: int")
    r = ind_profile([("c", child, "fk", "p", parent, "pk")]).collect()[0]
    assert (r["holds"], r["contained_ppm"]) == (1, 1_000_000)


def test_target_encode_oof_subtraction_identity(spark):
    from datapipeline_spark.dataset.encode import target_encode_oof

    # cat 'a': fold0 -> targets (10, 20), fold1 -> (40,). cat 'b': fold0 only.
    df = spark.createDataFrame(
        [("a", 10, 0), ("a", 20, 0), ("a", 40, 1), ("b", 7, 0)],
        "cat: string, t: long, fold: int",
    )
    enc = {
        (r["cat"], r["fold"]): r
        for r in target_encode_oof(df, "cat", "t", "fold").collect()
    }
    # a/fold0 sees only fold1: mean 40; a/fold1 sees fold0: (10+20) DIV 2
    assert enc[("a", 0)]["enc"] == 40
    assert enc[("a", 0)]["oof_cnt"] == 1
    assert enc[("a", 1)]["enc"] == 15
    # b has all rows in fold0 -> no out-of-fold evidence -> NULL
    assert enc[("b", 0)]["enc"] is None
    assert enc[("b", 0)]["oof_cnt"] == 0


def test_target_encode_oof_never_sees_own_fold(spark):
    """Leakage property: perturbing every target in fold f must leave
    fold f's own encoding unchanged."""
    from datapipeline_spark.dataset.encode import target_encode_oof

    base = [("a", 10, 0), ("a", 20, 0), ("a", 30, 1), ("a", 50, 2)]
    bumped = [
        (c, t + 1000 if f == 1 else t, f) for (c, t, f) in base
    ]
    schema = "cat: string, t: long, fold: int"
    e1 = {
        (r["cat"], r["fold"]): r["enc"]
        for r in target_encode_oof(
            spark.createDataFrame(base, schema), "cat", "t", "fold"
        ).collect()
    }
    e2 = {
        (r["cat"], r["fold"]): r["enc"]
        for r in target_encode_oof(
            spark.createDataFrame(bumped, schema), "cat", "t", "fold"
        ).collect()
    }
    assert e1[("a", 1)] == e2[("a", 1)]  # own-fold bump invisible to itself
    assert e1[("a", 0)] != e2[("a", 0)]  # but visible to the other folds


def test_link_prediction_ra_scores(spark):
    from datapipeline_spark.operators.graph import link_prediction

    # path graph 1-2-3 plus 3-4: unconnected pairs sharing a neighbor:
    # (1,3) via 2 [deg 2], (2,4) via 3 [deg 2], (1,4) none shared directly
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src: long, dst: long"
    )
    rows = {
        (r["u"], r["v"]): r for r in link_prediction(edges).collect()
    }
    assert set(rows) == {(1, 3), (2, 4)}
    assert rows[(1, 3)]["common_neighbors"] == 1
    assert rows[(1, 3)]["ra_micros"] == 1_000_000 // 2
    assert rows[(2, 4)]["ra_micros"] == 1_000_000 // 2


def test_link_prediction_excludes_existing_and_caps_hubs(spark):
    from datapipeline_spark.operators.graph import link_prediction

    # triangle 1-2-3: every pair already linked -> no predictions;
    # star center 9 with leaves 10..13 exceeds cap 3 -> no wedges centered
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (9, 10), (9, 11), (9, 12), (9, 13)],
        "src: long, dst: long",
    )
    out = link_prediction(edges, max_degree=3).collect()
    assert out == []
    # raising the cap admits the star's leaf pairs (deg(9) = 4)
    out2 = {
        (r["u"], r["v"]): r["ra_micros"]
        for r in link_prediction(edges, max_degree=4).collect()
    }
    assert len(out2) == 6  # C(4,2) leaf pairs
    assert all(v == 1_000_000 // 4 for v in out2.values())


def test_skew_profile_exact_order_stats(spark):
    from datapipeline_spark.operators.skewprof import skew_profile

    # key 'a': freqs {x:1, y:1, z:8} -> n_rows 10, n_keys 3,
    # p50 = min f with cum >= ceil(1.5)=2 -> 1; p99 -> ceil(2.97)=3 -> 8
    rows = [("x",), ("y",)] + [("z",)] * 8
    df = spark.createDataFrame(rows, "a: string")
    r = skew_profile(df, ["a"], target_partitions=10).collect()[0]
    assert (r["n_rows"], r["n_keys"], r["max_freq"]) == (10, 3, 8)
    assert (r["p50_freq"], r["p95_freq"], r["p99_freq"]) == (1, 8, 8)
    assert r["avg_freq"] == 3
    assert r["hot_key_ppm"] == 800_000
    # hottest key holds 8 of 10 rows; balanced share at P=10 is 1 row
    # -> salt ceil(8*10/10) = 8
    assert r["suggested_salt"] == 8


def test_skew_profile_uniform_key_needs_no_salt(spark):
    from datapipeline_spark.operators.skewprof import skew_profile

    df = spark.createDataFrame([(i % 50,) for i in range(100)], "k: int")
    r = skew_profile(df, ["k"], target_partitions=8).collect()[0]
    assert (r["max_freq"], r["suggested_salt"]) == (2, 1)
    assert r["p50_freq"] == 2


def test_incremental_join_delta_matches_except_all(spark):
    from datapipeline_spark.operators.incremental import incremental_join_delta

    base_a = spark.createDataFrame([(1, "a1"), (2, "a2")], "k: int, av: string")
    delta_a = spark.createDataFrame([(2, "a3"), (3, "a4")], "k: int, av: string")
    base_b = spark.createDataFrame(
        [(1, "b1"), (2, "b2"), (3, "b3"), (2, "b4")], "k: int, bv: string"
    )
    delta_b = spark.createDataFrame([(1, "b5"), (9, "b6")], "k: int, bv: string")
    got = sorted(
        (r["k"], r["av"], r["bv"])
        for r in incremental_join_delta(
            base_a, delta_a, base_b, delta_b, on=["k"]
        ).collect()
    )
    want = sorted(
        (r["k"], r["av"], r["bv"])
        for r in base_a.unionByName(delta_a)
        .join(base_b.unionByName(delta_b), "k")
        .exceptAll(base_a.join(base_b, "k"))
        .collect()
    )
    # multiset equality incl. duplicate join rows (k=2 matches b2 AND b4)
    assert got == want
    assert len(got) == 4  # (2,a3,b2),(2,a3,b4),(3,a4,b3),(1,a1,b5)


def test_incremental_join_delta_empty_deltas(spark):
    from datapipeline_spark.operators.incremental import incremental_join_delta

    a = spark.createDataFrame([(1, "x")], "k: int, av: string")
    b = spark.createDataFrame([(1, "y")], "k: int, bv: string")
    empty_a = a.filter(F.lit(False))
    empty_b = b.filter(F.lit(False))
    assert (
        incremental_join_delta(a, empty_a, b, empty_b, on=["k"]).count() == 0
    )


def test_span_corrupt_structure_and_roundtrip(spark):
    from datapipeline_spark.text.corrupt import span_corrupt

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(30))) for i in range(20)],
        "doc_id: long, text: string",
    )
    out = span_corrupt(docs, rate_pct=30).collect()
    assert len(out) == 20
    for r in out:
        assert r["n_tokens"] == 30
        assert 0 <= r["n_masked"] <= 30
        assert r["n_spans"] <= r["n_masked"]
        # input sentinels are exactly 0..n_spans-1, target closes with n_spans
        import re as _re

        in_ids = [int(m) for m in _re.findall(r"<extra_id_(\d+)>", r["input_text"])]
        assert in_ids == list(range(r["n_spans"]))
        tgt_ids = [int(m) for m in _re.findall(r"<extra_id_(\d+)>", r["target_text"])]
        assert tgt_ids == list(range(r["n_spans"] + 1))
        # every original token appears exactly once across input+target
        toks = (r["input_text"] + " " + r["target_text"]).split()
        kept = [t for t in toks if not t.startswith("<extra_id_")]
        assert sorted(kept) == sorted(f"w{r['doc_id']}_{j}" for j in range(30))


def test_span_corrupt_zero_rate_identity(spark):
    from datapipeline_spark.text.corrupt import span_corrupt

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma")], "doc_id: long, text: string"
    )
    r = span_corrupt(docs, rate_pct=0).collect()[0]
    assert r["n_masked"] == 0 and r["n_spans"] == 0
    assert r["input_text"] == "alpha beta gamma"
    assert r["target_text"] == "<extra_id_0>"


def test_span_corrupt_partition_invariant(spark):
    from datapipeline_spark.text.corrupt import span_corrupt

    docs = spark.createDataFrame(
        [(i, " ".join(f"t{j}" for j in range(50))) for i in range(10)],
        "doc_id: long, text: string",
    )
    a = {r["doc_id"]: r["input_text"] for r in span_corrupt(docs).collect()}
    b = {
        r["doc_id"]: r["input_text"]
        for r in span_corrupt(docs.repartition(7)).collect()
    }
    assert a == b


def test_poisson_weight_distribution_and_determinism(spark):
    from datapipeline_spark.operators.bootstrap import (
        poisson_cdf_micros,
        poisson_weight,
    )

    th = poisson_cdf_micros()
    # thresholds are the floor-micro Poisson(1) CDF: known first values
    assert th[0] == 367879 and th[1] == 735758
    df = spark.range(1_000_000).select(F.col("id").cast("long").alias("u"))
    got = {
        r["w"]: r["c"]
        for r in df.select(poisson_weight(F.col("u"), th).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    # the full uniform grid hits each CDF bucket EXACTLY threshold-diff times
    assert got[0] == th[0]
    assert got[1] == th[1] - th[0]
    assert got[2] == th[2] - th[1]
    assert got[len(th)] == 1_000_000 - th[-1]  # the truncation tail


def test_bootstrap_ci_brackets_point_and_is_deterministic(spark):
    from datapipeline_spark.operators.bootstrap import bootstrap_mean_ci

    rows = [(i, 100 + (i * 37) % 50) for i in range(500)]
    df = spark.createDataFrame(rows, "k: long, v: long")
    r1 = bootstrap_mean_ci(df, "k", "v", n_replicates=60).collect()[0]
    r2 = bootstrap_mean_ci(
        df.repartition(11), "k", "v", n_replicates=60
    ).collect()[0]
    assert r1.asDict() == r2.asDict()  # hash-driven: partitioning-blind
    assert r1["ci_lo"] <= r1["mean_point"] <= r1["ci_hi"]
    assert r1["n_replicates"] == 60
    # CI is tight around the true mean for a well-behaved value column
    assert r1["ci_hi"] - r1["ci_lo"] < 20


def test_contrastive_pairs_semantics(spark):
    from datapipeline_spark.text.contrastive import contrastive_pairs

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(40))) for i in range(30)],
        "doc_id: long, text: string",
    )
    out = contrastive_pairs(docs, chunk_size=8, buckets=4).collect()
    assert len(out) > 0
    for r in out:
        # positive is the NEXT chunk of the same doc
        assert r["pos_chunk_idx"] == r["chunk_idx"] + 1
        # negative comes from a different document
        assert r["neg_doc_id"] != r["doc_id"]


def test_contrastive_pairs_deterministic_across_partitions(spark):
    from datapipeline_spark.text.contrastive import contrastive_pairs

    docs = spark.createDataFrame(
        [(i, " ".join(f"t{i}_{j}" for j in range(30))) for i in range(20)],
        "doc_id: long, text: string",
    )
    key = lambda r: (r["doc_id"], r["chunk_idx"])  # noqa: E731
    a = {key(r): (r["neg_doc_id"], r["neg_chunk_idx"])
         for r in contrastive_pairs(docs, chunk_size=8).collect()}
    b = {key(r): (r["neg_doc_id"], r["neg_chunk_idx"])
         for r in contrastive_pairs(docs.repartition(9), chunk_size=8).collect()}
    assert a == b


def test_rendezvous_minimal_movement_law(spark):
    """Scaling S -> S+1 must move rows ONLY into the new shard (~N/(S+1));
    every surviving shard's moved_in is exactly zero — the rendezvous
    property the resharding plan is costed on."""
    from datapipeline_spark.operators.shard import resharding_report

    df = spark.range(5000).select(F.col("id").alias("k"))
    rows = {r["shard"]: r for r in resharding_report(df, "k", 8, 9).collect()}
    assert set(rows) == set(range(9))
    for s in range(8):
        assert rows[s]["moved_in"] == 0
    new = rows[8]
    assert new["n_before"] == 0
    assert new["moved_in"] == new["n_after"] > 0
    # expected ~ N/9 with generous tolerance
    assert abs(new["n_after"] - 5000 / 9) < 5000 / 9 * 0.5
    # conservation
    assert sum(r["n_after"] for r in rows.values()) == 5000
    assert sum(r["n_before"] for r in rows.values()) == 5000


def test_rendezvous_assign_balanced_and_deterministic(spark):
    from datapipeline_spark.operators.shard import rendezvous_assign

    df = spark.range(8000).select(F.col("id").alias("k"))
    counts = {
        r["shard"]: r["c"]
        for r in rendezvous_assign(df, "k", 10)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert set(counts) == set(range(10))
    assert max(counts.values()) < 2.0 * min(counts.values())  # roughly uniform
    a = rendezvous_assign(df, "k", 10).collect()
    b = rendezvous_assign(df.repartition(7), "k", 10).collect()
    assert {r["k"]: r["shard"] for r in a} == {r["k"]: r["shard"] for r in b}


def test_dual_mode_hashing_balance_and_movement(spark, monkeypatch):
    """functions/hashing.py dual modes: the fast (xxhash64) and oracle
    (md5) score families must BOTH give near-uniform rendezvous placement
    and both obey the minimal-movement law exactly; HLL register states
    must give estimates of comparable accuracy in both modes."""
    from datapipeline_spark.operators.shard import rendezvous_assign, resharding_report
    from datapipeline_spark.sketch.hll import corrected_estimate, hll_estimate, hll_registers

    df = spark.range(8000).select(F.col("id").alias("k"))
    for mode in ("oracle", "fast"):
        counts = [
            r["c"]
            for r in rendezvous_assign(df, "k", 10, hash_mode=mode)
            .groupBy("shard")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        ]
        assert len(counts) == 10
        # joint-independence balance bar: within ~3 sigma of uniform
        # (the one-hash scramble family failed this at 1.8x off-uniform)
        assert max(counts) < 1.25 * 800 and min(counts) > 0.75 * 800, (mode, counts)
        rows = {
            r["shard"]: r
            for r in resharding_report(df, "k", 8, 9, hash_mode=mode).collect()
        }
        assert all(rows[s]["moved_in"] == 0 for s in range(8)), mode
        assert rows[8]["moved_in"] == rows[8]["n_after"] > 0

    d = spark.range(3000).select(F.col("id").alias("key"))
    regs = {}
    for mode in ("oracle", "fast"):
        monkeypatch.setenv("SPARK_GRAFT_HASH_MODE", mode)
        est = hll_estimate(hll_registers(d, "key")).collect()[0]
        c = corrected_estimate(est["n_registers"], est["scaled_harmonic"])
        assert abs(c - 3000) < 3000 * 0.15, (mode, c)
        regs[mode] = sorted(map(tuple, hll_registers(d, "key").collect()))
    # the two modes are DIFFERENT hash families: register states differ
    assert regs["oracle"] != regs["fast"]


def test_hash_mode_env_resolution(spark, monkeypatch):
    """Queries resolve $SPARK_GRAFT_HASH_MODE at construction: oracle by
    default (the correctness contract), fast under the bench env."""
    import pyspark.sql.functions as SF

    from datapipeline_spark.functions.hashing import hash60, resolve_hash_mode

    monkeypatch.delenv("SPARK_GRAFT_HASH_MODE", raising=False)
    assert resolve_hash_mode(None) == "oracle"
    monkeypatch.setenv("SPARK_GRAFT_HASH_MODE", "fast")
    assert resolve_hash_mode(None) == "fast"
    assert resolve_hash_mode("oracle") == "oracle"  # explicit arg wins
    import pytest as _pytest

    with _pytest.raises(ValueError):
        resolve_hash_mode("bogus")
    # fast hash60 stays in [0, 2^60): safe for the HLL register split
    row = spark.range(5).select(hash60(SF.col("id")).alias("h")).collect()
    assert all(0 <= r["h"] < (1 << 60) for r in row)


def test_multi_value_rank_matches_per_metric_ranks(spark):
    """The fused melt/rank operator must be bit-identical to three
    independent bucketed_value_rank calls (same buckets, same total
    order), including duplicate-heavy, negative and NULL values."""
    from datapipeline_spark.operators.rank import bucketed_value_rank, multi_value_rank

    rows = [(i, None if i % 17 == 0 else (i * 7) % 13 - 6, (i * 3) % 5, i % 2) for i in range(200)]
    df = spark.createDataFrame(rows, "id: long, a: long, b: long, c: long")
    long = multi_value_rank(df, ["a", "b", "c"], ["id"], buckets=8)
    got = {
        (r["id"], r["metric"]): r["pos"] for r in long.collect()
    }
    assert len(got) == 3 * len(rows)
    for i, col in enumerate(["a", "b", "c"]):
        want = {
            r["id"]: r["pos"]
            for r in bucketed_value_rank(df, col, ["id"], buckets=8).collect()
        }
        assert {k[0]: v for k, v in got.items() if k[1] == i} == want, col


class TestEditDistanceJoins:
    """The exact edit-distance join, SymDelete (deletion neighborhoods,
    k<=2 — immune to shared constant prefixes), must equal the naive
    blocked self-join bit-for-bit."""

    def _brute(self, df, k):
        a = df.selectExpr("blk", "id AS id_a", "s AS sa")
        b = df.selectExpr("blk", "id AS id_b", "s AS sb")
        return (
            a.join(b, "blk")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("dist", F.levenshtein("sa", "sb", k).cast("long"))
            .filter(F.col("dist") >= 0)
            .select("blk", "id_a", "id_b", "dist")
        )

    def _random_df(self, spark, seed):
        import random

        rng = random.Random(seed)
        rows = [
            (i, i % 3, "".join(rng.choice("abc") for _ in range(rng.randint(0, 12))))
            for i in range(300)
        ]
        return spark.createDataFrame(rows, "id: long, blk: int, s: string")

    def test_symdelete_equals_brute_including_empty_strings(self, spark):
        from datapipeline_spark.dedup.symdelete import deletion_join

        df = self._random_df(spark, 11)
        got = sorted(map(tuple, deletion_join(df, "id", "s", ["blk"]).collect()))
        want = sorted(map(tuple, self._brute(df, 2).collect()))
        assert got == want

    def test_symdelete_null_blocks_never_pair(self, spark):
        """NULL block keys match nothing under the naive join's equality
        semantics; the operator must drop them at the source, not rely on
        a downstream re-join happening to null-drop the pairs (round-7
        ADVICE — a coalesce-keyed refactor of the verification join would
        otherwise change results with no test failing)."""
        from datapipeline_spark.dedup.symdelete import deletion_join

        rows = [
            (0, None, "abc"),
            (1, None, "abd"),  # would pair with id 0 if NULLs grouped
            (2, 1, "xyz"),
            (3, 1, "xya"),
        ]
        df = spark.createDataFrame(rows, "id: long, blk: int, s: string")
        got = sorted(
            map(tuple, deletion_join(df, "id", "s", ["blk"]).collect())
        )
        want = sorted(map(tuple, self._brute(df, 2).collect()))
        assert got == want == [(1, 2, 3, 1)]

    def test_symdelete_beats_constant_prefix_blocks(self, spark):
        """The scenario that sent PassJoin quadratic: strings sharing a
        long constant prefix. The deletion join's candidate count must
        stay near the true-pair count, not the block-pair count."""
        from datapipeline_spark.dedup.symdelete import deletion_join

        rows = [(i, 0, f"Customer#{i:09d}") for i in range(500)]
        df = spark.createDataFrame(rows, "id: long, blk: int, s: string")
        got = sorted(map(tuple, deletion_join(df, "id", "s", ["blk"]).collect()))
        want = sorted(map(tuple, self._brute(df, 2).collect()))
        assert got == want
