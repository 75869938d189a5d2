"""Unit tests for the extension operators (dedup / similarity / text /
multimodal) on hand-built fixtures with known answers."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from pagerank_giraph_vs_mapreduce_spark.operators.dedup import (
    banded_keys,
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    lsh_candidate_pairs_star,
    minhash_near_dups,
    minhash_signatures,
    shingles,
    simhash,
)
from pagerank_giraph_vs_mapreduce_spark.operators.multimodal import (
    extract_features,
    with_binary_payload,
)
from pagerank_giraph_vs_mapreduce_spark.operators.similarity import cosine_topk
from pagerank_giraph_vs_mapreduce_spark.operators.text import (
    language_id,
    token_stats,
)


def docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_dedup(spark):
    d = docs_df(spark, [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa")])
    out = {r["keep_id"]: r["copies"] for r in exact_dedup(d, ["text"], "doc_id").collect()}
    assert out == {1: 3, 2: 1}


def test_shingles_dedup_and_short_text(spark):
    d = docs_df(spark, [(1, "abcdef"), (2, "abc")])  # doc 2 shorter than 5
    sh = shingles(d, "doc_id", "text", 5).collect()
    ids = {r["id"] for r in sh}
    assert ids == {1}
    assert len(sh) == 2  # 'abcde', 'bcdef'


def test_minhash_identical_docs_same_signature(spark):
    t = "the quick brown fox jumps over the lazy dog"
    d = docs_df(spark, [(1, t), (2, t), (3, "completely different text here")])
    sigs = {r["id"]: tuple(r[f"mh{j}"] for j in range(12))
            for r in minhash_signatures(d, "doc_id", "text").collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_minhash_near_dups_finds_planted_pair(spark):
    base = "spark catalyst optimizer rewrites the logical plan into physical stages"
    d = docs_df(
        spark,
        [
            (1, base),
            (2, base),  # exact copy → jaccard 1.0
            (3, base.replace("physical", "bodily")),  # near copy
            (4, "unrelated content about cooking pasta with plenty of butter"),
        ],
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_near_dups(d, "doc_id", "text", threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == pytest.approx(1.0)
    assert (1, 4) not in pairs
    assert pairs[(1, 3)] > 0.5


def test_jaccard_all_pairs(spark):
    d = docs_df(spark, [(1, "abcdefgh"), (2, "abcdefgh"), (3, "zzzzzzzz")])
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           jaccard_pairs(shingles(d, "doc_id", "text")).collect()}
    assert out[(1, 2)] == pytest.approx(1.0)
    assert (1, 3) not in out  # no shared shingles at all


def planted_corpus(spark):
    """40 random 25-word docs, and 16 copies of them with 1-6 words
    substituted: near-duplicate pairs across a range of Jaccard values."""
    rng = random.Random(7)
    vocab = [f"w{i:03d}" for i in range(300)]
    rows = [(i, [rng.choice(vocab) for _ in range(25)]) for i in range(40)]
    for k in range(16):
        words = list(rows[k][1])
        for _ in range(1 + k % 6):
            words[rng.randrange(len(words))] = rng.choice(vocab)
        rows.append((100 + k, words))
    return docs_df(spark, [(i, " ".join(w)) for i, w in rows])


@pytest.mark.parametrize("star", [False, True])
def test_minhash_near_dups_equals_exploded_verify(spark, star):
    """The fused pipeline's array_intersect verify returns exactly the
    pairs and doubles of jaccard_pairs over the exploded shingle table,
    routed through the same LSH candidates."""
    d = planted_corpus(spark)
    n_hashes, bands, threshold = 24, 4, 0.5
    gen = lsh_candidate_pairs_star if star else lsh_candidate_pairs
    sigs = minhash_signatures(d, "doc_id", "text", n_hashes)
    cands = gen(sigs, bands, n_hashes // bands)
    want = sorted(
        jaccard_pairs(shingles(d, "doc_id", "text"), cands)
        .filter(F.col("jaccard") >= threshold)
        .collect()
    )
    got = sorted(
        minhash_near_dups(
            d, "doc_id", "text", threshold, n_hashes, bands=bands, star=star
        )
        .select("id_a", "id_b", "jaccard")
        .collect()
    )
    assert len(want) >= 8
    assert got == want


def test_banded_keys_equals_union_form(spark):
    """One explode over the signature rows yields the rows of one select
    per band, unioned."""
    sigs = minhash_signatures(planted_corpus(spark), "doc_id", "text", 24)
    bands, rows_per_band = 4, 6
    union = None
    for b in range(bands):
        cols = [
            F.col(f"mh{b * rows_per_band + r}").cast("string")
            for r in range(rows_per_band)
        ]
        part = sigs.select(
            "id", F.lit(b).alias("band"), F.concat_ws("_", *cols).alias("bkey")
        )
        union = part if union is None else union.unionAll(part)
    got = banded_keys(sigs, bands, rows_per_band)
    assert got.schema.simpleString() == union.schema.simpleString()
    assert sorted(got.collect()) == sorted(union.collect())


def test_simhash_identical_docs_equal(spark):
    t = "minhash and simhash agree on identical inputs"
    d = docs_df(spark, [(1, t), (2, t)])
    out = {r["id"]: r["simhash"] for r in simhash(d, "doc_id", "text").collect()}
    assert out[1] == out[2]
    assert 0 <= out[1] < 2**31


def test_cosine_topk_self_is_first(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [-1.0, 0.0, 0.0]),
        ],
        "vec_id bigint, embedding array<float>",
    )
    q = emb.filter(F.col("vec_id") == 0)
    top = cosine_topk(emb, q, k=3).collect()
    assert [r["vec_id"] for r in top] == [0, 1, 2]
    assert top[0]["cos_sim"] == pytest.approx(1.0)


def test_language_id_markers(spark):
    d = docs_df(
        spark,
        [
            (1, "the cat and the dog and the bird"),
            (2, "el gato y los perros y el pajaro"),
            (3, "xyzzy plugh"),
        ],
    )
    out = {r["doc_id"]: r["lang_pred"] for r in language_id(d, "doc_id", "text").collect()}
    assert out[1] == "en"
    assert out[2] == "es"
    assert out[3] == "unknown"


def test_token_stats(spark):
    d = docs_df(spark, [(1, "one two three")])
    r = token_stats(d, "doc_id", "text").collect()[0]
    assert r["n_tokens"] == 3
    assert r["n_chars_measured"] == 13
    assert r["avg_token_len"] == pytest.approx(11 / 3, abs=1e-9)


def test_multimodal_plumbing(spark):
    d = docs_df(spark, [(1, "AB"), (2, "")])
    media = with_binary_payload(d)
    assert dict(media.dtypes)["payload"] == "binary"
    feats = {r["doc_id"]: r for r in extract_features(media).collect()}
    assert feats[1]["n_bytes"] == 2
    assert feats[1]["first_byte"] == 65
    assert feats[1]["byte_mean"] == pytest.approx((65 + 66) / 2)
    assert feats[2]["n_bytes"] == 0
    assert feats[2]["first_byte"] == -1


def _sig_df(spark, sigs):
    return spark.createDataFrame(
        [(i, int(s)) for i, s in enumerate(sigs)], "id bigint, simhash long"
    )


def test_simhash_multiprobe_recall_high_block_flips(spark):
    """Pairs whose differing bits all land in the high bits — which a
    single high-block join misses — must be found (pigeonhole probing is
    exact for hamming <= 7)."""
    from pagerank_giraph_vs_mapreduce_spark.operators.dedup import (
        simhash_pairs_from_sigs,
    )

    base = 0b1010110011100101101011001110010  # arbitrary 31-bit value
    flips_high = (1 << 30) | (1 << 28) | (1 << 25) | (1 << 20) | (1 << 17) | (1 << 16)
    flips_split = (1 << 30) | (1 << 22) | (1 << 14) | (1 << 7) | (1 << 3) | 1
    far = base ^ 0x7FFF00FF  # hamming 20 — must NOT be reported
    sigs = [base, base ^ flips_high, base ^ flips_split, far]
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs_from_sigs(_sig_df(spark, sigs), 6).collect()
    }
    assert got[(0, 1)] == 6
    assert got[(0, 2)] == 6
    assert (0, 3) not in got
    assert (1, 3) not in got


def test_simhash_multiprobe_recall_exhaustive_random(spark):
    """Random signatures with planted <=6-bit perturbations: blocking must
    equal the brute-force all-pairs answer exactly."""
    import itertools
    import random

    from pagerank_giraph_vs_mapreduce_spark.operators.dedup import (
        simhash_pairs_from_sigs,
    )

    rng = random.Random(7)
    sigs = []
    for _ in range(40):
        s = rng.getrandbits(31)
        sigs.append(s)
        h = rng.randint(0, 6)
        flip = 0
        for b in rng.sample(range(31), h):
            flip |= 1 << b
        sigs.append(s ^ flip)
    expect = {
        (i, j): bin(sigs[i] ^ sigs[j]).count("1")
        for i, j in itertools.combinations(range(len(sigs)), 2)
        if bin(sigs[i] ^ sigs[j]).count("1") <= 6
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs_from_sigs(_sig_df(spark, sigs), 6).collect()
    }
    assert got == expect


def test_simhash_multiprobe_rejects_radius_beyond_bound(spark):
    from pagerank_giraph_vs_mapreduce_spark.operators.dedup import (
        simhash_pairs_from_sigs,
    )

    with pytest.raises(ValueError):
        simhash_pairs_from_sigs(_sig_df(spark, [0, 1]), max_hamming=8)


def test_ann_recall_operating_point(spark, sf_oracle_dir):
    """The declared multi-table LSH operating point must hold on the
    oracle-scale data: mean recall@10 >= 0.9 while actually pruning
    (candidate set < full table for at least one query)."""
    from pagerank_giraph_vs_mapreduce_spark.plans.similarity_queries import (
        ANN_QIDS,
        MT_BITS,
        MT_PLANE_BASE,
        MT_TABLES,
        sim_ann_recall,
    )
    from pagerank_giraph_vs_mapreduce_spark.operators.similarity import (
        multitable_buckets,
    )
    from pagerank_giraph_vs_mapreduce_spark.sources.tables import load_table

    sf = sf_oracle_dir
    rows = sim_ann_recall(spark, sf).collect()
    recalls = {r["qid"]: r["recall_at_k"] for r in rows}
    assert set(recalls) == set(ANN_QIDS)
    assert sum(recalls.values()) / len(recalls) >= 0.9

    emb = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    planes = emb.filter(
        (F.col("vec_id") >= MT_PLANE_BASE)
        & (F.col("vec_id") < MT_PLANE_BASE + MT_BITS * MT_TABLES)
    ).select((F.col("vec_id") - MT_PLANE_BASE).alias("plane_id"), "embedding")
    bk = multitable_buckets(emb, planes, MT_BITS)
    qbk = bk.filter(F.col("vec_id").isin(*ANN_QIDS)).select(
        F.col("vec_id").alias("qid"), "tbl", "bucket"
    )
    cand_sizes = (
        bk.join(qbk, ["tbl", "bucket"])
        .select("qid", "vec_id")
        .distinct()
        .groupBy("qid")
        .count()
        .collect()
    )
    assert all(r["count"] < n for r in cand_sizes)


def test_simhash64_multiprobe_recall(spark):
    """62-bit signatures: planted <=6-bit perturbations across the full
    width (including bits >= 31) must all be found."""
    import itertools
    import random

    from pagerank_giraph_vs_mapreduce_spark.operators.dedup import (
        SIMHASH64_BITS,
        simhash_pairs_from_sigs,
    )

    rng = random.Random(11)
    sigs = []
    for _ in range(30):
        s = rng.getrandbits(62)
        sigs.append(s)
        flip = 0
        for b in rng.sample(range(62), rng.randint(0, 6)):
            flip |= 1 << b
        sigs.append(s ^ flip)
    expect = {
        (i, j): bin(sigs[i] ^ sigs[j]).count("1")
        for i, j in itertools.combinations(range(len(sigs)), 2)
        if bin(sigs[i] ^ sigs[j]).count("1") <= 6
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs_from_sigs(
            _sig_df(spark, sigs), 6, bits=SIMHASH64_BITS
        ).collect()
    }
    assert got == expect


def test_simhash_wide_identical_docs_equal(spark):
    from pagerank_giraph_vs_mapreduce_spark.operators.dedup import simhash_wide

    t = "wide simhash agrees on identical inputs too"
    d = docs_df(spark, [(1, t), (2, t)])
    out = {r["id"]: r["simhash"] for r in simhash_wide(d, "doc_id", "text").collect()}
    assert out[1] == out[2]
    assert 0 <= out[1] < 2**62


def test_kmeans_fit_recovers_clusters(spark):
    """Two tight clusters + off-center init: two Lloyd iterations must
    move the centroids to the cluster means."""
    from pagerank_giraph_vs_mapreduce_spark.operators.similarity import kmeans_fit

    rows = []
    for i in range(10):
        rows.append((i, [10.0 + (i % 3) * 0.1, 0.0]))
        rows.append((100 + i, [0.0, 10.0 + (i % 3) * 0.1]))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    init = spark.createDataFrame(
        [(0, [8.0, 1.0]), (1, [1.0, 8.0])],
        "centroid_id bigint, embedding array<float>",
    )
    fit = {r["centroid_id"]: r["embedding"] for r in kmeans_fit(emb, init, iters=2).collect()}
    assert fit[0][0] == pytest.approx(10.09, abs=1e-6)
    assert fit[0][1] == pytest.approx(0.0, abs=1e-9)
    assert fit[1][1] == pytest.approx(10.09, abs=1e-6)
    assert fit[1][0] == pytest.approx(0.0, abs=1e-9)


def test_ivf_nprobe_widens_candidates_and_recovers_brute_force(spark):
    from pagerank_giraph_vs_mapreduce_spark.operators.similarity import (
        ivf_cosine_topk,
        ivf_query_cells,
    )

    # Two well-separated cells: x-axis vectors and y-axis vectors.
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.1, 0.9]),
            (3, [0.0, 1.0]),
        ],
        "vec_id bigint, embedding array<float>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "centroid_id bigint, embedding array<float>",
    )
    q = emb.filter(F.col("vec_id") == 0)

    cells = ivf_query_cells(q, cents, nprobe=2).collect()[0]["qcells"]
    assert cells == [0, 1]  # nearest cell first

    # nprobe=1 sees only the x-cell; y-axis vectors are unreachable.
    got1 = {r["vec_id"] for r in ivf_cosine_topk(emb, q, cents, k=4, nprobe=1).collect()}
    assert got1 == {0, 1}
    # nprobe = n_cells recovers brute force.
    got2 = [r["vec_id"] for r in ivf_cosine_topk(emb, q, cents, k=4, nprobe=2).collect()]
    brute = [r["vec_id"] for r in cosine_topk(emb, q, k=4).collect()]
    assert got2 == brute
