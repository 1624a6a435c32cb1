"""Golden tests for text/vector expression functions and dedup operators."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from ecom_churn_lakehouse_spark.dedup import (
    exact_duplicate_groups,
    doc_shingles,
    doc_tokens,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash_candidate_pairs,
    simhash_signatures,
)
from ecom_churn_lakehouse_spark.functions.text import (
    lang_guess_col,
    token_count_col,
)
from ecom_churn_lakehouse_spark.functions.vectors import cosine


def test_token_count(spark):
    df = spark.createDataFrame([Row(text="  a b   c  "), Row(text="one")])
    out = [r["n"] for r in df.select(token_count_col(F.col("text")).alias("n")).collect()]
    assert out == [3, 1]


def test_lang_guess(spark):
    df = spark.createDataFrame(
        [
            Row(text="the cat and the hat of doom"),
            Row(text="der hund und das haus"),
            Row(text="xyzzy plugh"),
        ]
    )
    out = [r["g"] for r in df.select(lang_guess_col(F.col("text")).alias("g")).collect()]
    assert out == ["en", "de", "unknown"]


def test_cosine_similarity_exact(spark):
    df = spark.createDataFrame(
        [Row(a=[1.0, 0.0], b=[1.0, 0.0]), Row(a=[1.0, 0.0], b=[0.0, 2.0])]
    )
    sims = [
        round(r["s"], 9)
        for r in df.select(cosine("a", "b", dim=2).alias("s")).collect()
    ]
    assert sims == [1.0, 0.0]


def _corpus(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    return spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text=base),                      # exact dup of 1
            Row(doc_id=3, text=base + " extra token"),     # near dup
            Row(doc_id=4, text="completely different words here entirely"),
        ]
    )


def test_exact_dedup(spark):
    groups = exact_duplicate_groups(_corpus(spark)).collect()
    assert len(groups) == 1
    assert groups[0]["canonical_doc_id"] == 1 and groups[0]["n_copies"] == 2


def test_shingles_and_minhash_lsh(spark):
    sh = doc_shingles(_corpus(spark))
    # doc 1: 12 tokens → 10 distinct-ish 3-gram shingles
    n1 = sh.filter("doc_id = 1").count()
    assert n1 > 0
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             lsh_candidate_pairs(minhash_signatures(sh)).collect()}
    assert (1, 2) in pairs            # exact dups always collide
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup shares bands
    assert (1, 4) not in pairs        # unrelated docs don't


def test_simhash_near_dup(spark):
    toks = doc_tokens(_corpus(spark))
    sigs = simhash_signatures(toks)
    by_id = {r["doc_id"]: r["simhash"] for r in sigs.collect()}
    assert by_id[1] == by_id[2]  # identical token sets → identical signature
    pairs = simhash_candidate_pairs(sigs, max_hamming=6).collect()
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in pairs}
    assert got.get((1, 2)) == 0

def test_embedding_neardup_pairs(spark):
    # 4 vectors: 0 and 1 identical, 2 a small perturbation of 0,
    # 3 orthogonal-ish. Planes = the vectors themselves (deterministic).
    from ecom_churn_lakehouse_spark.similarity.ann import (
        banded_sign_buckets,
        neardup_pairs,
    )

    vecs = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.2, -0.3, 0.5]),
            Row(vec_id=1, embedding=[1.0, 0.2, -0.3, 0.5]),
            Row(vec_id=2, embedding=[1.0, 0.21, -0.29, 0.5]),
            Row(vec_id=3, embedding=[-0.2, 1.0, 0.5, -0.9]),
        ]
    )
    planes = vecs.select(F.col("vec_id").alias("plane_id"), "embedding")
    banded = banded_sign_buckets(vecs, planes, rows_per_band=2)
    # 4 planes / 2 per band → 2 bands per vector
    assert banded.groupBy("vec_id").count().filter("count <> 2").count() == 0
    got = {
        (r["doc_a"], r["doc_b"]): r["cosine_sim"]
        for r in neardup_pairs(banded, vecs, threshold=0.95, dim=4).collect()
    }
    assert got.get((0, 1)) == 1.0          # exact dup
    assert (0, 2) in got and got[(0, 2)] > 0.99   # near dup
    assert all(3 not in p for p in got)    # unrelated vector never pairs


def test_banded_buckets_evaluate_the_plane_fold_once(spark):
    # A nullable bucket let the optimizer infer isnotnull(bucket) from
    # the band join and push it into the bucketing cross join's
    # condition, evaluating the nested HOF twice per (vector, band).
    from ecom_churn_lakehouse_spark.similarity.ann import (
        banded_sign_buckets,
        neardup_pairs,
    )

    vecs = spark.createDataFrame(
        [(0, [1.0, 0.2, -0.3, 0.5]), (1, [1.0, 0.2, -0.3, 0.5]), (2, None)],
        "vec_id long, embedding array<double>",
    )
    planes = vecs.filter("vec_id < 2").select(F.col("vec_id").alias("plane_id"), "embedding")
    banded = banded_sign_buckets(vecs, planes, rows_per_band=1)
    plan = neardup_pairs(banded, vecs, 0.95, dim=4)._jdf.queryExecution().optimizedPlan()
    assert "isnotnull(aggregate(" not in plan.toString()
    # a NULL vector still lands in bucket 0 of every band, as before
    assert {(r["band"], r["bucket"]) for r in banded.filter("vec_id = 2").collect()} == {
        (0, 0), (1, 0)}

def test_bpe_token_count(spark):
    from ecom_churn_lakehouse_spark.functions.text import bpe_token_count_col

    df = spark.createDataFrame(
        [Row(text="don't stop 123 foo-bar!"), Row(text="a")]
    )
    out = [
        r["n"] for r in df.select(bpe_token_count_col(F.col("text")).alias("n")).collect()
    ]
    # don / 't / stop / 123 / foo / - / bar / !  → 8
    assert out == [8, 1]


def test_shingle_arrays_equal_exploded_relation(spark):
    # The array representation (perf path) and the exploded relation
    # (PPJoin path) must describe the SAME shingle sets.
    from ecom_churn_lakehouse_spark.dedup.shingles import (
        doc_shingle_arrays,
        doc_shingles,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    for n in (3, 8):
        exploded = {
            (r["doc_id"], r["shingle"]) for r in doc_shingles(docs, n=n).collect()
        }
        from_arrays = {
            (r["doc_id"], r["s"])
            for r in doc_shingle_arrays(docs, n=n)
            .select("doc_id", F.explode("shingles").alias("s"))
            .collect()
        }
        assert exploded == from_arrays and len(exploded) > 0


def test_minhash_array_signatures_equal_exploded(spark):
    # Zero-shuffle array signatures must equal the exploded groupBy form.
    from ecom_churn_lakehouse_spark.dedup.minhash import (
        minhash_signatures,
        minhash_signatures_from_arrays,
        with_shingle_hashes,
    )
    from ecom_churn_lakehouse_spark.dedup.shingles import (
        doc_shingle_arrays,
        doc_shingles,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    cols = [f"mh{i}" for i in range(16)] + ["n_sh"]
    a = {
        r["doc_id"]: tuple(r[c] for c in cols)
        for r in minhash_signatures_from_arrays(
            with_shingle_hashes(doc_shingle_arrays(docs))
        ).collect()
    }
    b = {
        r["doc_id"]: tuple(r[c] for c in cols)
        for r in minhash_signatures(doc_shingles(docs)).collect()
    }
    assert a == b and len(a) > 0


def test_choose_bands_tracks_threshold():
    from ecom_churn_lakehouse_spark.dedup.minhash import (
        NUM_BANDS,
        NUM_HASHES,
        ROWS_PER_BAND,
        choose_bands,
    )

    b, r, mid = choose_bands(0.7, 16)
    assert b * r == 16
    assert abs(mid - 0.7) <= min(
        abs((1.0 / bb) ** (1.0 / (16 // bb)) - 0.7)
        for bb in (1, 2, 4, 8, 16)
    )
    # lower thresholds need more bands (catch lower-sim pairs)
    assert choose_bands(0.2, 16)[0] > choose_bands(0.9, 16)[0]
    # the module's default split is the right choice for ~0.7 Jaccard
    assert choose_bands(0.7, NUM_HASHES)[:2] == (NUM_BANDS, ROWS_PER_BAND)


def test_multiprobe_expands_and_improves_recall(spark):
    from ecom_churn_lakehouse_spark.similarity.ann import (
        brute_force_topk,
        bucketed_topk,
        hyperplane_lsh_buckets,
        multiprobe_buckets,
    )
    from ecom_churn_lakehouse_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    planes = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("plane_id"), "embedding"
    )
    buckets = hyperplane_lsh_buckets(emb, planes)
    qb = buckets.filter(F.col("vec_id") % 10 == 0)

    probes = multiprobe_buckets(qb, n_bits=8)
    assert probes.count() == qb.count() * 9  # self + 8 flips
    # the probe set always contains the original bucket
    own = qb.select("vec_id", "bucket")
    assert probes.join(own, on=["vec_id", "bucket"]).distinct().count() == qb.count()

    exact = brute_force_topk(
        emb.join(qb.select("vec_id"), on="vec_id", how="left_semi"), emb, k=3
    )
    ex = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    single = {(r["query_id"], r["neighbor_id"])
              for r in bucketed_topk(qb, buckets, emb, k=3).collect()}
    multi = {(r["query_id"], r["neighbor_id"])
             for r in bucketed_topk(probes, buckets, emb, k=3).collect()}
    assert len(multi & ex) >= len(single & ex)  # recall never drops
    assert len(multi) >= len(single)  # candidate coverage never shrinks


def test_doc_min_bigram_prob_survives_short_docs(spark, tmp_path):
    # ADVICE r5: sequence(1, 0) steps DOWN in Spark, so an unguarded
    # 1-token doc made element_at(t, 0) throw and killed the query.
    import pandas as pd

    from ecom_churn_lakehouse_spark.queries.text_queries import (
        q_doc_min_bigram_prob,
    )

    pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["single", "two tokens here ok", "two tokens again yes"],
            "lang": ["en"] * 3,
            "source": ["t"] * 3,
            "n_chars": [6, 18, 20],
        }
    ).to_parquet(tmp_path / "documents.parquet", index=False)
    rows = {
        r["doc_id"]: r
        for r in q_doc_min_bigram_prob(spark, str(tmp_path)).collect()
    }
    # the 1-token doc has no bigrams -> contributes no row, no crash
    assert set(rows) == {2, 3}
    assert all(r["n_bigrams"] == 3 for r in rows.values())
    assert all(0 < r["min_bigram_prob_ppm"] <= 1_000_000 for r in rows.values())
