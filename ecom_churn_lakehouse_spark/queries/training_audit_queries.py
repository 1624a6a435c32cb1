"""Training-set integrity audits and feature-encoding operators
(SURVEY §7.7 widening — the checks a training-data pipeline runs
between curation and the trainer):

- split leakage:   duplicate documents straddling train/val/test
- fold balance:    per-fold label rates for a grouped k-fold
- target encoding: smoothed category->label-mean features
- LM scoring:      corpus unigram language model -> per-doc likelihood
- semantic dedup:  centroid-partitioned embedding near-dup pairs
                   (the SemDeDup shape: cluster first, compare within)

All five are oracle-verified; hash/split assignments use the portable
md5 bucket idiom (operators/sampling.py) so an independent engine
reproduces them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ecom_churn_lakehouse_spark.operators.sampling import assign_split
from ecom_churn_lakehouse_spark.queries.dedup_queries import (
    _CORPUS_SQL,
    _JACCARD_TAIL_SQL,
    _SHINGLES_SQL,
    derived_corpus,
    derived_vectors,
)
from ecom_churn_lakehouse_spark.registry import register
from ecom_churn_lakehouse_spark.sources import load_table


def _hb_sql(salt: str, key: str) -> str:
    from ecom_churn_lakehouse_spark.operators.sampling import hash_bucket_sql

    return hash_bucket_sql(key, salt)


# ------------------------------------------------- split leakage audit

_LEAKAGE_SQL = f"""
WITH {_CORPUS_SQL},
split_docs AS (
    SELECT doc_id, md5(text) AS text_md5,
           CASE WHEN {_hb_sql("split:", "doc_id")} < 8000 THEN 'train'
                WHEN {_hb_sql("split:", "doc_id")} < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM corpus
)
SELECT text_md5,
       MIN(doc_id) AS first_doc_id,
       COUNT(*) AS n_copies,
       COUNT(*) FILTER (split = 'train') AS n_train,
       COUNT(*) FILTER (split = 'val') AS n_val,
       COUNT(*) FILTER (split = 'test') AS n_test
FROM split_docs
GROUP BY text_md5
HAVING COUNT(*) > 1 AND COUNT(DISTINCT split) > 1
ORDER BY first_doc_id
"""


@register(
    "split_leakage_audit",
    _LEAKAGE_SQL,
    doc="Duplicate-text groups that STRADDLE the train/val/test "
    "boundary — eval contamination that survives doc-level dedup "
    "done after splitting (the #1 silent-leak path in training "
    "pipelines). One hash-group shuffle on md5(text): the text "
    "column is hashed away in the scan projection, so the exchange "
    "moves ~50 bytes/doc no matter how wide the corpus is; the split "
    "label is a scan-local md5 bucket (operators/sampling.py). A "
    "clean pipeline returns 0 rows; the planted-duplicate corpus "
    "(dedup_queries.derived_corpus) returns every cross-split clone.",
)
def q_split_leakage_audit(spark, sf_dir):
    docs = assign_split(
        derived_corpus(spark, sf_dir),
        "doc_id",
        [("train", 0.8), ("val", 0.1), ("test", 0.1)],
    ).select(
        "doc_id", F.md5(F.col("text")).alias("text_md5"), "split"
    )
    return (
        docs.groupBy("text_md5")
        .agg(
            F.min("doc_id").alias("first_doc_id"),
            F.count("*").alias("n_copies"),
            F.count(F.when(F.col("split") == "train", 1)).alias("n_train"),
            F.count(F.when(F.col("split") == "val", 1)).alias("n_val"),
            F.count(F.when(F.col("split") == "test", 1)).alias("n_test"),
            F.count_distinct("split").alias("__n_splits"),
        )
        .filter((F.col("n_copies") > 1) & (F.col("__n_splits") > 1))
        .drop("__n_splits")
        .orderBy("first_doc_id")
    )


# ------------------------------------------------- grouped k-fold balance

_KFOLD_K = 5

_KFOLD_SQL = f"""
WITH labels AS (
    SELECT c.c_custkey,
           {_hb_sql("fold:", "c.c_custkey")} % {_KFOLD_K} AS fold,
           CASE WHEN COUNT(o.o_orderkey) >= 2 THEN 1 ELSE 0 END AS is_repeat
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
)
SELECT fold,
       COUNT(*) AS n_customers,
       CAST(SUM(is_repeat) AS BIGINT) AS n_repeat,
       ROUND(CAST(SUM(is_repeat) AS DOUBLE) / COUNT(*), 6) AS repeat_rate
FROM labels
GROUP BY fold
ORDER BY fold
"""


@register(
    "group_kfold_balance",
    _KFOLD_SQL,
    doc="Grouped 5-fold cross-validation assignment (all of a "
    "customer's data lands in ONE fold — the grouping that stops "
    "same-entity leakage across folds) plus the per-fold label-balance "
    "report that validates the assignment is usable. Fold id is a "
    "scan-local hash bucket; the label aggregate is two "
    "map-side-combinable shuffles (per-customer, then per-fold — the "
    f"second moves {_KFOLD_K} rows per partition).",
)
def q_group_kfold_balance(spark, sf_dir):
    from ecom_churn_lakehouse_spark.operators.sampling import hash_bucket

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey"
    )
    labels = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.when(F.count("o_orderkey") >= 2, 1).otherwise(0).alias(
                "is_repeat"
            )
        )
        .withColumn(
            "fold", hash_bucket(F.col("c_custkey"), "fold:") % _KFOLD_K
        )
    )
    return (
        labels.groupBy("fold")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("is_repeat").cast("long").alias("n_repeat"),
            F.round(
                F.sum("is_repeat").cast("double") / F.count("*"), 6
            ).alias("repeat_rate"),
        )
        .orderBy("fold")
    )


# ------------------------------------------------- smoothed target encoding

_TE_SMOOTHING = 200

_TARGET_ENCODING_SQL = f"""
WITH labeled AS (
    SELECT p.p_brand AS brand,
           CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS y
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
prior AS (SELECT CAST(SUM(y) AS DOUBLE) / COUNT(*) AS p FROM labeled)
SELECT brand,
       COUNT(*) AS n_lines,
       ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS raw_rate,
       ROUND((CAST(SUM(y) AS DOUBLE) + {_TE_SMOOTHING} * (SELECT p FROM prior))
             / (COUNT(*) + {_TE_SMOOTHING}), 6) AS encoded_rate
FROM labeled
GROUP BY brand
ORDER BY brand
"""


@register(
    "target_encoding_brand",
    _TARGET_ENCODING_SQL,
    doc="Smoothed target encoding: each part brand's return rate "
    "shrunk toward the global prior with pseudo-count m="
    f"{_TE_SMOOTHING} — the leakage-resistant categorical feature for "
    "tree/linear models (rare brands collapse to the prior instead of "
    "memorizing noise). One fact-scan aggregate (brand keyed, "
    "map-side-combinable) + a 1-row broadcast prior; the part "
    "dimension broadcasts into the scan. The encoding table this "
    "emits is itself broadcast-joinable back onto any training scan.",
)
def q_target_encoding_brand(spark, sf_dir):
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_returnflag"
    )
    labeled = li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey
    ).select(
        F.col("p_brand").alias("brand"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    prior = labeled.agg(
        (F.sum("y").cast("double") / F.count("*")).alias("p")
    )
    return (
        labeled.groupBy("brand")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("y").cast("double").alias("__sum_y"),
        )
        .join(F.broadcast(prior))
        .select(
            "brand",
            "n_lines",
            F.round(F.col("__sum_y") / F.col("n_lines"), 6).alias("raw_rate"),
            F.round(
                (F.col("__sum_y") + _TE_SMOOTHING * F.col("p"))
                / (F.col("n_lines") + _TE_SMOOTHING),
                6,
            ).alias("encoded_rate"),
        )
        .orderBy("brand")
    )


# ------------------------------------------------- unigram LM doc scoring

_LM_ADD_K = 0.5

_LM_SCORE_SQL = rf"""
WITH toks AS (
    SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS token
    FROM documents
),
counts AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY token),
corpus_stats AS (
    SELECT CAST(SUM(c) AS DOUBLE) AS n, CAST(COUNT(*) AS DOUBLE) AS v
    FROM counts
),
scored AS (
    SELECT t.doc_id,
           ln((c.c + {_LM_ADD_K}) / (s.n + {_LM_ADD_K} * s.v)) AS lp
    FROM toks t
    JOIN counts c ON t.token = c.token
    CROSS JOIN corpus_stats s
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       ROUND(AVG(lp), 6) AS avg_logprob
FROM scored
GROUP BY doc_id
ORDER BY doc_id
"""


@register(
    "unigram_lm_doc_scores",
    _LM_SCORE_SQL,
    doc="Per-document likelihood under an add-k-smoothed unigram "
    "language model fit on the corpus itself — the cheap LM-based "
    "quality filter (gibberish and boilerplate both score as "
    "outliers; the heavy-tailed middle is 'normal' text). Two passes "
    "over the token explode: vocabulary counts (one shuffle), then a "
    "token->logprob join back (broadcast here — at 100 TB the "
    "vocabulary still fits in MBs after a min-count floor, so the "
    "probe side stays map-side) and a per-doc average.",
)
def q_unigram_lm_doc_scores(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0)
        ).alias("token"),
    )
    counts = toks.groupBy("token").agg(F.count("*").alias("c"))
    stats = counts.agg(
        F.sum("c").cast("double").alias("n"),
        F.count("*").cast("double").alias("v"),
    )
    lp = F.log(
        (F.col("c") + _LM_ADD_K) / (F.col("n") + _LM_ADD_K * F.col("v"))
    )
    return (
        toks.join(F.broadcast(counts), on="token")
        .join(F.broadcast(stats))
        .select("doc_id", lp.alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("lp"), 6).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------- semantic dedup pairs

_SEMDEDUP_K = 8
_SEMDEDUP_THRESHOLD = 0.9
_SEMDEDUP_PLANES = 16
_SEMDEDUP_ROWS_PER_BAND = 8

_SEMDEDUP_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)

_SEMDEDUP_SQL = f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
vcorpus AS (
    SELECT vec_id, ev FROM base
    UNION ALL
    SELECT vec_id + 100000 AS vec_id, ev FROM base WHERE vec_id % 10 = 0
    UNION ALL
    SELECT vec_id + 200000 AS vec_id,
           [x[1] + x[2] * 0.15 for x in list_zip(ev, list_reverse(ev))] AS ev
    FROM base WHERE vec_id % 7 = 0
),
centroids AS (
    SELECT vec_id AS cid, ev AS cv FROM base WHERE vec_id < {_SEMDEDUP_K}
),
assigned AS (
    SELECT vec_id, ev, cid,
           ROW_NUMBER() OVER (
               PARTITION BY vec_id
               ORDER BY {_SEMDEDUP_COS.format(a="ev", b="cv")} DESC, cid
           ) AS rn
    FROM vcorpus, centroids
),
clustered AS (SELECT vec_id, ev, cid FROM assigned WHERE rn = 1),
planes AS (
    SELECT vec_id AS plane_id, ev AS hv FROM base
    WHERE vec_id < {_SEMDEDUP_PLANES}
),
banded AS (
    SELECT v.vec_id, p.plane_id // {_SEMDEDUP_ROWS_PER_BAND} AS band,
           CAST(SUM(CASE WHEN list_dot_product(v.ev, p.hv) >= 0
                         THEN 1 << (p.plane_id % {_SEMDEDUP_ROWS_PER_BAND})
                         ELSE 0 END) AS BIGINT) AS bucket
    FROM clustered v, planes p
    GROUP BY v.vec_id, p.plane_id // {_SEMDEDUP_ROWS_PER_BAND}
),
cand AS (
    SELECT DISTINCT ca.vec_id AS vec_a, cb.vec_id AS vec_b, ca.cid
    FROM banded a
    JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
                  AND a.vec_id < b.vec_id
    JOIN clustered ca ON a.vec_id = ca.vec_id
    JOIN clustered cb ON b.vec_id = cb.vec_id AND ca.cid = cb.cid
)
SELECT c.vec_a, c.vec_b, c.cid AS cluster_id,
       ROUND({_SEMDEDUP_COS.format(a="va.ev", b="vb.ev")}, 6) AS cosine_sim
FROM cand c
JOIN clustered va ON c.vec_a = va.vec_id
JOIN clustered vb ON c.vec_b = vb.vec_id
WHERE {_SEMDEDUP_COS.format(a="va.ev", b="vb.ev")} >= {_SEMDEDUP_THRESHOLD}
ORDER BY vec_a, vec_b
"""


@register(
    "semantic_dedup_pairs",
    _SEMDEDUP_SQL,
    doc="SemDeDup-shaped embedding dedup: assign every vector to its "
    "nearest of K seed centroids (broadcast, one map-side-combinable "
    "argmax aggregate), then generate candidates by banded sign-LSH "
    "WITHIN a cluster — a pair qualifies only when it shares a "
    "cluster AND an LSH band bucket, so candidate work is bounded by "
    "bucket width, never sum-of-squared-cluster-sizes (the naive "
    "within-cluster all-pairs is Theta(sum c_i^2): quadratic while K "
    "is fixed — measured unrunnable at the 10x probe). Exact cosine "
    "touches candidates only. Contrast embedding_neardup_pairs: same "
    "LSH machinery, no cluster partition — the cluster key adds the "
    "centroid locality SemDeDup prunes by, and at 100 TB, K grows "
    "with the corpus (k-means-seeded, cf. kmeans_two_rounds) so "
    f"clusters stay bounded; here K={_SEMDEDUP_K} over the "
    "planted-duplicate corpus.",
)
def q_semantic_dedup_pairs(spark, sf_dir):
    from ecom_churn_lakehouse_spark.functions.vectors import (
        cosine,
        dot,
        norm,
        to_double_array,
    )
    from ecom_churn_lakehouse_spark.similarity.ann import banded_sign_buckets

    corpus = (
        derived_vectors(spark, sf_dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=False)
    )
    centroids = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _SEMDEDUP_K
    ).select(
        F.col("vec_id").alias("cid"),
        to_double_array(F.col("embedding")).alias("cv"),
    )
    cos = cosine("embedding", "cv")
    # argmax centroid with min-cid tie-break: lexicographic max over
    # (cos, -cid) — one aggregate, no window sort.
    assigned = (
        corpus.join(F.broadcast(centroids))
        .groupBy("vec_id")
        .agg(
            F.max(F.struct(cos.alias("c"), (-F.col("cid")).alias("ncid")))
            .alias("m"),
            F.first("embedding").alias("ev"),
        )
        .select("vec_id", (-F.col("m.ncid")).alias("cluster_id"), "ev")
        .localCheckpoint(eager=False)
    )
    planes = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _SEMDEDUP_PLANES
    ).select(F.col("vec_id").alias("plane_id"), "embedding")
    banded = banded_sign_buckets(
        assigned.select("vec_id", F.col("ev").alias("embedding")),
        planes,
        _SEMDEDUP_ROWS_PER_BAND,
    )
    # Norms once per row: the pair cosine below is one dot over the two
    # norms, the same IEEE operations in the same order as ``cosine``.
    meta = assigned.select(
        "vec_id", "cluster_id", "ev", norm("ev").alias("n")
    )
    a = banded.alias("ba").join(meta.alias("ma"), on="vec_id").select(
        F.col("vec_id").alias("vec_a"), "band", "bucket",
        F.col("cluster_id").alias("__ca"), F.col("ev").alias("__va"),
        F.col("n").alias("__na"),
    )
    b = banded.alias("bb").join(meta.alias("mb"), on="vec_id").select(
        F.col("vec_id").alias("vec_b"), "band", "bucket",
        F.col("cluster_id").alias("__cb"), F.col("ev").alias("__vb"),
        F.col("n").alias("__nb"),
    )
    pair_cos = dot("__va", "__vb") / (F.col("__na") * F.col("__nb"))
    cand = (
        a.join(b, on=["band", "bucket"])
        .filter(
            (F.col("vec_a") < F.col("vec_b"))
            & (F.col("__ca") == F.col("__cb"))
        )
        .select("vec_a", "vec_b", F.col("__ca").alias("cluster_id"),
                "__va", "__vb", "__na", "__nb")
        .dropDuplicates(["vec_a", "vec_b"])
    )
    return (
        cand.filter(pair_cos >= _SEMDEDUP_THRESHOLD)
        .select(
            "vec_a",
            "vec_b",
            "cluster_id",
            F.round(pair_cos, 6).alias("cosine_sim"),
        )
        .orderBy("vec_a", "vec_b")
    )


# ------------------------------------- expanding-window temporal folds

_FOLD_CUTS = ("1994-01-01", "1995-07-01", "1997-01-01", "1998-07-01")

_FOLDS_SQL = f"""
WITH folds AS (
    SELECT 1 AS fold, DATE '{_FOLD_CUTS[0]}' AS t_end, DATE '{_FOLD_CUTS[1]}' AS v_end
    UNION ALL
    SELECT 2, DATE '{_FOLD_CUTS[1]}', DATE '{_FOLD_CUTS[2]}'
    UNION ALL
    SELECT 3, DATE '{_FOLD_CUTS[2]}', DATE '{_FOLD_CUTS[3]}'
)
SELECT f.fold,
       CAST(f.t_end AS DATE) AS train_end,
       CAST(f.v_end AS DATE) AS val_end,
       CAST(COUNT(CASE WHEN CAST(o.o_orderdate AS DATE) < f.t_end
                       THEN 1 END) AS BIGINT) AS n_train,
       CAST(COUNT(CASE WHEN CAST(o.o_orderdate AS DATE) >= f.t_end
                        AND CAST(o.o_orderdate AS DATE) < f.v_end
                       THEN 1 END) AS BIGINT) AS n_val
FROM folds f CROSS JOIN orders o
GROUP BY f.fold, f.t_end, f.v_end
"""


@register(
    "expanding_window_folds",
    _FOLDS_SQL,
    doc="Expanding-window temporal cross-validation folds: each fold "
    "trains on everything before its cut and validates on the next "
    "interval — the only CV scheme that never leaks the future into "
    "training (temporal_train_val_split is the single-split special "
    "case; group_kfold_balance is the entity-leakage twin). Emitted "
    "as the per-fold row-count datasheet a pipeline pins BEFORE "
    "training so fold sizes are audited, not assumed. The fold "
    "frame is 3 rows broadcast against one fact scan; counts are "
    "conditional aggregates in a single pass, not one scan per "
    "fold.",
)
def q_expanding_window_folds(spark, sf_dir):
    folds = [
        (1, _FOLD_CUTS[0], _FOLD_CUTS[1]),
        (2, _FOLD_CUTS[1], _FOLD_CUTS[2]),
        (3, _FOLD_CUTS[2], _FOLD_CUTS[3]),
    ]
    spark_folds = spark.createDataFrame(
        folds, "fold int, t_end string, v_end string"
    ).select(
        "fold",
        F.to_date("t_end").alias("t_end"),
        F.to_date("v_end").alias("v_end"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d")
    )
    return (
        orders.crossJoin(F.broadcast(spark_folds))
        .groupBy("fold", "t_end", "v_end")
        .agg(
            F.count(F.when(F.col("d") < F.col("t_end"), 1))
            .cast("long")
            .alias("n_train"),
            F.count(
                F.when(
                    (F.col("d") >= F.col("t_end"))
                    & (F.col("d") < F.col("v_end")),
                    1,
                )
            )
            .cast("long")
            .alias("n_val"),
        )
        .select(
            "fold",
            F.col("t_end").alias("train_end"),
            F.col("v_end").alias("val_end"),
            "n_train",
            "n_val",
        )
    )


# ------------------------------------------- NEAR-dup split leakage

_NEARDUP_LEAK_SQL = (
    "WITH "
    + _CORPUS_SQL.strip()
    + ",\n"
    + _SHINGLES_SQL.strip()
    + ",\n"
    + _JACCARD_TAIL_SQL.format(
        pair_source_a="shingled", pair_source_b="shingled"
    ).strip()
    + f""",
splits AS (
    SELECT doc_id,
           CASE WHEN {_hb_sql("split:", "doc_id")} < 8000 THEN 'train'
                WHEN {_hb_sql("split:", "doc_id")} < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM corpus
),
leak AS (
    SELECT LEAST(sa.split, sb.split) AS split_lo,
           GREATEST(sa.split, sb.split) AS split_hi,
           j.doc_a, j.doc_b
    FROM jac j
    JOIN splits sa ON j.doc_a = sa.doc_id
    JOIN splits sb ON j.doc_b = sb.doc_id
    WHERE j.jaccard >= 0.6 AND sa.split != sb.split
),
pair_counts AS (
    SELECT split_lo, split_hi, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM leak GROUP BY split_lo, split_hi
),
doc_counts AS (
    SELECT split_lo, split_hi, CAST(COUNT(DISTINCT d) AS BIGINT) AS n_leaked_docs
    FROM (
        SELECT split_lo, split_hi, doc_a AS d FROM leak
        UNION ALL
        SELECT split_lo, split_hi, doc_b AS d FROM leak
    ) GROUP BY split_lo, split_hi
)
SELECT p.split_lo, p.split_hi, p.n_pairs, d.n_leaked_docs
FROM pair_counts p JOIN doc_counts d
  ON p.split_lo = d.split_lo AND p.split_hi = d.split_hi
"""
)


@register(
    "neardup_split_leakage",
    _NEARDUP_LEAK_SQL,
    doc="NEAR-duplicate split leakage: split_leakage_audit catches "
    "byte-identical clones straddling train/val/test, but a paraphrase "
    "or '... zz qq'-style appended variant leaks evaluation signal "
    "just as hard. Reuses the lossless PPJoin candidate path "
    "(prefix+length filter, Jaccard >= 0.6 on compact shingle arrays) "
    "and the scan-local md5 split assignment, then counts leaking "
    "pairs and distinct leaked docs per split-boundary class. A clean "
    "post-dedup pipeline returns 0 rows; the planted corpus leaks by "
    "construction.",
)
def q_neardup_split_leakage(spark, sf_dir):
    from ecom_churn_lakehouse_spark.dedup.ppjoin import prefix_filter_candidates
    from ecom_churn_lakehouse_spark.dedup.shingles import doc_shingle_arrays
    from ecom_churn_lakehouse_spark.dedup.minhash import jaccard_on_pairs_arrays

    corpus = derived_corpus(spark, sf_dir)
    arr = doc_shingle_arrays(corpus).localCheckpoint(eager=False)
    sh = arr.select("doc_id", F.explode("shingles").alias("shingle"))
    pairs = jaccard_on_pairs_arrays(
        prefix_filter_candidates(sh, threshold=0.6), arr
    ).filter(F.col("jaccard") >= 0.6)
    splits = assign_split(
        corpus, "doc_id", [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    ).select("doc_id", "split")
    sa = splits.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    sb = splits.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    leak = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select(
            F.least("split_a", "split_b").alias("split_lo"),
            F.greatest("split_a", "split_b").alias("split_hi"),
            "doc_a",
            "doc_b",
        )
    )
    pair_counts = leak.groupBy("split_lo", "split_hi").agg(
        F.count("*").cast("long").alias("n_pairs")
    )
    doc_counts = (
        leak.select("split_lo", "split_hi", F.col("doc_a").alias("d"))
        .unionByName(leak.select("split_lo", "split_hi", F.col("doc_b").alias("d")))
        .groupBy("split_lo", "split_hi")
        .agg(F.count_distinct("d").cast("long").alias("n_leaked_docs"))
    )
    return pair_counts.join(doc_counts, ["split_lo", "split_hi"])


# ------------------------------------------------- pass@k estimation

#: Unbiased pass@k (Chen et al. HumanEval estimator): with n trials
#: and c passes, pass@k = 1 - C(n-c,k)/C(n,k), computed as the exact
#: integer product ratio PROD_{i<k}(n-c-i) / PROD_{i<k}(n-i). k is
#: small and enumerated, so the products are spelled per branch —
#: identical text on both engines, pure int64 (n <= ~100 trials per
#: entity keeps num*1e6 under 1e16).
_PAK_NUM = (
    "CASE WHEN n - c < k THEN 0"
    " WHEN k = 1 THEN (n - c)"
    " WHEN k = 3 THEN (n - c) * (n - c - 1) * (n - c - 2)"
    " ELSE (n - c) * (n - c - 1) * (n - c - 2) * (n - c - 3) * (n - c - 4)"
    " END"
)
_PAK_DEN = (
    "CASE WHEN k = 1 THEN n"
    " WHEN k = 3 THEN n * (n - 1) * (n - 2)"
    " ELSE n * (n - 1) * (n - 2) * (n - 3) * (n - 4) END"
)
_PAK_PPM = f"(1000000 - (({_PAK_NUM}) * 1000000) {{div}} ({_PAK_DEN}))"

_PAK_SQL = f"""
WITH trials AS (
    SELECT o_custkey AS entity_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS c
    FROM orders GROUP BY o_custkey
),
per_k AS (
    SELECT ks.k, t.n, t.c,
           CAST({_PAK_PPM.format(div="//")} AS BIGINT) AS pass_ppm
    FROM trials t CROSS JOIN (VALUES (CAST(1 AS BIGINT)), (CAST(3 AS BIGINT)),
                                     (CAST(5 AS BIGINT))) AS ks(k)
    WHERE t.n >= ks.k
)
SELECT k,
       CAST(COUNT(*) AS BIGINT) AS n_entities,
       CAST(SUM(pass_ppm) // COUNT(*) AS BIGINT) AS mean_pass_ppm,
       CAST(SUM(CASE WHEN pass_ppm = 1000000 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_certain_pass,
       CAST(SUM(CASE WHEN pass_ppm = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_zero_pass
FROM per_k GROUP BY k ORDER BY k
"""


@register(
    "pass_at_k_estimator",
    _PAK_SQL,
    doc="Unbiased pass@k estimation (the HumanEval estimator "
    "1 - C(n-c,k)/C(n,k)) over per-entity trial outcomes — here each "
    "customer's orders are the trials and fulfilled status the pass, "
    "the exact shape of grading k-sample model generations grouped "
    "by problem. The combinatorial ratio is an exact integer product "
    "ratio per entity (never factorials — the telescoped k-term "
    "products), floor-quantized to ppm; entities with fewer than k "
    "trials are excluded per k, and the estimator's two degeneracies "
    "(all-fail -> 0, too-few-failures -> exactly 1e6) are surfaced "
    "as count columns. Scale: one map-combinable groupBy to the "
    "entity grain, a 3-way literal fan-out, one 3-key agg — no "
    "window, no join; products stay int64 while trials/entity "
    "<= ~400 (n^5*1e6 < 2^63), past which pass@k re-grains to "
    "capped-n reservoir trials.",
)
def q_pass_at_k_estimator(spark, sf_dir):
    trials = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("entity_id"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
            .cast("long")
            .alias("c"),
        )
    )
    per_k = (
        trials.withColumn(
            "k",
            F.explode(
                F.array(
                    F.lit(1).cast("long"),
                    F.lit(3).cast("long"),
                    F.lit(5).cast("long"),
                )
            ),
        )
        .filter(F.col("n") >= F.col("k"))
        .select(
            "k",
            F.expr(_PAK_PPM.format(div="DIV")).cast("long").alias("pass_ppm"),
        )
    )
    return (
        per_k.groupBy("k")
        .agg(
            F.count("*").cast("long").alias("n_entities"),
            F.expr("CAST(SUM(pass_ppm) DIV COUNT(*) AS BIGINT)").alias(
                "mean_pass_ppm"
            ),
            F.sum(F.when(F.col("pass_ppm") == 1000000, 1).otherwise(0))
            .cast("long")
            .alias("n_certain_pass"),
            F.sum(F.when(F.col("pass_ppm") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_zero_pass"),
        )
        .orderBy("k")
    )
