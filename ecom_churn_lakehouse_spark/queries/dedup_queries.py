"""Deduplication queries over ``documents`` (training-data surface).

The fixture corpus has no duplicates, so each query first derives a
deterministic augmented corpus — exact copies of every 10th doc and
near-copies (two appended tokens) of every 7th — identically on the
Spark and oracle sides, then runs the dedup operator over it:

- exact (sha256 hash-groupBy)            → exact_dedup_groups
- n-gram Jaccard (3-gram shingle join)   → ngram_jaccard_pairs
- MinHash + LSH banding + verification   → minhash_lsh_pairs
- SimHash + byte blocking + Hamming      → simhash_pairs

The oracle SQL is generated from the same constants the Spark
operators use (dedup/minhash.py, dedup/simhash.py), so signatures
match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecom_churn_lakehouse_spark.dedup.exact import exact_duplicate_groups
from ecom_churn_lakehouse_spark.dedup.minhash import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    NUM_BANDS,
    NUM_HASHES,
    ROWS_PER_BAND,
    jaccard_on_pairs,
    jaccard_on_pairs_arrays,
    lsh_candidate_pairs,
    minhash_signatures_exploded,
)
from ecom_churn_lakehouse_spark.dedup.shingles import (
    doc_shingle_arrays,
    doc_shingles,
    doc_tokens,
)
from ecom_churn_lakehouse_spark.operators.connected_components import (
    connected_components,
)
from ecom_churn_lakehouse_spark.dedup.simhash import (
    SIMHASH_BITS,
    simhash_candidate_pairs,
    simhash_signatures,
)
from ecom_churn_lakehouse_spark.registry import register
from ecom_churn_lakehouse_spark.sources import load_table

# ---------------------------------------------------------------- corpus

_CORPUS_SQL = """
corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 200000 AS doc_id, text || ' zz qq' AS text
    FROM documents WHERE doc_id % 7 = 0
)
"""


def derived_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    exact_copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    near_copies = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz qq")).alias("text"),
    )
    return docs.unionByName(exact_copies).unionByName(near_copies)


# Shared SQL: tokens and 3-gram shingles over the corpus.
_SHINGLES_SQL = r"""
toks AS (
    SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM corpus
),
idx AS (
    SELECT doc_id, t,
           unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
    FROM toks
),
shingled AS (
    SELECT DISTINCT doc_id,
           t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
    FROM idx
)
"""

_JACCARD_TAIL_SQL = """
sizes AS (
    SELECT doc_id, COUNT(*) AS n_sh FROM shingled GROUP BY doc_id
),
common AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
    FROM {pair_source_a} a JOIN {pair_source_b} b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
jac AS (
    SELECT c.doc_a, c.doc_b,
           ROUND(CAST(c.n_common AS DOUBLE)
                 / (sa.n_sh + sb.n_sh - c.n_common), 6) AS jaccard
    FROM common c
    JOIN sizes sa ON c.doc_a = sa.doc_id
    JOIN sizes sb ON c.doc_b = sb.doc_id
)
"""

# ------------------------------------------------------------ exact dedup

_EXACT_SQL = f"""
WITH {_CORPUS_SQL}
SELECT sha256(text) AS content_sha256,
       MIN(doc_id) AS canonical_doc_id,
       COUNT(*) AS n_copies
FROM corpus
GROUP BY sha256(text)
HAVING COUNT(*) > 1
"""


@register(
    "exact_dedup_groups",
    _EXACT_SQL,
    doc="Exact dedup via sha256 hash-groupBy; deterministic min-id "
    "survivor (dedup/exact.py).",
)
def q_exact_dedup_groups(spark, sf_dir):
    return exact_duplicate_groups(derived_corpus(spark, sf_dir))


# ------------------------------------------------------- n-gram Jaccard

_NGRAM_SQL = (
    f"WITH {_CORPUS_SQL}, {_SHINGLES_SQL},"
    + _JACCARD_TAIL_SQL.format(pair_source_a="shingled", pair_source_b="shingled")
    + "\nSELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.6"
)


@register(
    "ngram_jaccard_pairs",
    _NGRAM_SQL,
    doc="Near-dup detection: PPJoin-style prefix+length-filtered "
    "candidate join (dedup/ppjoin.py) + exact Jaccard ≥ 0.6. The "
    "filters are lossless, so the exhaustive-join oracle verifies "
    "both the threshold semantics AND the pruning.",
)
def q_ngram_jaccard_pairs(spark, sf_dir):
    from ecom_churn_lakehouse_spark.dedup.ppjoin import prefix_filter_candidates

    # Compact array representation: per-doc shingle sets are built
    # scan-locally (no explode+distinct exchange); the PPJoin stages
    # that genuinely need per-shingle rows (frequency ranking, prefix
    # join) explode from the checkpointed arrays — already distinct, so
    # the explode is exchange-free — and verification intersects the
    # candidate pairs' arrays instead of re-joining exploded shingles.
    arr = doc_shingle_arrays(derived_corpus(spark, sf_dir)).localCheckpoint(
        eager=False
    )
    sh = arr.select("doc_id", F.explode("shingles").alias("shingle"))
    pairs = prefix_filter_candidates(sh, threshold=0.6)
    return jaccard_on_pairs_arrays(pairs, arr).filter(F.col("jaccard") >= 0.6)


# -------------------------------------------------------- MinHash + LSH


def _minhash_banded_sql() -> str:
    """Shared head of the MinHash oracle: corpus -> shingles -> hashed
    -> 16-min signatures -> banded (band_idx, band_key) relation.
    ONE spelling for every consumer (pair generation, bucket-occupancy
    diagnostics) so the banding constants cannot desynchronize."""
    h = (
        "CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) % "
        + str(MINHASH_P)
    )
    mins = ",\n           ".join(
        f"MIN(({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MINHASH_P}) AS mh{i}"
        for i in range(NUM_HASHES)
    )
    band_selects = "\n    UNION ALL\n    ".join(
        "SELECT doc_id, {j} AS band_idx, ".format(j=j)
        + " || ',' || ".join(
            f"mh{j * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
        )
        + " AS band_key FROM sigs"
        for j in range(NUM_BANDS)
    )
    return (
        f"WITH {_CORPUS_SQL}, {_SHINGLES_SQL},\n"
        f"hashed AS (SELECT doc_id, {h} AS h FROM shingled),\n"
        f"sigs AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id),\n"
        f"banded AS (\n    {band_selects}\n)"
    )


def _minhash_sql() -> str:
    return (
        _minhash_banded_sql() + ",\n"
        "cand AS (\n"
        "    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b\n"
        "    FROM banded a JOIN banded b\n"
        "      ON a.band_idx = b.band_idx AND a.band_key = b.band_key\n"
        "         AND a.doc_id < b.doc_id\n"
        "),\n"
        "sh_a AS (SELECT c.doc_a, c.doc_b, s.shingle FROM cand c JOIN shingled s ON c.doc_a = s.doc_id),\n"
        "common AS (\n"
        "    SELECT x.doc_a, x.doc_b, COUNT(*) AS n_common\n"
        "    FROM sh_a x JOIN shingled s2\n"
        "      ON x.doc_b = s2.doc_id AND x.shingle = s2.shingle\n"
        "    GROUP BY 1, 2\n"
        "),\n"
        "sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingled GROUP BY doc_id)\n"
        "SELECT c.doc_a, c.doc_b,\n"
        "       ROUND(CAST(c.n_common AS DOUBLE)\n"
        "             / (sa.n_sh + sb.n_sh - c.n_common), 6) AS jaccard\n"
        "FROM common c\n"
        "JOIN sizes sa ON c.doc_a = sa.doc_id\n"
        "JOIN sizes sb ON c.doc_b = sb.doc_id\n"
        "WHERE CAST(c.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - c.n_common) >= 0.5"
    )


@register(
    "minhash_lsh_pairs",
    _minhash_sql(),
    doc="MinHash(16) + LSH(4 bands × 4 rows) candidate generation, "
    "exact-Jaccard verification ≥ 0.5 (dedup/minhash.py). The 100 TB "
    "scale path: pair generation is bucket-local, never all-pairs.",
)
def q_minhash_lsh_pairs(spark, sf_dir):
    # One checkpointed (doc, shingles) relation feeds BOTH signature
    # and verify stages, so the parse runs once. Signatures use the
    # exploded codegen path (minhash.py::minhash_signatures_exploded —
    # the map-only array form evaluates its 16 higher-order lambdas
    # interpreted and measured 2.5s vs 1.7s at sf0.1; the exchange is
    # |docs|·K after partial aggregation, safe at any scale); the
    # verify stage intersects the compact arrays, touching only
    # |pairs| rows.
    arr = doc_shingle_arrays(derived_corpus(spark, sf_dir)).localCheckpoint(
        eager=False
    )
    cand = lsh_candidate_pairs(minhash_signatures_exploded(arr))
    return jaccard_on_pairs_arrays(cand, arr).filter(F.col("jaccard") >= 0.5)


_LSH_BUCKET_CAP = 16


@register(
    "lsh_capped_neardup_pairs",
    _minhash_sql(),
    doc="Bucket-capped LSH near-dup pairs — the mitigation "
    "lsh_bucket_occupancy motivates (dedup/minhash.py::"
    "capped_banded_pairs): buckets above the size cap are first "
    "re-banded with a 2-row minhash key from a SECOND hash family "
    "(similar members re-collide, boilerplate-only collisions "
    "scatter), and sub-buckets still above the cap are salted into "
    "ceil(size/cap) doc-hash groups — a hard cost contract that "
    "bounds any single bucket's candidate contribution to ~size*cap/2 "
    "instead of size^2/2. The ORACLE is the PLAIN banding pipeline: "
    "with the cap above the corpus's max bucket occupancy (16 vs the "
    "observed max of 4 at sf0.01 / 6 at sf0.1) the capped plan must "
    "produce the IDENTICAL verified pair set, which is exactly the "
    "equivalence the hash comparison proves; the planted-mega-bucket "
    "behavior of both cap levels is pinned by "
    "tests/test_capped_lsh.py and the 10x probe in SCALING.md.",
)
def q_lsh_capped_neardup_pairs(spark, sf_dir):
    from ecom_churn_lakehouse_spark.dedup.minhash import capped_banded_pairs

    arr = doc_shingle_arrays(derived_corpus(spark, sf_dir)).localCheckpoint(
        eager=False
    )
    sigs = minhash_signatures_exploded(arr, include_reband=True)
    cand = capped_banded_pairs(sigs, cap=_LSH_BUCKET_CAP)
    return jaccard_on_pairs_arrays(cand, arr).filter(F.col("jaccard") >= 0.5)


# ------------------------------------------------------------- SimHash


def _simhash_sql() -> str:
    th = "CAST(('0x' || substring(md5(token), 1, 8)) AS BIGINT)"
    bit_sums = ",\n           ".join(
        f"SUM(CASE WHEN (th >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(SIMHASH_BITS)
    )
    sig_terms = " + ".join(
        f"(CASE WHEN s{j} >= 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS)
    )
    byte_selects = "\n    UNION ALL\n    ".join(
        f"SELECT doc_id, simhash, {j} AS byte_idx, (simhash >> {8 * j}) & 255 AS byte_val FROM sigs"
        for j in range(4)
    )
    return (
        f"WITH {_CORPUS_SQL},\n"
        "tokens AS (\n"
        r"    SELECT DISTINCT doc_id, unnest(regexp_extract_all(text, '\S+')) AS token"
        "\n    FROM corpus\n),\n"
        f"hashed AS (SELECT doc_id, {th} AS th FROM tokens),\n"
        f"bitsums AS (SELECT doc_id, {bit_sums} FROM hashed GROUP BY doc_id),\n"
        f"sigs AS (SELECT doc_id, CAST({sig_terms} AS BIGINT) AS simhash FROM bitsums),\n"
        f"blocked AS (\n    {byte_selects}\n),\n"
        "cand AS (\n"
        "    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,\n"
        "           a.simhash AS sim_a, b.simhash AS sim_b\n"
        "    FROM blocked a JOIN blocked b\n"
        "      ON a.byte_idx = b.byte_idx AND a.byte_val = b.byte_val\n"
        "         AND a.doc_id < b.doc_id\n"
        ")\n"
        "SELECT doc_a, doc_b,\n"
        "       CAST(bit_count(xor(sim_a, sim_b)) AS INTEGER) AS hamming\n"
        "FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 6"
    )


@register(
    "simhash_pairs",
    _simhash_sql(),
    doc="SimHash(32-bit) + byte blocking + Hamming ≤ 6 "
    "(dedup/simhash.py).",
)
def q_simhash_pairs(spark, sf_dir):
    toks = doc_tokens(derived_corpus(spark, sf_dir))
    sigs = simhash_signatures(toks)
    return simhash_candidate_pairs(sigs, max_hamming=6)


# ----------------------------------------- embedding-cosine near-dup

# The embeddings fixture has no near-duplicate pairs (uniform random
# vectors top out at cosine ~0.51), so — exactly like the text corpus
# above — we derive an augmented vector corpus deterministically on
# both sides: exact copies of every 10th vector (cosine 1.0) and
# perturbed copies v + 0.15·reverse(v) of every 7th (cosine ~0.989).
# 24 data-derived hyperplanes, banded 3 × 8 bits: 256 buckets per
# band keeps the candidate self-join sparse while the OR-over-bands
# keeps recall high at the 0.9 threshold.

_NEARDUP_BANDS = 3
_NEARDUP_ROWS_PER_BAND = 8
_NEARDUP_PLANES = _NEARDUP_BANDS * _NEARDUP_ROWS_PER_BAND
_NEARDUP_THRESHOLD = 0.9

_NEARDUP_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)

_NEARDUP_SQL = f"""
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
planes AS (
    SELECT vec_id AS plane_id, ev AS hv FROM base
    WHERE vec_id < {_NEARDUP_PLANES}
),
banded AS (
    SELECT v.vec_id, p.plane_id // {_NEARDUP_ROWS_PER_BAND} AS band,
           CAST(SUM(CASE WHEN list_dot_product(v.ev, p.hv) >= 0
                         THEN 1 << (p.plane_id % {_NEARDUP_ROWS_PER_BAND})
                         ELSE 0 END) AS BIGINT) AS bucket
    FROM vcorpus v, planes p
    GROUP BY v.vec_id, p.plane_id // {_NEARDUP_ROWS_PER_BAND}
),
cand AS (
    SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
scored AS (
    SELECT c.doc_a, c.doc_b,
           ROUND({_NEARDUP_COS.format(a="va.ev", b="vb.ev")}, 6) AS cosine_sim
    FROM cand c
    JOIN vcorpus va ON c.doc_a = va.vec_id
    JOIN vcorpus vb ON c.doc_b = vb.vec_id
)
SELECT doc_a, doc_b, cosine_sim FROM scored
WHERE cosine_sim >= {_NEARDUP_THRESHOLD}
"""


def derived_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding corpus with planted exact and near duplicates."""
    from ecom_churn_lakehouse_spark.functions.vectors import to_double_array

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array(F.col("embedding")).alias("embedding")
    )
    exact_copies = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    near_copies = emb.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 200000).alias("vec_id"),
        F.zip_with(
            F.col("embedding"),
            F.reverse(F.col("embedding")),
            lambda x, y: x + y * F.lit(0.15),
        ).alias("embedding"),
    )
    return emb.unionByName(exact_copies).unionByName(near_copies)


@register(
    "embedding_neardup_pairs",
    _NEARDUP_SQL,
    doc="Embedding-cosine near-dup dedup: banded sign-LSH candidates "
    "(3 bands x 8 bits, deterministic data-derived planes), exact "
    "cosine verify >= 0.9 on candidates only "
    "(similarity/ann.py::banded_sign_buckets / neardup_pairs).",
)
def q_embedding_neardup_pairs(spark, sf_dir):
    from ecom_churn_lakehouse_spark.similarity.ann import (
        banded_sign_buckets,
        neardup_pairs,
    )

    # The vector corpus feeds bucketing AND the two-sided verify join;
    # localCheckpoint materializes it once (measured 1.3-3× at sf0.1),
    # repartitioned first so the CPU-bound dot products use every core
    # even when the source is a single small file (no-op at 100 TB).
    corpus = (
        derived_vectors(spark, sf_dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=False)
    )
    planes = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _NEARDUP_PLANES
    ).select(F.col("vec_id").alias("plane_id"), "embedding")
    banded = banded_sign_buckets(corpus, planes, _NEARDUP_ROWS_PER_BAND)
    return neardup_pairs(banded, corpus, _NEARDUP_THRESHOLD)


# ----------------------------------------- near-dup cluster resolution


def _clusters_sql() -> str:
    # The pair query embeds as a parenthesized WITH-subquery; the
    # recursive walk is the oracle's transitive closure (fine at oracle
    # scale — the engine-side algorithm is the scalable one).
    return (
        "WITH RECURSIVE pairs AS (\n"
        + _minhash_sql()
        + "\n),\n"
        "edges AS (\n"
        "    SELECT doc_a AS u, doc_b AS v FROM pairs\n"
        "    UNION\n"
        "    SELECT doc_b, doc_a FROM pairs\n"
        "),\n"
        "walk(node, reach) AS (\n"
        "    SELECT u, u FROM edges\n"
        "    UNION\n"
        "    SELECT w.node, e.v FROM walk w JOIN edges e ON e.u = w.reach\n"
        "),\n"
        "comp AS (SELECT node, MIN(reach) AS cluster_id FROM walk GROUP BY node)\n"
        "SELECT node AS doc_id, cluster_id,\n"
        "       CAST(CASE WHEN node = cluster_id THEN 1 ELSE 0 END AS INTEGER)\n"
        "           AS is_survivor\n"
        "FROM comp"
    )


@register(
    "neardup_clusters",
    _clusters_sql(),
    doc="Near-dup PAIRS resolved into CLUSTERS (connected components, "
    "operators/connected_components.py) with a deterministic min-id "
    "survivor per cluster — the keep/drop decision a curation pipeline "
    "actually executes. Oracle: recursive-CTE transitive closure.",
)
def q_neardup_clusters(spark, sf_dir):
    arr = doc_shingle_arrays(derived_corpus(spark, sf_dir)).localCheckpoint(
        eager=False
    )
    cand = lsh_candidate_pairs(minhash_signatures_exploded(arr))
    pairs = jaccard_on_pairs_arrays(cand, arr).filter(F.col("jaccard") >= 0.5)
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).cast("int").alias("is_survivor"),
    )


# ------------------------------------- benchmark decontamination

# A training-data pipeline must detect eval-set contamination before
# training: any training doc sharing a long n-gram (8 here) with a
# benchmark document is suspect. The derived corpus plants the
# contamination deterministically: originals with doc_id % 10 == 0
# act as the "benchmark" set, and their exact copies (+100000) — plus
# near-copies of % 70 == 0 docs — sit in the training side.


def _ngram_sql_8(src: str) -> str:
    cat = " || ' ' || ".join(f"t[i+{j}]" for j in range(8))
    return (
        f"SELECT DISTINCT doc_id, {cat} AS shingle FROM ("
        r"SELECT doc_id, regexp_extract_all(text, '\S+') AS t, "
        "unnest(generate_series(1, greatest(len(regexp_extract_all(text, "
        r"'\S+')) - 7, 0))) AS i "
        f"FROM {src})"
    )


_CONTAM_SQL = f"""
WITH {_CORPUS_SQL},
sh8 AS ({_ngram_sql_8("corpus")}),
bench AS (
    SELECT DISTINCT shingle FROM sh8 WHERE doc_id % 10 = 0 AND doc_id < 100000
),
train AS (
    SELECT * FROM sh8 WHERE NOT (doc_id % 10 = 0 AND doc_id < 100000)
),
hits AS (
    SELECT t.doc_id, COUNT(*) AS n_overlapping_ngrams
    FROM train t JOIN bench b ON t.shingle = b.shingle
    GROUP BY t.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM train GROUP BY doc_id)
SELECT h.doc_id,
       h.n_overlapping_ngrams,
       ROUND(CAST(h.n_overlapping_ngrams AS DOUBLE) / s.n_sh, 6)
           AS contamination_ratio
FROM hits h JOIN sizes s ON h.doc_id = s.doc_id
"""


@register(
    "benchmark_contamination",
    _CONTAM_SQL,
    doc="Eval-set decontamination: training docs sharing >= 1 8-gram "
    "with the benchmark partition, with overlap counts and the "
    "contaminated fraction of each doc's 8-grams. The benchmark "
    "shingle set is deduped before the join; at 100 TB it is orders "
    "of magnitude smaller than the corpus, so the probe join "
    "broadcasts and the scan side never shuffles.",
)
def q_benchmark_contamination(spark, sf_dir):
    # Array representation: the per-doc 8-gram sets never pay an
    # explode+distinct exchange; sizes are F.size() on the array; only
    # the probe join sees exploded rows (and the bench side dedups
    # before broadcasting).
    arr8 = doc_shingle_arrays(derived_corpus(spark, sf_dir), n=8).localCheckpoint(
        eager=False
    )
    is_bench = (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 100000)
    # The probe runs on xxhash64(shingle): the bench set dedups and
    # broadcasts as longs (8 bytes/row vs ~60-byte strings) and the
    # join compares longs — same trick as corpus_curation's decontam
    # pass; a collision (P ~ 1e-10) would add one spurious overlap.
    bench = (
        arr8.filter(is_bench)
        .select(F.explode("shingles").alias("__s"))
        .select(F.xxhash64("__s").alias("__sh"))
        .distinct()
    )
    train_arr = arr8.filter(~is_bench)
    train = train_arr.select(
        "doc_id", F.explode("shingles").alias("__s")
    ).select("doc_id", F.xxhash64("__s").alias("__sh"))
    sizes = train_arr.select("doc_id", F.size("shingles").alias("n_sh"))
    hits = (
        train.join(F.broadcast(bench), on="__sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlapping_ngrams"))
    )
    return hits.join(sizes, on="doc_id").select(
        "doc_id",
        "n_overlapping_ngrams",
        F.round(
            F.col("n_overlapping_ngrams").cast("double") / F.col("n_sh"), 6
        ).alias("contamination_ratio"),
    )


# ------------------------------------- near-dup graph degree profile


def _degree_hist_sql() -> str:
    return (
        "WITH pairs AS (\n"
        + _minhash_sql()
        + "\n),\n"
        "deg AS (\n"
        "    SELECT node, COUNT(*) AS degree FROM (\n"
        "        SELECT doc_a AS node FROM pairs\n"
        "        UNION ALL\n"
        "        SELECT doc_b FROM pairs\n"
        "    ) GROUP BY node\n"
        ")\n"
        "SELECT CAST(degree AS BIGINT) AS degree, COUNT(*) AS n_docs\n"
        "FROM deg GROUP BY degree"
    )


@register(
    "neardup_degree_hist",
    _degree_hist_sql(),
    doc="Degree distribution of the near-dup pair graph — the skew "
    "diagnostic a dedup pipeline checks before clustering (a heavy "
    "tail means boilerplate supernodes that make connected components "
    "expensive; cap or pre-cluster those keys first). Exact integer "
    "histogram over the LSH pair output.",
)
def q_neardup_degree_hist(spark, sf_dir):
    arr = doc_shingle_arrays(derived_corpus(spark, sf_dir)).localCheckpoint(
        eager=False
    )
    cand = lsh_candidate_pairs(minhash_signatures_exploded(arr))
    pairs = jaccard_on_pairs_arrays(cand, arr).filter(F.col("jaccard") >= 0.5)
    deg = (
        pairs.select(F.col("doc_a").alias("node"))
        .unionByName(pairs.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    return deg.groupBy(F.col("degree").cast("long").alias("degree")).agg(
        F.count("*").alias("n_docs")
    )


# ------------------------- cross-source near-duplication matrix

_XSOURCE_SQL = f"""
SELECT least(sa.source, sb.source) AS source_lo,
       greatest(sa.source, sb.source) AS source_hi,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CAST(ROUND(p.jaccard * 1000000, 0) AS BIGINT))
            // COUNT(*) AS BIGINT) AS avg_jaccard_ppm
FROM ({_minhash_sql()}) p
JOIN documents sa ON sa.doc_id = p.doc_a % 100000
JOIN documents sb ON sb.doc_id = p.doc_b % 100000
GROUP BY 1, 2
"""


@register(
    "cross_source_neardup_matrix",
    _XSOURCE_SQL,
    doc="Which SOURCES near-duplicate each other: the MinHash+LSH pair "
    "stream (minhash_lsh_pairs, verified Jaccard >= 0.5) aggregated "
    "into a symmetric source-pair matrix (unordered pair key via "
    "least/greatest) with pair counts and exact integer-ppm mean "
    "Jaccard (float-free oracle surface). "
    "The curation view that decides which sources to drop or "
    "down-weight when corpora plagiarize each other — computed on the "
    "verified pair stream (|pairs| rows), so the matrix costs one "
    "broadcast source-map join + one agg on top of the LSH pipeline, "
    "nothing quadratic.",
)
def q_cross_source_neardup_matrix(spark, sf_dir):
    pairs = q_minhash_lsh_pairs(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    src_a = src.select(
        F.col("doc_id").alias("__ka"), F.col("source").alias("__sa")
    )
    src_b = src.select(
        F.col("doc_id").alias("__kb"), F.col("source").alias("__sb")
    )
    return (
        pairs.join(F.broadcast(src_a), F.col("doc_a") % 100000 == F.col("__ka"))
        .join(F.broadcast(src_b), F.col("doc_b") % 100000 == F.col("__kb"))
        .groupBy(
            F.least("__sa", "__sb").alias("source_lo"),
            F.greatest("__sa", "__sb").alias("source_hi"),
        )
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            # jaccard is a 6dp-rounded double, so jaccard*1e6 is within
            # 1e-9 of an integer on every row: round-to-int is exact on
            # both engines, and the mean stays in integer space (floor
            # ppm) — round 5's rounding audit found two fixture means
            # landing exactly on a 6-digit half boundary, where ROUND
            # over a double is engine-version-dependent (the
            # churn_hazard_table class).
            F.expr(
                "SUM(CAST(ROUND(jaccard * 1000000, 0) AS BIGINT))"
                " DIV COUNT(*)"
            )
            .cast("long")
            .alias("avg_jaccard_ppm"),
        )
    )


# ------------- incremental dedup: probe a NEW batch against the corpus

_INC_DEDUP_SQL = f"""
SELECT doc_a AS corpus_doc_id,
       doc_b AS new_doc_id,
       jaccard
FROM ({_minhash_sql()})
WHERE doc_a < 100000 AND doc_b >= 100000
"""


@register(
    "incremental_dedup_new_docs",
    _INC_DEDUP_SQL,
    doc="Incremental dedup: today's batch (the derived exact/near "
    "copies, ids >= 100000) is probed against the EXISTING corpus "
    "(the originals) with an ASYMMETRIC LSH band join "
    "(dedup/minhash.py::lsh_probe_candidates) — no batch-vs-batch or "
    "corpus-vs-corpus candidates are ever generated, and exact-Jaccard "
    "verification (>= 0.5) touches only the asymmetric candidates. "
    "THE dedup shape at 100 TB: the corpus side's signatures/bands are "
    "computed once and persistable (similarity/index.py is the ANN "
    "analogue), so each increment pays |batch| x collision work, never "
    "a full re-dedup. The oracle is the full symmetric pair set "
    "filtered to corpus-x-batch pairs — identical by construction "
    "(band collision is symmetric, verification exact).",
)
def q_incremental_dedup_new_docs(spark, sf_dir):
    from ecom_churn_lakehouse_spark.dedup.minhash import lsh_probe_candidates

    arr = doc_shingle_arrays(derived_corpus(spark, sf_dir)).localCheckpoint(
        eager=False
    )
    sigs = minhash_signatures_exploded(arr)
    corpus_sigs = sigs.filter(F.col("doc_id") < 100000)
    batch_sigs = sigs.filter(F.col("doc_id") >= 100000)
    cand = lsh_probe_candidates(corpus_sigs, batch_sigs)
    return (
        jaccard_on_pairs_arrays(cand, arr)
        .filter(F.col("jaccard") >= 0.5)
        .select(
            F.col("doc_a").alias("corpus_doc_id"),
            F.col("doc_b").alias("new_doc_id"),
            "jaccard",
        )
    )


# --------------------------------------- MinHash estimator accuracy


def _minhash_error_sql() -> str:
    """Oracle for minhash_estimate_error: LSH candidates with BOTH the
    signature-estimated and exact Jaccard (no threshold filter, LEFT
    JOIN keeps zero-overlap false positives)."""
    h = (
        "CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) % "
        + str(MINHASH_P)
    )
    mins = ",\n           ".join(
        f"MIN(({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MINHASH_P}) AS mh{i}"
        for i in range(NUM_HASHES)
    )
    band_selects = "\n    UNION ALL\n    ".join(
        "SELECT doc_id, {j} AS band_idx, ".format(j=j)
        + " || ',' || ".join(
            f"mh{j * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
        )
        + " AS band_key FROM sigs"
        for j in range(NUM_BANDS)
    )
    matches = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)"
        for i in range(NUM_HASHES)
    )
    return (
        f"WITH {_CORPUS_SQL}, {_SHINGLES_SQL},\n"
        f"hashed AS (SELECT doc_id, {h} AS h FROM shingled),\n"
        f"sigs AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id),\n"
        f"banded AS (\n    {band_selects}\n),\n"
        "cand AS (\n"
        "    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b\n"
        "    FROM banded a JOIN banded b\n"
        "      ON a.band_idx = b.band_idx AND a.band_key = b.band_key\n"
        "         AND a.doc_id < b.doc_id\n"
        "),\n"
        "sh_a AS (SELECT c.doc_a, c.doc_b, s.shingle FROM cand c"
        " JOIN shingled s ON c.doc_a = s.doc_id),\n"
        "common AS (\n"
        "    SELECT x.doc_a, x.doc_b, COUNT(*) AS n_common\n"
        "    FROM sh_a x JOIN shingled s2\n"
        "      ON x.doc_b = s2.doc_id AND x.shingle = s2.shingle\n"
        "    GROUP BY 1, 2\n"
        "),\n"
        "sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingled GROUP BY doc_id),\n"
        "exact AS (\n"
        "    SELECT c.doc_a, c.doc_b,\n"
        "           ROUND(CAST(COALESCE(m.n_common, 0) AS DOUBLE)\n"
        "                 / (sa.n_sh + sb.n_sh - COALESCE(m.n_common, 0)), 6)\n"
        "               AS exact_jaccard\n"
        "    FROM cand c\n"
        "    LEFT JOIN common m ON c.doc_a = m.doc_a AND c.doc_b = m.doc_b\n"
        "    JOIN sizes sa ON c.doc_a = sa.doc_id\n"
        "    JOIN sizes sb ON c.doc_b = sb.doc_id\n"
        ")\n"
        "SELECT e.doc_a, e.doc_b,\n"
        f"       ROUND(({matches}) / {NUM_HASHES}.0, 6) AS est_jaccard,\n"
        "       e.exact_jaccard,\n"
        f"       ROUND(ABS(ROUND(({matches}) / {NUM_HASHES}.0, 6)"
        " - e.exact_jaccard), 6) AS abs_err\n"
        "FROM exact e\n"
        "JOIN sigs sa ON e.doc_a = sa.doc_id\n"
        "JOIN sigs sb ON e.doc_b = sb.doc_id"
    )


@register(
    "minhash_estimate_error",
    _minhash_error_sql(),
    doc="Sketch-accuracy eval for the MinHash dedup surface: on every "
    "LSH candidate pair, the signature-ESTIMATED Jaccard (matching "
    "minhash components / K) next to the exact shingle-set Jaccard "
    "and their absolute error — the measurement that justifies (or "
    "indicts) K=16 before trusting the estimate at 100 TB, the "
    "Jaccard twin of ann_recall_eval. Zero-overlap false positives "
    "are KEPT (left join): they are precisely the pairs where the "
    "estimator is most wrong. Signatures are computed once and "
    "joined twice by pair id; the exact side touches candidates "
    "only (array_intersect, row-local).",
)
def q_minhash_estimate_error(spark, sf_dir):
    arr = doc_shingle_arrays(derived_corpus(spark, sf_dir)).localCheckpoint(
        eager=False
    )
    sigs = minhash_signatures_exploded(arr)
    cand = lsh_candidate_pairs(sigs)
    exact = jaccard_on_pairs_arrays(cand, arr).withColumnRenamed(
        "jaccard", "exact_jaccard"
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"__a{i}") for i in range(NUM_HASHES)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"__b{i}") for i in range(NUM_HASHES)],
    )
    matches = None
    for i in range(NUM_HASHES):
        term = (F.col(f"__a{i}") == F.col(f"__b{i}")).cast("int")
        matches = term if matches is None else matches + term
    est = F.round(matches / float(NUM_HASHES), 6)
    return (
        exact.join(sa, on="doc_a")
        .join(sb, on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            est.alias("est_jaccard"),
            "exact_jaccard",
            F.round(F.abs(est - F.col("exact_jaccard")), 6).alias("abs_err"),
        )
    )


# -------------------- dedup threshold decision curve

_TH_CURVE_SQL = f"""
WITH pairs AS ({_minhash_sql()}),
th AS (SELECT unnest([50, 60, 70, 80, 90]) AS t),
hit AS (
    SELECT th.t, p.doc_a, p.doc_b
    FROM pairs p JOIN th ON p.jaccard >= th.t / 100.0
),
pc AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM hit GROUP BY t),
dc AS (
    SELECT t, CAST(COUNT(DISTINCT d) AS BIGINT) AS n_docs_affected
    FROM (
        SELECT t, doc_a AS d FROM hit
        UNION ALL
        SELECT t, doc_b AS d FROM hit
    ) GROUP BY t
)
SELECT CAST(pc.t AS INTEGER) AS threshold_pct, pc.n_pairs,
       dc.n_docs_affected
FROM pc JOIN dc ON pc.t = dc.t
"""


@register(
    "neardup_threshold_curve",
    _TH_CURVE_SQL,
    doc="Dedup threshold decision curve: for candidate Jaccard cuts "
    "(0.5..0.9), how many verified near-dup pairs survive and how "
    "many documents they touch — the curve a curation team reads "
    "before fixing the dedup threshold (too low deletes content, too "
    "high ships duplicates). Computed as one fan-out aggregate over "
    "the ALREADY-banded LSH pair stream (|pairs| x 5 rows), so the "
    "sweep costs nothing beyond the pipeline it tunes — never a "
    "re-run of candidate generation per threshold.",
)
def q_neardup_threshold_curve(spark, sf_dir):
    pairs = q_minhash_lsh_pairs(spark, sf_dir)
    th = F.explode(
        F.array(*[F.lit(t).cast("int") for t in (50, 60, 70, 80, 90)])
    )
    hit = pairs.withColumn("t", th).filter(
        F.col("jaccard") >= F.col("t") / 100.0
    )
    pc = hit.groupBy("t").agg(F.count("*").cast("long").alias("n_pairs"))
    docs = hit.select("t", F.col("doc_a").alias("d")).unionByName(
        hit.select("t", F.col("doc_b").alias("d"))
    )
    dc = docs.groupBy("t").agg(
        F.countDistinct("d").cast("long").alias("n_docs_affected")
    )
    return pc.join(dc, on="t").select(
        F.col("t").alias("threshold_pct"), "n_pairs", "n_docs_affected"
    )


# -------------------- LSH bucket occupancy (banding skew diagnostic)

_BUCKET_OCC_SQL = f"""
{_minhash_banded_sql()},
buckets AS (
    SELECT band_idx, band_key, CAST(COUNT(*) AS BIGINT) AS sz
    FROM banded GROUP BY band_idx, band_key
)
SELECT sz AS bucket_size,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS n_candidate_pairs
FROM buckets
GROUP BY sz
"""


@register(
    "lsh_bucket_occupancy",
    _BUCKET_OCC_SQL,
    doc="LSH bucket-occupancy histogram: how many (band, key) buckets "
    "hold 1, 2, ... documents, and how many candidate pairs each "
    "size class generates (sz choose 2 per bucket) — THE diagnostic "
    "that predicts the banded join's cost before running it, because "
    "one boilerplate mega-bucket of size m contributes m(m-1)/2 "
    "pairs on its own (the supernode failure mode "
    "neardup_degree_hist measures after the fact; this measures it "
    "BEFORE pair generation, when capping or re-banding is still "
    "cheap). Pure integer aggregate over the banded relation — same "
    "banding spelling as minhash_lsh_pairs via the shared SQL head.",
)
def q_lsh_bucket_occupancy(spark, sf_dir):
    from ecom_churn_lakehouse_spark.dedup.minhash import banded_signatures

    # checkpoint before the explode or the optimizer collapses the
    # shingle-building transform into the Generate (the 7x trap —
    # measured 4.0 s -> 1.x s at sf0.1)
    arr = doc_shingle_arrays(derived_corpus(spark, sf_dir)).localCheckpoint(
        eager=False
    )
    banded = banded_signatures(minhash_signatures_exploded(arr))
    buckets = banded.groupBy("band_idx", "band_key").agg(
        F.count("*").cast("long").alias("sz")
    )
    return buckets.groupBy(F.col("sz").alias("bucket_size")).agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.sum(F.expr("sz * (sz - 1) DIV 2")).cast("long").alias(
            "n_candidate_pairs"
        ),
    )


# ------------------------------------- dedup savings datasheet by source

_SAVINGS_SQL = f"""
WITH clusters AS (
{_clusters_sql()}
),
{_CORPUS_SQL.strip()},
doc_src AS (
    SELECT c2.doc_id, CAST(length(c2.text) AS BIGINT) AS n_chars, d.source
    FROM corpus c2 JOIN documents d ON c2.doc_id % 100000 = d.doc_id
),
dec AS (
    SELECT ds.source, ds.n_chars,
           COALESCE(cl.is_survivor, 1) AS keep
    FROM doc_src ds LEFT JOIN clusters cl ON ds.doc_id = cl.doc_id
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN keep = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dropped,
       CAST(SUM(n_chars) AS BIGINT) AS chars_total,
       CAST(SUM(CASE WHEN keep = 0 THEN n_chars ELSE 0 END) AS BIGINT)
           AS chars_dropped,
       CAST(SUM(CASE WHEN keep = 0 THEN n_chars ELSE 0 END) * 1000000
            // SUM(n_chars) AS BIGINT) AS chars_dropped_ppm
FROM dec GROUP BY source
"""


@register(
    "dedup_savings_by_source",
    _SAVINGS_SQL,
    doc="The dedup DECISION quantified per source: how many documents "
    "and characters the near-dup keep-list (neardup_clusters' min-id "
    "survivors) would actually delete from each source, as exact "
    "integer counts and floor-division ppm — the number a curation "
    "team reads to see WHERE its duplicate mass lives (a source "
    "that loses 40% of its bytes to dedup is a scraper config bug, "
    "not a corpus property). Composes the cluster resolution with a "
    "metadata join back to the source dimension; the per-source "
    "rollup is map-side combinable and the cluster frame joins "
    "broadcast-size (|non-survivors| << |corpus| in any sane "
    "pipeline).",
)
def q_dedup_savings_by_source(spark, sf_dir):
    clusters = q_neardup_clusters(spark, sf_dir).select(
        "doc_id", "is_survivor"
    )
    corpus = derived_corpus(spark, sf_dir).select(
        "doc_id", F.length("text").cast("long").alias("n_chars")
    )
    src = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("base_id"), "source"
    )
    dec = (
        corpus.join(
            F.broadcast(src), corpus.doc_id % 100000 == src.base_id
        )
        .join(clusters, on="doc_id", how="left")
        .select(
            "source",
            "n_chars",
            F.coalesce(F.col("is_survivor"), F.lit(1)).alias("keep"),
        )
    )
    dropped_chars = F.sum(
        F.when(F.col("keep") == 0, F.col("n_chars")).otherwise(F.lit(0))
    )
    return dec.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum((F.col("keep") == 0).cast("long"))
        .cast("long")
        .alias("n_dropped"),
        F.sum("n_chars").cast("long").alias("chars_total"),
        dropped_chars.cast("long").alias("chars_dropped"),
        F.expr(
            "SUM(CASE WHEN keep = 0 THEN n_chars ELSE 0 END) * 1000000"
            " DIV SUM(n_chars)"
        )
        .cast("long")
        .alias("chars_dropped_ppm"),
    )


# ----------------------------- cluster size / chaining diagnostic

_CLUSTER_CHAIN_SQL = f"""
WITH comp AS (
{_clusters_sql()}
),
pairs2 AS (
{_minhash_sql()}
),
sizes AS (
    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz
    FROM comp GROUP BY cluster_id
),
direct AS (
    SELECT c.cluster_id, CAST(COUNT(*) AS BIGINT) AS n_direct
    FROM pairs2 p JOIN comp c ON p.doc_a = c.doc_id
    GROUP BY c.cluster_id
)
SELECT s.sz AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(CASE WHEN COALESCE(d.n_direct, 0)
                          = s.sz * (s.sz - 1) // 2
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_cliques,
       CAST(SUM(COALESCE(d.n_direct, 0)) AS BIGINT) AS n_direct_pairs
FROM sizes s LEFT JOIN direct d ON s.cluster_id = d.cluster_id
WHERE s.sz > 1
GROUP BY s.sz
"""


@register(
    "neardup_cluster_chain_audit",
    _CLUSTER_CHAIN_SQL,
    doc="Transitive-chaining audit of the near-dup clusters: per "
    "cluster-size class, how many clusters are CLIQUES (every "
    "member pair directly verified >= threshold) versus chained "
    "(members linked only transitively, A~B~C with A,C dissimilar) "
    "— the known failure mode of union-find dedup, where a chain "
    "of borderline pairs glues unrelated documents into one "
    "cluster and the min-id survivor deletes content that was "
    "never a duplicate of it. n_cliques == n_clusters is the "
    "healthy reading; a chained mega-cluster says tighten the "
    "threshold or switch the drop rule to pairwise. Reuses the "
    "cluster and pair relations; the audit itself is two "
    "broadcast-size joins.",
)
def q_neardup_cluster_chain_audit(spark, sf_dir):
    arr = doc_shingle_arrays(derived_corpus(spark, sf_dir)).localCheckpoint(
        eager=False
    )
    cand = lsh_candidate_pairs(minhash_signatures_exploded(arr))
    pairs = jaccard_on_pairs_arrays(cand, arr).filter(
        F.col("jaccard") >= 0.5
    ).localCheckpoint(eager=False)
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    comp = cc.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    sizes = comp.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("sz")
    )
    direct = (
        pairs.join(
            comp.withColumnRenamed("doc_id", "doc_a"), on="doc_a"
        )
        .groupBy("cluster_id")
        .agg(F.count("*").cast("long").alias("n_direct"))
    )
    joined = sizes.join(direct, on="cluster_id", how="left").select(
        "sz",
        F.coalesce(F.col("n_direct"), F.lit(0)).alias("n_direct"),
    )
    return (
        joined.filter(F.col("sz") > 1)
        .groupBy(F.col("sz").alias("cluster_size"))
        .agg(
            F.count("*").cast("long").alias("n_clusters"),
            F.sum(
                (
                    F.col("n_direct")
                    == F.expr("sz * (sz - 1) DIV 2")
                ).cast("long")
            )
            .cast("long")
            .alias("n_cliques"),
            F.sum("n_direct").cast("long").alias("n_direct_pairs"),
        )
    )


# ------------------------------------------------- containment near-dup

#: Directional containment threshold C(A in B) = |A∩B| / |A| >= 0.8.
_CONTAIN_T = 0.8
_CONTAIN_PPM = 800_000

#: Corpus with planted SUB-documents: doc_id%5==0 contributes its
#: first half (doc_id+300000). Containment(half -> original) ≈ 1.0
#: while Jaccard ≈ 0.5 — exactly the duplication Jaccard-thresholded
#: dedup misses (chunked re-posts, quoted excerpts, truncated crawls).
_CONTAIN_CORPUS_SQL = r"""
ccorpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 300000 AS doc_id,
           array_to_string(
               (regexp_extract_all(text, '\S+'))[1:len(regexp_extract_all(text, '\S+')) // 2],
               ' ') AS text
    FROM documents WHERE doc_id % 5 = 0
)
"""

_CONTAIN_SQL = (
    f"WITH {_CONTAIN_CORPUS_SQL}, "
    + _SHINGLES_SQL.replace("FROM corpus", "FROM ccorpus").lstrip()
    + f""",
sizes AS (
    SELECT doc_id, COUNT(*) AS n_sh FROM shingled GROUP BY doc_id
),
common AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
    FROM shingled a JOIN shingled b
      ON a.shingle = b.shingle AND a.doc_id != b.doc_id
    GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b,
       CAST(c.n_common AS BIGINT) AS n_common,
       CAST(sa.n_sh AS BIGINT) AS n_a,
       CAST(c.n_common * 1000000 // sa.n_sh AS BIGINT) AS containment_ppm
FROM common c
JOIN sizes sa ON c.doc_a = sa.doc_id
WHERE c.n_common * 1000000 // sa.n_sh >= {_CONTAIN_PPM}
"""
)


def _containment_corpus(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    halves = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.array_join(
            F.slice(toks, 1, (F.size(toks) / 2).cast("int")), " "
        ).alias("text"),
    )
    return docs.unionByName(halves)


@register(
    "containment_neardup_pairs",
    _CONTAIN_SQL,
    doc="DIRECTIONAL containment dedup C(A in B)=|A∩B|/|A| >= 0.8 — "
    "catches sub-document duplication (quoted excerpts, truncated "
    "crawls, chunk re-posts) that symmetric Jaccard misses: the "
    "planted half-documents sit at containment ~1.0 but Jaccard ~0.5. "
    "Candidates come from the asymmetric prefix filter: A's "
    "|A|-ceil(0.8|A|)+1 RAREST shingles must hit B's full set when "
    "containment holds (lossless, same WWW'08 principle as "
    "dedup/ppjoin.py but one-sided since containment does not bound "
    "|B|), and rarest-first ordering keeps the candidate join on cold "
    "keys. Verification intersects compact shingle arrays on "
    "candidates only; score is exact integer ppm.",
)
def q_containment_neardup_pairs(spark, sf_dir):
    from pyspark.sql.window import Window

    corpus = _containment_corpus(spark, sf_dir)
    arr = doc_shingle_arrays(corpus).localCheckpoint(eager=False)
    sh = arr.select("doc_id", F.explode("shingles").alias("shingle"))
    # Asymmetric prefix filter: rank each doc's shingles rarest-first;
    # the contained side exposes only its prefix, the container side
    # its full set.
    freq = sh.groupBy("shingle").agg(F.count("*").alias("__cnt"))
    w_doc = Window.partitionBy("doc_id")
    ranked = sh.join(freq, on="shingle").select(
        "doc_id",
        "shingle",
        F.row_number().over(w_doc.orderBy("__cnt", "shingle")).alias("__pos"),
        F.count("*").over(w_doc).alias("__n"),
    )
    prefix = ranked.filter(
        F.col("__pos") <= F.col("__n") - F.ceil(F.lit(_CONTAIN_T) * F.col("__n")) + 1
    ).select(F.col("doc_id").alias("doc_a"), "shingle")
    full = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    cand = (
        prefix.join(full, on="shingle")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    a = arr.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("__sh_a"),
        F.size("shingles").alias("__n_a"),
    )
    b = arr.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("__sh_b"))
    n_common = F.size(F.array_intersect("__sh_a", "__sh_b"))
    return (
        cand.join(a, on="doc_a")
        .join(b, on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_common.cast("long").alias("n_common"),
            F.col("__n_a").cast("long").alias("n_a"),
            F.expr(
                f"CAST(size(array_intersect(__sh_a, __sh_b)) * 1000000 DIV __n_a AS BIGINT)"
            ).alias("containment_ppm"),
        )
        .filter(F.col("containment_ppm") >= _CONTAIN_PPM)
    )


# --------------------------------------- density clustering (DBSCAN-style)

_DBSCAN_MIN_PTS = 2


def _density_clusters_sql() -> str:
    # epsilon-neighborhood = the verified cosine>=threshold pair graph
    # (the embedding_neardup_pairs oracle embeds as the pairs CTE);
    # recursive walk = transitive closure over CORE-CORE edges only.
    return (
        "WITH RECURSIVE pairs AS (\n"
        + _NEARDUP_SQL
        + "\n),\n"
        "adj AS (\n"
        "    SELECT doc_a AS u, doc_b AS v FROM pairs\n"
        "    UNION ALL\n"
        "    SELECT doc_b, doc_a FROM pairs\n"
        "),\n"
        "deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS n_neighbors FROM adj GROUP BY u),\n"
        f"core AS (SELECT u FROM deg WHERE n_neighbors >= {_DBSCAN_MIN_PTS}),\n"
        "cc_edges AS (\n"
        "    SELECT a.u, a.v FROM adj a\n"
        "    JOIN core x ON x.u = a.u JOIN core y ON y.u = a.v\n"
        "),\n"
        "walk(node, reach) AS (\n"
        "    SELECT u, u FROM cc_edges\n"
        "    UNION\n"
        "    SELECT w.node, e.v FROM walk w JOIN cc_edges e ON e.u = w.reach\n"
        "),\n"
        "core_lab AS (SELECT node, MIN(reach) AS cluster_id FROM walk GROUP BY node),\n"
        "border AS (\n"
        "    SELECT a.u AS node, MIN(cl.cluster_id) AS cluster_id\n"
        "    FROM adj a\n"
        "    JOIN core_lab cl ON cl.node = a.v\n"
        "    WHERE a.u NOT IN (SELECT u FROM core)\n"
        "    GROUP BY a.u\n"
        ")\n"
        "SELECT c.node AS vec_id, c.cluster_id, d.n_neighbors, 'core' AS role\n"
        "FROM core_lab c JOIN deg d ON d.u = c.node\n"
        "UNION ALL\n"
        "SELECT b.node AS vec_id, b.cluster_id, d.n_neighbors, 'border' AS role\n"
        "FROM border b JOIN deg d ON d.u = b.node"
    )


@register(
    "embedding_density_clusters",
    _density_clusters_sql(),
    doc=f"DBSCAN-style density clustering over the embedding corpus: "
    "the epsilon-neighborhood is the VERIFIED cosine pair graph the "
    "banded sign-LSH already produces (embedding_neardup_pairs), core "
    f"points have >= {_DBSCAN_MIN_PTS} neighbors, clusters are "
    "connected components over CORE-CORE edges "
    "(operators/connected_components.py — star contraction, or "
    "union-find on the driver when the edge list is broadcast-small; "
    "the oracle walks a recursive transitive closure), "
    "and border points "
    "attach to the MIN cluster id among their core neighbors "
    "(deterministic). Density clustering beyond kmeans_two_rounds' "
    "centroid model, built entirely from candidates-only machinery: "
    "no stage ever touches the all-pairs space, so the operator "
    "inherits the near-dup pipeline's 100 TB posture.",
)
def q_embedding_density_clusters(spark, sf_dir):
    from ecom_churn_lakehouse_spark.similarity.ann import (
        banded_sign_buckets,
        neardup_pairs,
    )

    corpus = (
        derived_vectors(spark, sf_dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=False)
    )
    planes = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _NEARDUP_PLANES
    ).select(F.col("vec_id").alias("plane_id"), "embedding")
    banded = banded_sign_buckets(corpus, planes, _NEARDUP_ROWS_PER_BAND)
    pairs = (
        neardup_pairs(banded, corpus, _NEARDUP_THRESHOLD)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    adj = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).unionByName(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    deg = adj.groupBy("u").agg(F.count("*").cast("long").alias("n_neighbors"))
    core = deg.filter(F.col("n_neighbors") >= _DBSCAN_MIN_PTS).select("u")
    cc_edges = adj.join(core, on="u").join(
        core.select(F.col("u").alias("v")), on="v"
    )
    # A min-pts density CORE graph: long percolation chains, which the
    # operator's star contraction (or driver union-find) labels exactly.
    core_lab = connected_components(
        cc_edges.select(F.col("u").alias("doc_a"), F.col("v").alias("doc_b")),
        src="doc_a",
        dst="doc_b",
    ).select("node", F.col("label").alias("cluster_id"))
    border = (
        adj.join(core, on="u", how="left_anti")  # non-core endpoints only
        .join(core_lab.select(F.col("node").alias("v"), "cluster_id"), on="v")
        .groupBy(F.col("u").alias("node"))
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    out_core = (
        core_lab.join(deg, core_lab.node == deg.u)
        .select(
            F.col("node").alias("vec_id"),
            "cluster_id",
            "n_neighbors",
            F.lit("core").alias("role"),
        )
    )
    out_border = (
        border.join(deg, border.node == deg.u)
        .select(
            F.col("node").alias("vec_id"),
            "cluster_id",
            "n_neighbors",
            F.lit("border").alias("role"),
        )
    )
    return out_core.unionByName(out_border)


# ----------------------------------------------- span-level exact dedup

#: Span length (tokens) for the repeated-span scan — the "50-token
#: boilerplate" failure mode scaled to the fixture's ~40-token docs.
_SPAN_L = 8

#: Planted boilerplate (13 tokens), prepended to every 5th doc on BOTH
#: engines: the classic license-header span that document-level
#: Jaccard/containment dedup never flags (13 tokens of a 250-token doc
#: is ~5% similarity) but span-level dedup must remove.
_SPAN_BP = (
    "terms of service apply all rights reserved "
    "contact the vendor for more info"
)

_SPAN_SQL = f"""
WITH corpus AS (
    SELECT doc_id, source,
           CASE WHEN doc_id % 5 = 0 THEN '{_SPAN_BP} ' || text ELSE text END AS text
    FROM documents
),
toks AS (
    SELECT doc_id, source, regexp_extract_all(trim(text), '\\S+') AS t FROM corpus
),
sized AS (
    SELECT doc_id, source, CAST(len(t) AS BIGINT) AS n_tokens, t FROM toks
),
totals AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM sized GROUP BY source
),
occ AS (
    SELECT doc_id, source,
           CAST(unnest(generate_series(1, n_tokens - {_SPAN_L - 1})) AS BIGINT) AS pos,
           t
    FROM sized WHERE n_tokens >= {_SPAN_L}
),
hashed AS (
    SELECT doc_id, source, pos,
           md5(array_to_string(t[pos:pos + {_SPAN_L - 1}], ' ')) AS h
    FROM occ
),
marked AS (
    SELECT doc_id, source, pos,
           COUNT(*) OVER (PARTITION BY h) AS cnt,
           ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
    FROM hashed
),
iv AS (
    SELECT doc_id, source, pos AS s, pos + {_SPAN_L - 1} AS e
    FROM marked WHERE cnt > 1 AND rn > 1
),
flagged AS (
    SELECT doc_id, source, s, e,
           MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
    FROM iv
),
isl AS (
    SELECT doc_id, source, s, e,
           SUM(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM flagged
),
covered AS (
    SELECT doc_id, source, island, MAX(e) - MIN(s) + 1 AS cov
    FROM isl GROUP BY doc_id, source, island
),
perdoc AS (
    SELECT doc_id, source, CAST(SUM(cov) AS BIGINT) AS rm
    FROM covered GROUP BY doc_id, source
),
persrc AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS affected_docs,
           CAST(SUM(rm) AS BIGINT) AS removable_tokens
    FROM perdoc GROUP BY source
)
SELECT t.source, t.n_docs,
       CAST(COALESCE(p.affected_docs, 0) AS BIGINT) AS affected_docs,
       t.total_tokens,
       CAST(COALESCE(p.removable_tokens, 0) AS BIGINT) AS removable_tokens,
       CAST(COALESCE(p.removable_tokens, 0) * 1000000 // t.total_tokens
            AS BIGINT) AS removable_ppm
FROM totals t LEFT JOIN persrc p USING (source)
ORDER BY t.source
"""


@register(
    "repeated_span_exact_dedup",
    _SPAN_SQL,
    doc=f"Span-level exact substring dedup (VERDICT r6 #4; ExactSubstr "
    "discipline, Lee et al. 'Deduplicating Training Data Makes LMs "
    f"Better'): every positional {_SPAN_L}-token span is hashed, spans "
    "occurring more than once corpus-wide keep only their first "
    "occurrence (min doc_id, pos), and every other occurrence's token "
    "range is removable; overlapping removable ranges are unioned per "
    "doc (gaps-and-islands) and reported per source as exact removable-"
    "token counts + ppm. Catches the failure mode document-level "
    "shingle/containment dedup misses: one exact boilerplate span "
    "repeated across thousands of otherwise-distinct docs (a 13-token "
    "license header is planted on every 5th doc on both engines). "
    "Scale: one explode over cheap index sequences (span text built "
    "AFTER the Generate — the 7x fused-transform trap), one shuffle "
    "bucketed by span hash (never all-pairs; group sizes bounded by "
    "the duplication factor), then per-doc windows. Reference keyed-"
    "dedup analogue: src/transformations/orders_bronze_to_silver.py:79-90.",
)
def q_repeated_span_exact_dedup(spark, sf_dir):
    from pyspark.sql.window import Window

    L = _SPAN_L
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    corpus = docs.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(_SPAN_BP + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    sized = corpus.select(
        "doc_id",
        "source",
        F.split(F.trim(F.col("text")), r"\s+").alias("__toks"),
    ).select(
        "doc_id",
        "source",
        "__toks",
        F.size("__toks").cast("long").alias("n_tokens"),
    )
    totals = sized.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )
    # explode the CHEAP index sequence; build each span hash after the
    # Generate (doc_shingles plan shape — avoids the fused-transform 7x)
    exploded = sized.filter(F.col("n_tokens") >= L).select(
        "doc_id",
        "source",
        "__toks",
        F.explode(
            F.sequence(F.lit(1), (F.col("n_tokens") - (L - 1)).cast("int"))
        ).alias("pos"),
    )
    occ = exploded.select(
        "doc_id",
        "source",
        F.col("pos").cast("long").alias("pos"),
        F.md5(F.array_join(F.slice("__toks", F.col("pos"), L), " ")).alias("h"),
    )
    wh = Window.partitionBy("h")
    who = Window.partitionBy("h").orderBy("doc_id", "pos")
    marked = occ.select(
        "doc_id",
        "source",
        "pos",
        F.count("*").over(wh).alias("cnt"),
        F.row_number().over(who).alias("rn"),
    )
    iv = marked.filter((F.col("cnt") > 1) & (F.col("rn") > 1)).select(
        "doc_id",
        "source",
        F.col("pos").alias("s"),
        (F.col("pos") + (L - 1)).alias("e"),
    )
    wprev = Window.partitionBy("doc_id").orderBy("s").rowsBetween(
        Window.unboundedPreceding, -1
    )
    flagged = iv.select(
        "doc_id", "source", "s", "e", F.max("e").over(wprev).alias("prev_max")
    )
    wrun = Window.partitionBy("doc_id").orderBy("s").rowsBetween(
        Window.unboundedPreceding, 0
    )
    new_island = F.when(
        F.col("prev_max").isNull() | (F.col("s") > F.col("prev_max")), 1
    ).otherwise(0)
    isl = flagged.select(
        "doc_id", "source", "s", "e", F.sum(new_island).over(wrun).alias("island")
    )
    covered = isl.groupBy("doc_id", "source", "island").agg(
        (F.max("e") - F.min("s") + 1).alias("cov")
    )
    perdoc = covered.groupBy("doc_id", "source").agg(
        F.sum("cov").cast("long").alias("rm")
    )
    persrc = perdoc.groupBy("source").agg(
        F.count("*").cast("long").alias("affected_docs"),
        F.sum("rm").cast("long").alias("removable_tokens"),
    )
    return (
        totals.join(persrc, "source", "left")
        .fillna(0, subset=["affected_docs", "removable_tokens"])
        .select(
            "source",
            "n_docs",
            "affected_docs",
            "total_tokens",
            "removable_tokens",
            F.expr(
                "CAST(removable_tokens * 1000000 DIV total_tokens AS BIGINT)"
            ).alias("removable_ppm"),
        )
        .orderBy("source")
    )


# ------------------------------------------ incremental span dedup

_INC_SPAN_SQL = f"""
WITH corpus AS (
    SELECT doc_id, source,
           CASE WHEN doc_id % 5 = 0 THEN '{_SPAN_BP} ' || text ELSE text END AS text
    FROM documents
),
sized AS (
    SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens, t
    FROM (SELECT doc_id, regexp_extract_all(trim(text), '\\S+') AS t FROM corpus)
),
base_occ AS (
    SELECT doc_id, t,
           CAST(unnest(generate_series(1, n_tokens - {_SPAN_L - 1})) AS BIGINT) AS pos
    FROM sized WHERE doc_id % 10 <> 0 AND n_tokens >= {_SPAN_L}
),
base_idx AS (
    SELECT DISTINCT md5(array_to_string(t[pos:pos + {_SPAN_L - 1}], ' ')) AS h
    FROM base_occ
),
batch_occ AS (
    SELECT doc_id, t,
           CAST(unnest(generate_series(1, n_tokens - {_SPAN_L - 1})) AS BIGINT) AS pos
    FROM sized WHERE doc_id % 10 = 0 AND n_tokens >= {_SPAN_L}
),
batch_hashed AS (
    SELECT doc_id, pos,
           md5(array_to_string(t[pos:pos + {_SPAN_L - 1}], ' ')) AS h
    FROM batch_occ
),
hits AS (
    SELECT bh.doc_id, bh.pos AS s, bh.pos + {_SPAN_L - 1} AS e
    FROM batch_hashed bh JOIN base_idx USING (h)
),
flagged AS (
    SELECT doc_id, s, e,
           MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
    FROM hits
),
isl AS (
    SELECT doc_id, s, e,
           SUM(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM flagged
),
perdoc AS (
    SELECT doc_id, CAST(SUM(cov) AS BIGINT) AS rm
    FROM (SELECT doc_id, island, MAX(e) - MIN(s) + 1 AS cov
          FROM isl GROUP BY doc_id, island)
    GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens,
       CAST(COALESCE(p.rm, 0) AS BIGINT) AS removable_tokens,
       CAST(COALESCE(p.rm, 0) * 1000000 // b.n_tokens AS BIGINT) AS removable_ppm
FROM (SELECT doc_id, n_tokens FROM sized WHERE doc_id % 10 = 0) b
LEFT JOIN perdoc p USING (doc_id)
ORDER BY b.doc_id
"""


@register(
    "incremental_span_dedup",
    _INC_SPAN_SQL,
    doc="Incremental span-level dedup — the ingest-time form of "
    "repeated_span_exact_dedup: an arriving batch (every 10th doc) is "
    "scanned against the BASE corpus's span-hash index only, so the "
    "cost per ingest is |batch spans| + one bucketed semi-join "
    "against the index, never a corpus-wide rescan. Each batch doc "
    "reports the token coverage (gaps-and-islands union) of its "
    "spans already present in the base — the removable prefix here is "
    "the planted 13-token license header, which every batch doc "
    "shares with base docs ending in 5. Scale: the base index is "
    "distinct span hashes (build once, maintain by append); the "
    "per-batch work is proportional to the batch, which is the whole "
    "point of incremental maintenance (same contract as "
    "incremental_dedup_new_docs, one level deeper than doc-grain).",
)
def q_incremental_span_dedup(spark, sf_dir):
    from pyspark.sql.window import Window

    L = _SPAN_L
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(_SPAN_BP + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    sized = corpus.select(
        "doc_id",
        F.split(F.trim(F.col("text")), r"\s+").alias("__toks"),
    ).select(
        "doc_id", "__toks", F.size("__toks").cast("long").alias("n_tokens")
    )

    def occ(df):
        ex = df.filter(F.col("n_tokens") >= L).select(
            "doc_id",
            "__toks",
            F.explode(
                F.sequence(F.lit(1), (F.col("n_tokens") - (L - 1)).cast("int"))
            ).alias("pos"),
        )
        return ex.select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.md5(F.array_join(F.slice("__toks", F.col("pos"), L), " ")).alias(
                "h"
            ),
        )

    base_idx = occ(sized.filter(F.col("doc_id") % 10 != 0)).select("h").distinct()
    batch = sized.filter(F.col("doc_id") % 10 == 0)
    hits = (
        occ(batch)
        .join(base_idx, "h", "left_semi")
        .select(
            "doc_id", F.col("pos").alias("s"), (F.col("pos") + (L - 1)).alias("e")
        )
    )
    wprev = Window.partitionBy("doc_id").orderBy("s").rowsBetween(
        Window.unboundedPreceding, -1
    )
    flagged = hits.select(
        "doc_id", "s", "e", F.max("e").over(wprev).alias("prev_max")
    )
    wrun = Window.partitionBy("doc_id").orderBy("s").rowsBetween(
        Window.unboundedPreceding, 0
    )
    new_island = F.when(
        F.col("prev_max").isNull() | (F.col("s") > F.col("prev_max")), 1
    ).otherwise(0)
    isl = flagged.select(
        "doc_id", "s", "e", F.sum(new_island).over(wrun).alias("island")
    )
    perdoc = (
        isl.groupBy("doc_id", "island")
        .agg((F.max("e") - F.min("s") + 1).alias("cov"))
        .groupBy("doc_id")
        .agg(F.sum("cov").cast("long").alias("rm"))
    )
    return (
        batch.select("doc_id", "n_tokens")
        .join(perdoc, "doc_id", "left")
        .fillna(0, subset=["rm"])
        .select(
            "doc_id",
            "n_tokens",
            F.col("rm").alias("removable_tokens"),
            F.expr("CAST(rm * 1000000 DIV n_tokens AS BIGINT)").alias(
                "removable_ppm"
            ),
        )
        .orderBy("doc_id")
    )


def span_removable_per_doc(corpus: DataFrame, L: int = _SPAN_L) -> DataFrame:
    """Removable-token coverage per doc: positional ``L``-gram hashes,
    corpus-wide duplicated spans keep only their first (doc_id, pos)
    occurrence, every other occurrence's range is unioned per doc
    (gaps-and-islands). Returns ``(doc_id, rm)``. Shared by
    repeated_span_exact_dedup / curation_keep_manifest so the manifest
    is the same relation the standalone entry reports."""
    from pyspark.sql.window import Window

    sized = corpus.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("__toks")
    ).select(
        "doc_id", "__toks", F.size("__toks").cast("long").alias("n_tokens")
    )
    ex = sized.filter(F.col("n_tokens") >= L).select(
        "doc_id",
        "__toks",
        F.explode(
            F.sequence(F.lit(1), (F.col("n_tokens") - (L - 1)).cast("int"))
        ).alias("pos"),
    )
    occ = ex.select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.md5(F.array_join(F.slice("__toks", F.col("pos"), L), " ")).alias("h"),
    )
    wh = Window.partitionBy("h")
    who = Window.partitionBy("h").orderBy("doc_id", "pos")
    iv = (
        occ.select(
            "doc_id",
            "pos",
            F.count("*").over(wh).alias("cnt"),
            F.row_number().over(who).alias("rn"),
        )
        .filter((F.col("cnt") > 1) & (F.col("rn") > 1))
        .select("doc_id", F.col("pos").alias("s"), (F.col("pos") + (L - 1)).alias("e"))
    )
    wprev = Window.partitionBy("doc_id").orderBy("s").rowsBetween(
        Window.unboundedPreceding, -1
    )
    flagged = iv.select(
        "doc_id", "s", "e", F.max("e").over(wprev).alias("prev_max")
    )
    wrun = Window.partitionBy("doc_id").orderBy("s").rowsBetween(
        Window.unboundedPreceding, 0
    )
    new_island = F.when(
        F.col("prev_max").isNull() | (F.col("s") > F.col("prev_max")), 1
    ).otherwise(0)
    return (
        flagged.select(
            "doc_id", "s", "e", F.sum(new_island).over(wrun).alias("island")
        )
        .groupBy("doc_id", "island")
        .agg((F.max("e") - F.min("s") + 1).alias("cov"))
        .groupBy("doc_id")
        .agg(F.sum("cov").cast("long").alias("rm"))
    )


# --------------------------------------- span length sensitivity curve

_SPAN_CURVE_LS = (6, 8, 12)


def _span_curve_one_sql(L: int) -> str:
    return f"""
    SELECT {L} AS span_len,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS affected_docs,
           CAST(COALESCE(SUM(cov), 0) AS BIGINT) AS removable_tokens
    FROM (
        SELECT doc_id, island, MAX(e) - MIN(s) + 1 AS cov
        FROM (
            SELECT doc_id, s, e,
                   SUM(CASE WHEN prev_max IS NULL OR s > prev_max
                            THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY s
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS island
            FROM (
                SELECT doc_id, s, e,
                       MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS prev_max
                FROM (
                    SELECT doc_id, pos AS s, pos + {L - 1} AS e
                    FROM (
                        SELECT doc_id, pos,
                               COUNT(*) OVER (PARTITION BY h) AS cnt,
                               ROW_NUMBER() OVER (PARTITION BY h
                                                  ORDER BY doc_id, pos) AS rn
                        FROM (
                            SELECT doc_id, pos,
                                   md5(array_to_string(
                                       t[pos:pos + {L - 1}], ' ')) AS h
                            FROM (
                                SELECT doc_id, t,
                                       CAST(unnest(generate_series(
                                           1, n_tokens - {L - 1}))
                                           AS BIGINT) AS pos
                                FROM sized WHERE n_tokens >= {L}
                            )
                        )
                    ) WHERE cnt > 1 AND rn > 1
                )
            )
        ) GROUP BY doc_id, island
    )
"""


_SPAN_CURVE_SQL = f"""
WITH corpus AS (
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 0 THEN '{_SPAN_BP} ' || text ELSE text END AS text
    FROM documents
),
sized AS (
    SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens, t
    FROM (SELECT doc_id, regexp_extract_all(trim(text), '\\S+') AS t FROM corpus)
),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM sized)
SELECT CAST(span_len AS INTEGER) AS span_len, affected_docs, removable_tokens,
       CAST(removable_tokens * 1000000 // total_tokens AS BIGINT)
           AS removable_ppm
FROM ({" UNION ALL ".join(_span_curve_one_sql(L) for L in _SPAN_CURVE_LS)}) c, tot
ORDER BY span_len
"""


@register(
    "span_dedup_savings_curve",
    _SPAN_CURVE_SQL,
    doc=f"Minimum-span-length sensitivity curve for span-level dedup: "
    f"removable-token coverage at L in {_SPAN_CURVE_LS} over the same "
    "boilerplate-planted corpus as repeated_span_exact_dedup. "
    "Shorter L removes more (catching coincidental n-gram repeats — "
    "the precision risk), longer L only the true boilerplate — the "
    "curve's knee is how the ExactSubstr literature picks its "
    "threshold, measured instead of guessed. Monotone non-increasing "
    "in L by construction (pinned in tests). Scale: one span-hash "
    "bucketed pass per L (|Ls| fixed small); each pass is the "
    "standalone entry's plan.",
)
def q_span_dedup_savings_curve(spark, sf_dir):
    from pyspark.sql import DataFrame as _DF

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(_SPAN_BP + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    ).localCheckpoint(eager=False)
    total = corpus.select(
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n")
    ).agg(F.sum("n").cast("long").alias("total_tokens"))

    out: _DF | None = None
    for L in _SPAN_CURVE_LS:
        perdoc = span_removable_per_doc(corpus, L=L)
        one = perdoc.agg(
            F.count("*").cast("long").alias("affected_docs"),
            F.coalesce(F.sum("rm"), F.lit(0)).cast("long").alias(
                "removable_tokens"
            ),
        ).select(
            F.lit(L).cast("int").alias("span_len"),
            "affected_docs",
            "removable_tokens",
        )
        out = one if out is None else out.unionByName(one)
    return (
        out.crossJoin(F.broadcast(total))
        .select(
            "span_len",
            "affected_docs",
            "removable_tokens",
            F.expr(
                "CAST(removable_tokens * 1000000 DIV total_tokens AS BIGINT)"
            ).alias("removable_ppm"),
        )
        .orderBy("span_len")
    )


# --------------------- bloom-filtered decontamination (the scale path)

#: Fixed filter geometry: 2^16 bits (1024 x 64-bit words), k=2 salted
#: md5-prefix hash functions (the shared hash_bucket idiom). At the
#: fixture's bench 8-gram cardinality this sits far below 1 bit/key
#: occupancy; bloom_filter_size_advisor is the sizing calculator for
#: real corpora.
_BLOOMC_BITS = 65_536
_BLOOMC_SALTS = ("bloomA:", "bloomB:")


def _bloomc_sql() -> str:
    from ecom_churn_lakehouse_spark.operators.sampling import hash_bucket_sql

    h = {
        s: hash_bucket_sql("shingle", s, _BLOOMC_BITS) for s in _BLOOMC_SALTS
    }
    return f"""
WITH {_CORPUS_SQL.strip()},
sh8 AS ({_ngram_sql_8("corpus")}),
bench AS (
    SELECT DISTINCT shingle FROM sh8 WHERE doc_id % 10 = 0 AND doc_id < 100000
),
train AS (
    SELECT doc_id, shingle FROM sh8
    WHERE NOT (doc_id % 10 = 0 AND doc_id < 100000)
),
bench_bits AS (
    SELECT h // 63 AS w,
           CAST(bit_or(1::BIGINT << CAST(h % 63 AS INTEGER)) AS BIGINT)
               AS bits
    FROM (
        SELECT {h["bloomA:"]} AS h FROM bench
        UNION ALL
        SELECT {h["bloomB:"]} AS h FROM bench
    ) GROUP BY h // 63
),
probed AS (
    SELECT t.doc_id, t.shingle,
           {h["bloomA:"]} AS h1, {h["bloomB:"]} AS h2
    FROM train t
),
checked AS (
    SELECT p.doc_id, p.shingle,
           CASE WHEN b1.bits IS NOT NULL
                 AND (b1.bits >> CAST(p.h1 % 63 AS INTEGER)) & 1 = 1
                 AND b2.bits IS NOT NULL
                 AND (b2.bits >> CAST(p.h2 % 63 AS INTEGER)) & 1 = 1
                THEN 1 ELSE 0 END AS bloom_hit
    FROM probed p
    LEFT JOIN bench_bits b1 ON b1.w = p.h1 // 63
    LEFT JOIN bench_bits b2 ON b2.w = p.h2 // 63
),
exact AS (
    SELECT DISTINCT t.doc_id, t.shingle
    FROM train t JOIN bench b ON b.shingle = t.shingle
),
joined AS (
    SELECT c.doc_id, c.bloom_hit,
           CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END AS exact_hit
    FROM checked c
    LEFT JOIN exact e ON e.doc_id = c.doc_id AND e.shingle = c.shingle
)
SELECT CAST(COUNT(*) AS BIGINT) AS ngrams_probed,
       CAST(SUM(bloom_hit) AS BIGINT) AS bloom_hits,
       CAST(SUM(exact_hit) AS BIGINT) AS exact_hits,
       CAST(SUM(CASE WHEN bloom_hit = 1 AND exact_hit = 0
                THEN 1 ELSE 0 END) AS BIGINT) AS false_positives,
       CAST(SUM(CASE WHEN exact_hit = 1 AND bloom_hit = 0
                THEN 1 ELSE 0 END) AS BIGINT) AS false_negatives,
       CAST(SUM(CASE WHEN bloom_hit = 1 AND exact_hit = 0 THEN 1 ELSE 0 END)
            * 1000000
            // GREATEST(COUNT(*) - SUM(exact_hit), 1) AS BIGINT)
           AS observed_fpp_ppm
FROM joined
"""


@register(
    "ngram_bloom_contamination_probe",
    _bloomc_sql(),
    doc="Bloom-filtered benchmark decontamination — the SCALE PATH for "
    "benchmark_contamination: the bench 8-gram set compresses into a "
    f"{_BLOOMC_BITS}-bit filter (k=2 salted md5-prefix hashes, the "
    "shared hash_bucket idiom; ~1040 broadcastable 63-bit words — "
    "the sign bit stays unused so 1<<b never overflows SIGNED int64 "
    "in either engine (probe-caught: DuckDB errors on 1::BIGINT << 63) — built "
    "with an integer bit_or aggregate), every training 8-gram probes "
    "two bits, and the exact string join runs alongside to ACCOUNT "
    "for the trade: false_negatives must be 0 (Bloom guarantee — a "
    "hash-compared output column, not an assumption) and the "
    "observed false-positive ppm prices the candidate-then-verify "
    "pipeline a 100 TB decontam pass would run (probe with the "
    "filter at scan speed, exact-verify only the hits). All integer "
    "arithmetic. Scale: the filter is corpus-size-INDEPENDENT "
    "(sized by bloom_filter_size_advisor); the probe is two "
    "broadcast word-lookups per shingle — no shuffle of the corpus "
    "at all.",
)
def q_ngram_bloom_contamination_probe(spark, sf_dir):
    from ecom_churn_lakehouse_spark.operators.sampling import hash_bucket

    arr8 = doc_shingle_arrays(derived_corpus(spark, sf_dir), n=8).localCheckpoint(
        eager=False
    )
    is_bench = (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 100000)
    bench = (
        arr8.filter(is_bench)
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    hashes = None
    for salt in _BLOOMC_SALTS:
        hcol = bench.select(
            hash_bucket(F.col("shingle"), salt, _BLOOMC_BITS).alias("h")
        )
        hashes = hcol if hashes is None else hashes.unionByName(hcol)
    bench_bits = (
        hashes.select(
            F.expr("h DIV 63").alias("w"),
            F.expr("shiftleft(1L, CAST(h % 63 AS INT))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.expr("CAST(bit_or(bit) AS BIGINT)").alias("bits"))
    )
    train = arr8.filter(~is_bench).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    probed = train.select(
        "doc_id",
        "shingle",
        hash_bucket(F.col("shingle"), "bloomA:", _BLOOMC_BITS).alias("h1"),
        hash_bucket(F.col("shingle"), "bloomB:", _BLOOMC_BITS).alias("h2"),
    )
    b1 = bench_bits.select(
        F.col("w").alias("w1"), F.col("bits").alias("bits1")
    )
    b2 = bench_bits.select(
        F.col("w").alias("w2"), F.col("bits").alias("bits2")
    )
    checked = (
        probed.join(F.broadcast(b1), F.expr("w1 = h1 DIV 63"), "left")
        .join(F.broadcast(b2), F.expr("w2 = h2 DIV 63"), "left")
        .select(
            "doc_id",
            "shingle",
            F.expr(
                "CASE WHEN bits1 IS NOT NULL"
                " AND (shiftright(bits1, CAST(h1 % 63 AS INT)) & 1) = 1"
                " AND bits2 IS NOT NULL"
                " AND (shiftright(bits2, CAST(h2 % 63 AS INT)) & 1) = 1"
                " THEN 1 ELSE 0 END"
            ).alias("bloom_hit"),
        )
    )
    exact = (
        train.join(F.broadcast(bench), "shingle", "left_semi")
        .select("doc_id", "shingle")
        .distinct()
        .withColumn("exact_hit", F.lit(1))
    )
    joined = checked.join(exact, ["doc_id", "shingle"], "left").select(
        "bloom_hit", F.coalesce("exact_hit", F.lit(0)).alias("exact_hit")
    )
    return joined.agg(
        F.count("*").cast("long").alias("ngrams_probed"),
        F.sum("bloom_hit").cast("long").alias("bloom_hits"),
        F.sum("exact_hit").cast("long").alias("exact_hits"),
        F.sum(F.expr("CASE WHEN bloom_hit = 1 AND exact_hit = 0 THEN 1"
                     " ELSE 0 END")).cast("long").alias("false_positives"),
        F.sum(F.expr("CASE WHEN exact_hit = 1 AND bloom_hit = 0 THEN 1"
                     " ELSE 0 END")).cast("long").alias("false_negatives"),
        F.expr(
            "CAST(SUM(CASE WHEN bloom_hit = 1 AND exact_hit = 0 THEN 1"
            " ELSE 0 END) * 1000000"
            " DIV GREATEST(COUNT(*) - SUM(exact_hit), 1) AS BIGINT)"
        ).alias("observed_fpp_ppm"),
    )


# ---------------- substring-grain exact dedup: repeated-span detection

#: Minimum repeated-substring length in TOKENS (the Lee et al.
#: "Deduplicating Training Data Makes Language Models Better"
#: substring tier, shrunk from their 50-BPE-token threshold to the
#: fixture's short-document regime; same 8-gram grain as the
#: decontamination pass so the two tiers share semantics).
_RSS_L = 8

_RSS_SQL = f"""
WITH {_CORPUS_SQL},
toks AS (
    SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM corpus
),
idx AS (
    SELECT doc_id, t,
           unnest(generate_series(1, greatest(len(t) - {_RSS_L - 1}, 0)))
               AS pos
    FROM toks
),
grams AS (
    SELECT doc_id, pos,
           {" || ' ' || ".join(f"t[pos+{j}]" for j in range(_RSS_L))}
               AS gram
    FROM idx
),
rep AS (SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) >= 2),
hits AS (
    SELECT g.doc_id, g.pos FROM grams g JOIN rep r ON r.gram = g.gram
),
lagged AS (
    SELECT doc_id, pos,
           LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
    FROM hits
),
isl AS (
    SELECT doc_id, pos,
           SUM(CASE WHEN prev IS NULL OR pos - prev > {_RSS_L}
                    THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS UNBOUNDED PRECEDING) AS span_id
    FROM lagged
)
SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + {_RSS_L - 1} AS BIGINT) AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_dup_grams,
       CAST(MAX(pos) + {_RSS_L - 1} - MIN(pos) + 1 AS BIGINT)
           AS span_tokens
FROM isl GROUP BY doc_id, span_id
"""


@register(
    "repeated_substring_spans",
    _RSS_SQL,
    doc="Substring-grain exact dedup (VERDICT r10 directive #7, the "
    "Lee et al. 2022 tier between exact-doc and chunk dedup): every "
    f"MAXIMAL span covered by {_RSS_L}-token grams that occur >= 2 "
    "times anywhere in the corpus (cross-doc or within-doc), as "
    "(doc_id, span_id, 1-based token start/end, dup-gram count, "
    "span length). Positional grams anchor on an exact corpus-wide "
    "occurrence count; overlapping/adjacent hits then merge into "
    "maximal spans by LAG-island detection — the same "
    "doc-partitioned window discipline as the CDC chunker, so the "
    "merge is linear and never leaves the doc's partition. The "
    "frequency pass groups on xxhash64(gram) (8-byte shuffle keys "
    "instead of ~60-byte strings, the benchmark_contamination "
    "discipline; a 64-bit collision (P ~ 1e-10 at fixture scale) "
    "could mark one extra gram repeated). Scale: one hash-grouped "
    "reduce over corpus token count + per-doc windows — no "
    "quadratic anywhere; the planted copies make the expected spans "
    "full-document, pinned by tests/test_repeated_spans.py.",
)
def q_repeated_substring_spans(spark, sf_dir):
    from pyspark.sql.window import Window as W

    corpus = derived_corpus(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    with_toks = corpus.select("doc_id", toks.alias("__toks")).filter(
        F.size("__toks") >= _RSS_L
    )
    exploded = with_toks.select(
        "doc_id",
        "__toks",
        F.explode(
            F.sequence(F.lit(1), F.size("__toks") - (_RSS_L - 1))
        ).alias("pos"),
    )
    gram = F.array_join(F.slice("__toks", F.col("pos"), _RSS_L), " ")
    grams = exploded.select(
        "doc_id", "pos", F.xxhash64(gram).alias("gh")
    ).localCheckpoint(eager=False)  # feeds the count AND the probe join
    rep = (
        grams.groupBy("gh")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("gh")
    )
    hits = grams.join(rep, on="gh").select("doc_id", "pos")
    w = W.partitionBy("doc_id").orderBy("pos")
    lagged = hits.withColumn("prev", F.lag("pos").over(w))
    isl = lagged.withColumn(
        "span_id",
        F.sum(
            F.when(
                F.col("prev").isNull()
                | (F.col("pos") - F.col("prev") > _RSS_L),
                1,
            ).otherwise(0)
        ).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return isl.groupBy("doc_id", "span_id").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") + (_RSS_L - 1)).cast("long").alias("span_end"),
        F.count("*").cast("long").alias("n_dup_grams"),
        (F.max("pos") + (_RSS_L - 1) - F.min("pos") + 1)
        .cast("long")
        .alias("span_tokens"),
    ).select(
        "doc_id",
        F.col("span_id").cast("long").alias("span_id"),
        "span_start",
        "span_end",
        "n_dup_grams",
        "span_tokens",
    )
