"""DBSCAN hand-checks (VERDICT r10 directive #6): planted clusters,
a pure-Python recompute of the full labeling, and the
connected-components regressions on both finishes (long chains,
shuffled-id paths, random graphs vs union-find)."""

from pyspark.sql import functions as F

from ecom_churn_lakehouse_spark.queries.similarity_queries import (
    _DBSCAN_EPS_NUM,
    _DBSCAN_MINPTS,
    _GRID_Q_SPARK,
    _dbscan_pipeline,
    q_dbscan_cluster_labels,
)
from ecom_churn_lakehouse_spark.sources import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_planted_clusters_and_noise(spark):
    """Two tight planted blobs far apart + isolated stragglers: the
    blobs come out as two distinct all-core clusters, the stragglers
    as noise."""
    pts = []
    for i in range(8):  # blob A around (0, 0), pairwise dist <= 7
        pts.append((i, (i % 3) * 3, (i // 3) * 2))
    for i in range(8):  # blob B around (1000, 1000)
        pts.append((100 + i, 1000 + (i % 3) * 3, 1000 + (i // 3) * 2))
    pts += [(200, 500, 500), (201, 5000, 5000)]  # isolated
    df = spark.createDataFrame(pts, "vec_id LONG, qx LONG, qy LONG")
    rows = {
        r["vec_id"]: r.asDict()
        for r in _dbscan_pipeline(spark, df, eps=10, minpts=5).collect()
    }
    assert len(rows) == 18
    a_ids = {rows[i]["cluster_id"] for i in range(8)}
    b_ids = {rows[100 + i]["cluster_id"] for i in range(8)}
    assert a_ids == {0} and b_ids == {100}
    assert all(rows[i]["role"] == "core" for i in range(8))
    assert all(rows[100 + i]["role"] == "core" for i in range(8))
    for vid in (200, 201):
        assert rows[vid]["role"] == "noise"
        assert rows[vid]["cluster_id"] == -1
        assert rows[vid]["n_eps"] == 0


def _python_dbscan(pts, eps, minpts):
    """Deterministic DBSCAN mirror: min-id cluster labels, border
    joins the min core-neighbor label."""
    ids = sorted(pts)
    nbrs = {
        i: [
            j
            for j in ids
            if j != i
            and (pts[i][0] - pts[j][0]) ** 2 + (pts[i][1] - pts[j][1]) ** 2
            <= eps * eps
        ]
        for i in ids
    }
    core = {i for i in ids if len(nbrs[i]) >= minpts}
    # union-find over core-core edges
    parent = {i: i for i in core}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in core:
        for j in nbrs[i]:
            if j in core:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
    comp = {}
    for i in core:
        comp.setdefault(find(i), []).append(i)
    label = {}
    for members in comp.values():
        mn = min(members)
        for i in members:
            label[i] = mn
    out = {}
    for i in ids:
        if i in core:
            out[i] = (len(nbrs[i]), "core", label[i])
        else:
            cn = [label[j] for j in nbrs[i] if j in core]
            if cn:
                out[i] = (len(nbrs[i]), "border", min(cn))
            else:
                out[i] = (len(nbrs[i]), "noise", -1)
    return out


def test_python_recompute_matches_fixture_exactly(spark):
    import math

    emb = load_table(spark, SF_DIR, "embeddings")
    pts_df = emb.select(
        "vec_id",
        F.expr(_GRID_Q_SPARK.format(v="embedding", k=1)).alias("qx"),
        F.expr(_GRID_Q_SPARK.format(v="embedding", k=2)).alias("qy"),
    )
    pts = {r["vec_id"]: (r["qx"], r["qy"]) for r in pts_df.collect()}
    eps = math.isqrt(_DBSCAN_EPS_NUM // len(pts))
    want = _python_dbscan(pts, eps, _DBSCAN_MINPTS)
    got = {
        r["vec_id"]: (r["n_eps"], r["role"], r["cluster_id"])
        for r in q_dbscan_cluster_labels(spark, SF_DIR).collect()
    }
    assert got == want
    roles = {v[1] for v in got.values()}
    assert "core" in roles and "noise" in roles  # non-vacuous fixture


def test_star_cc_handles_long_chains(spark, cc_finish):
    """Regression for the r11 defect: a path graph whose diameter
    exceeds an O(diameter) round budget must still label every node
    with the component minimum, on both finishes."""
    from ecom_churn_lakehouse_spark.operators.connected_components import (
        connected_components,
    )

    edges = [(i, i + 1) for i in range(199)] + [(500, 501), (501, 502)]
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    for finish in ("driver", "rounds"):
        with cc_finish(finish):
            lab = {
                r["node"]: r["label"]
                for r in connected_components(df).collect()
            }
        assert all(lab[i] == 0 for i in range(200)), finish
        assert all(lab[i] == 500 for i in (500, 501, 502)), finish


def test_star_cc_shuffled_ids_and_random_graph(spark, cc_finish):
    """Both finishes are id-placement-independent (the property the
    pointer-jump accelerant silently lacked: it measured O(diameter)
    on random-id blobs): a 300-node path with SHUFFLED ids and a
    random 600-edge graph must both match a pure-Python union-find."""
    import random

    from ecom_churn_lakehouse_spark.operators.connected_components import (
        connected_components,
    )

    def py_cc(pairs):
        parent = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {x: find(x) for x in list(parent)}

    rng = random.Random(7)
    ids = list(range(300))
    rng.shuffle(ids)
    path = [(ids[i], ids[i + 1]) for i in range(299)]
    rnd = [
        (rng.randrange(10_000), rng.randrange(10_000)) for _ in range(600)
    ]
    rnd = [(a, b) for a, b in rnd if a != b]
    for pairs in (path, rnd):
        df = spark.createDataFrame(pairs, "src LONG, dst LONG")
        for finish in ("driver", "rounds"):
            with cc_finish(finish):
                got = {
                    r["node"]: r["label"]
                    for r in connected_components(df).collect()
                }
            assert got == py_cc(pairs), finish
