"""Tests for feature conditioning (percentile filter, z-score) and graph
operators (triangles, degrees)."""

import math

from pyspark.sql import functions as F

from hfsa_spark.operators.features import percentile_filter, zscore_standardize
from hfsa_spark.operators.graph import (
    canonical_edges,
    degree_distribution,
    triangle_count,
)


def test_percentile_filter_per_stratum_cut(spark):
    rows = [("a", i, float(i)) for i in range(10)] + [
        ("b", 100 + i, float(-i)) for i in range(4)
    ]
    df = spark.createDataFrame(rows, "s string, id long, v double")
    out = percentile_filter(df, "v", "s", 0.5, tiebreak_col="id")
    got = {r["id"] for r in out.collect()}
    # stratum a: pr>=0.5 → v in {5..9} (ids 5..9); stratum b: v=-0 top,
    # pr of sorted [-3,-2,-1,0] → keep -1 (pr 2/3) and 0 (pr 1)? pr>=0.5
    # ranks: -3:0, -2:1/3, -1:2/3, 0:1 → keep ids 101, 100
    assert got == {5, 6, 7, 8, 9, 101, 100}


def test_percentile_filter_all_ties_keep_none_above_zero(spark):
    # all-equal values: percent_rank follows the tiebreak order
    df = spark.createDataFrame([("a", i, 1.0) for i in range(4)], "s string, id long, v double")
    out = percentile_filter(df, "v", "s", 0.5, tiebreak_col="id").collect()
    assert {r["id"] for r in out} == {2, 3}


def test_zscore_matches_numpy(spark):
    import numpy as np

    vals = [1.00, 2.00, 3.00, 4.00, 5.00]
    df = spark.createDataFrame(
        [(i, "g", v) for i, v in enumerate(vals)], "id long, g string, v double"
    )
    out = {r["id"]: r["z"] for r in zscore_standardize(df, "v", "g").collect()}
    cents = np.floor(np.array(vals) * 100)
    want = (cents - cents.mean()) / cents.std(ddof=1)
    for i, w in enumerate(want):
        assert math.isclose(out[i], w, rel_tol=1e-12)


def test_zscore_degenerate_groups_null(spark):
    df = spark.createDataFrame(
        [(1, "single", 5.0), (2, "const", 3.0), (3, "const", 3.0)],
        "id long, g string, v double",
    )
    out = {r["id"]: r["z"] for r in zscore_standardize(df, "v", "g").collect()}
    assert out[1] is None and out[2] is None and out[3] is None


def test_canonical_edges_dedup_and_loops(spark):
    df = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 3), (2, 4)], "src long, dst long"
    )
    got = {(r["src"], r["dst"]) for r in canonical_edges(df).collect()}
    assert got == {(1, 2), (2, 4)}


def test_triangle_count_known_graphs(spark):
    # K4 has 4 triangles, 6 edges, 4 nodes
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    df = spark.createDataFrame(k4, "src long, dst long")
    r = triangle_count(df).collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (4, 6, 4)
    # a path graph has none
    path = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    assert triangle_count(path).collect()[0]["n_triangles"] == 0
    # direction of input edges must not matter
    rev = spark.createDataFrame([(b, a) for a, b in k4], "src long, dst long")
    assert triangle_count(rev).collect()[0]["n_triangles"] == 4


def test_degree_distribution_star(spark):
    star = spark.createDataFrame([(0, i) for i in range(1, 6)], "src long, dst long")
    got = {r["degree"]: r["n_nodes"] for r in degree_distribution(star).collect()}
    assert got == {1: 5, 5: 1}


def test_triangle_count_max_degree_excludes_hub(spark):
    # K4 on 1-4 (4 triangles, degree 3 each) plus a planted hub 99 fanned to
    # ten leaves (degree 10). max_degree=5 excludes the hub with all its
    # edges; the K4 remainder is exact and the orphaned leaves vanish.
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    hub = [(99, leaf) for leaf in range(100, 110)]
    df = spark.createDataFrame(k4 + hub, ["src", "dst"])

    full = triangle_count(df).collect()[0]
    assert (full["n_nodes"], full["n_edges"], full["n_triangles"]) == (15, 16, 4)

    capped = triangle_count(df, max_degree=5).collect()[0]
    assert (capped["n_nodes"], capped["n_edges"], capped["n_triangles"]) == (4, 6, 4)


def test_robust_zscore(spark):
    from hfsa_spark.operators.features import robust_zscore

    # group A: 1,2,3,4,100 — median 3.00 (300), adev {200,100,0,100,9700},
    # MAD 100; the 100.0 row: mz = 0.6745*(10000-300)/100 = 65.4...
    rows = [
        (1, "A", 1.0), (2, "A", 2.0), (3, "A", 3.0), (4, "A", 4.0),
        (5, "A", 100.0),
        # group B: all identical → MAD 0 → no flags, null mz
        (6, "B", 5.0), (7, "B", 5.0), (8, "B", 5.0),
    ]
    df = spark.createDataFrame(rows, "event_id bigint, event_type string, value double")
    got = {r["event_id"]: r for r in robust_zscore(df).collect()}
    import math

    assert got[3]["mz_micro"] == 0 and got[3]["outlier"] is False
    want5 = math.floor(1e6 * 0.6745 * (10000 - 300) / 100)
    assert got[5]["mz_micro"] == want5 and got[5]["outlier"] is True
    assert got[1]["outlier"] is False  # mz = 0.6745*(-200)/100 = -1.349
    assert got[6]["mz_micro"] is None and got[6]["outlier"] is False


def test_pagerank_tiny(spark):
    """Hand-checkable graph: a sink that everyone links to outranks the
    others; determinism across runs; rank values integer pico-units."""
    from hfsa_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "hub"), ("b", "hub"), ("c", "hub"), ("hub", "a")],
        "src string, dst string",
    )
    got = pagerank(edges, iters=3).collect()
    ranks = {r["node"]: r["pr"] for r in got}
    assert set(ranks) == {"a", "b", "c", "hub"}
    assert ranks["hub"] == max(ranks.values())
    assert ranks["a"] > ranks["b"] == ranks["c"]  # a gets hub's outflow
    # iteration 1 closed form for b (no in-links): base only
    E = 10**12
    base = (15 * E // 100) // 4
    assert ranks["b"] == base + 0
    again = {r["node"]: r["pr"] for r in pagerank(edges, iters=3).collect()}
    assert again == ranks


def test_pagerank_dangling_conserves_mass(spark):
    """dangling=True redistributes sink rank: on a sink-heavy graph the
    total mass stays ~10^12 pico-units (up to floor truncation) where
    the simple variant drains it; a pure-sink graph is the worst case.
    Python reference model run alongside for exactness (the same model
    the q216 SQL oracle unrolls)."""
    from hfsa_spark.operators.graph import pagerank

    E = 10**12
    # a,b -> sinks s1,s2 (plus a->b so one node has in-links AND outdeg)
    edges = spark.createDataFrame(
        [("a", "s1"), ("a", "b"), ("b", "s2")], "src string, dst string"
    )
    nodes = ["a", "b", "s1", "s2"]
    outdeg = {"a": 2, "b": 1}
    inlinks = {"s1": [("a", 2)], "b": [("a", 2)], "s2": [("b", 1)]}
    n = len(nodes)
    base = (15 * E // 100) // n
    pr = {v: E // n for v in nodes}
    for _ in range(3):
        dang = sum(p for v, p in pr.items() if v not in outdeg)
        share = int(dang / n)  # floor over double, like both engines
        pr = {
            v: base
            + int(
                85
                * (sum(int(pr[u] / d) for u, d in inlinks.get(v, []))
                   + share)
                / 100
            )
            for v in nodes
        }
    got = {
        r["node"]: r["pr"]
        for r in pagerank(edges, iters=3, dangling=True).collect()
    }
    assert got == pr
    # mass conserved within floor loss (< 1 pico-unit per term per iter)
    assert abs(sum(got.values()) - E) < 100
    # the simple variant drains mass on this sink-heavy graph
    simple = {
        r["node"]: r["pr"] for r in pagerank(edges, iters=3).collect()
    }
    assert sum(simple.values()) < sum(got.values())
    # no dangling nodes -> flag is a no-op (cycle graph)
    cyc = spark.createDataFrame(
        [("x", "y"), ("y", "x")], "src string, dst string"
    )
    a = {r["node"]: r["pr"] for r in pagerank(cyc, iters=2).collect()}
    b = {
        r["node"]: r["pr"]
        for r in pagerank(cyc, iters=2, dangling=True).collect()
    }
    assert a == b


def test_pagerank_checkpoint_flag_identical_and_audit_visible(spark):
    """checkpoint=False must change only the LINEAGE (the last round's
    plan stays visible for scripts/plan_audit.py's q216 section), never
    the ranks."""
    from hfsa_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "s1"), ("a", "b"), ("b", "s2")], "src string, dst string"
    )
    ck = {
        r["node"]: r["pr"]
        for r in pagerank(edges, iters=2, dangling=True).collect()
    }
    nock_df = pagerank(edges, iters=2, dangling=True, checkpoint=False)
    nock = {r["node"]: r["pr"] for r in nock_df.collect()}
    assert nock == ck
    plan = nock_df._jdf.queryExecution().executedPlan().toString()
    # the un-checkpointed plan exposes the iteration body: the rebuild
    # join and the broadcast-singleton dangling aggregate
    assert "Join" in plan


def test_winsorize_global_and_grouped(spark):
    from pyspark.sql import functions as F

    from hfsa_spark.operators.features import winsorize

    # 0..10 in one group: p25=2.5, p75=7.5 (linear interpolation)
    df = spark.createDataFrame([(i, float(i)) for i in range(11)], "id int, v double")
    out = {r["id"]: r for r in winsorize(df, "v", p_lo=0.25, p_hi=0.75).collect()}
    assert out[0]["lo"] == 2.5 and out[0]["hi"] == 7.5
    assert out[0]["v_wins"] == 2.5 and out[0]["clipped_lo"] and not out[0]["clipped_hi"]
    assert out[10]["v_wins"] == 7.5 and out[10]["clipped_hi"]
    assert out[5]["v_wins"] == 5.0 and not out[5]["clipped_lo"] and not out[5]["clipped_hi"]

    # grouped: bands computed per group independently
    g = spark.createDataFrame(
        [("a", float(i)) for i in range(5)] + [("b", float(100 + i)) for i in range(5)],
        "grp string, v double",
    )
    got = winsorize(g, "v", group_col="grp", p_lo=0.25, p_hi=0.75)
    bands = {r["grp"]: (r["lo"], r["hi"]) for r in got.select("grp", "lo", "hi").distinct().collect()}
    assert bands == {"a": (1.0, 3.0), "b": (101.0, 103.0)}
    # the band table joins back via BROADCAST — the row table never
    # re-shuffles after the percentile aggregate
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_winsorize_null_group_key_is_a_real_group(spark):
    from hfsa_spark.operators.features import winsorize

    g = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), (None, 10.0), (None, 20.0), (None, 30.0)],
        "grp string, v double",
    )
    out = winsorize(g, "v", group_col="grp", p_lo=0.25, p_hi=0.75)
    rows = [r for r in out.collect() if r["grp"] is None]
    assert len(rows) == 3  # null-group rows survive with real bands
    assert all(r["lo"] == 15.0 and r["hi"] == 25.0 for r in rows)
    clipped = {r["v"]: (r["clipped_lo"], r["clipped_hi"]) for r in rows}
    assert clipped == {10.0: (True, False), 20.0: (False, False), 30.0: (False, True)}
