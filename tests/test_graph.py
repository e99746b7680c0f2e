"""Unit tests for operators/graph.py (connected components)."""

from __future__ import annotations

from pyspark.sql import functions as F

from elb_log_etl_enrichment_spark.operators.graph import (
    cluster_sizes,
    connected_components,
)


def test_components_chain_singleton_and_pair(spark):
    # graph: 1-2-3-4 chain, 5-6 pair, 7 isolated
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], "src long, dst long"
    )
    labels = {
        r["id"]: r["label"]
        for r in connected_components(nodes, edges).collect()
    }
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7}


def test_components_orientation_and_duplicates_irrelevant(spark):
    nodes = spark.createDataFrame([(i,) for i in range(1, 5)], "id long")
    # same component described with mixed orientations + duplicate edges
    edges = spark.createDataFrame(
        [(2, 1), (1, 2), (3, 2), (4, 3), (4, 3)], "src long, dst long"
    )
    labels = connected_components(nodes, edges)
    assert [r["label"] for r in labels.orderBy("id").collect()] == [1, 1, 1, 1]
    sizes = {
        r["cluster_id"]: r["cluster_size"]
        for r in cluster_sizes(labels).collect()
    }
    assert sizes == {1: 4}


def test_components_long_chain_converges(spark):
    # diameter 40 chain — exercises the iteration/convergence loop
    n = 40
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    labels = connected_components(nodes, edges)
    assert labels.filter(F.col("label") != 0).count() == 0


def test_cogroup_bucket_count_invariance(spark):
    """The bucketed cogroup merge must produce identical results for
    any bucket count (buckets only amortize Python calls — per-user
    semantics cannot depend on them)."""
    from elb_log_etl_enrichment_spark.operators.grouped import cogroup_user_activity
    from elb_log_etl_enrichment_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    events = load_table(spark, sf, "events")
    orders = load_table(spark, sf, "orders")

    def snap(n_buckets):
        return {
            tuple(r)
            for r in cogroup_user_activity(events, orders, n_buckets=n_buckets).collect()
        }

    r1, r7, r64 = snap(1), snap(7), snap(64)
    assert r1 == r7 == r64
    assert len(r1) > 0


def test_pagerank_two_node_cycle_is_uniform(spark):
    from elb_log_etl_enrichment_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "a", 1.0)], "src string, dst string, w double"
    )
    ranks = {r["name"]: r["rank"] for r in pagerank(edges, iters=5).collect()}
    assert abs(ranks["a"] - 0.5) < 1e-12 and abs(ranks["b"] - 0.5) < 1e-12


def test_pagerank_dangling_node_leaks_mass(spark):
    from elb_log_etl_enrichment_spark.operators.graph import pagerank

    # a -> b, b dangling: a keeps only teleport mass, b gets
    # teleport + damped a (fixed point: a=0.075, b=0.13875)
    edges = spark.createDataFrame([("a", "b", 2.0)], "src string, dst string, w double")
    ranks = {r["name"]: r["rank"] for r in pagerank(edges, iters=10).collect()}
    assert abs(ranks["a"] - 0.075) < 1e-12
    assert abs(ranks["b"] - 0.13875) < 1e-12


def test_pagerank_weights_split_contributions(spark):
    from elb_log_etl_enrichment_spark.operators.graph import pagerank

    # a sends 3/4 of its mass to b, 1/4 to c; b,c feed back to a
    edges = spark.createDataFrame(
        [("a", "b", 3.0), ("a", "c", 1.0), ("b", "a", 1.0), ("c", "a", 1.0)],
        "src string, dst string, w double",
    )
    ranks = {r["name"]: r["rank"] for r in pagerank(edges, iters=10).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9  # no dangling: mass conserved
    assert ranks["b"] > ranks["c"]  # 3x the incoming weight share


def test_pagerank_distributed_path_matches_local(spark):
    from elb_log_etl_enrichment_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b", 3.0), ("a", "c", 1.0), ("b", "a", 1.0), ("c", "a", 1.0)],
        "src string, dst string, w double",
    )
    local = {r["name"]: r["rank"] for r in pagerank(edges, iters=6).collect()}
    dist = {
        r["name"]: r["rank"]
        for r in pagerank(edges, iters=6, small_graph_threshold=0).collect()
    }
    assert set(local) == set(dist)
    for k in local:
        assert abs(local[k] - dist[k]) < 1e-12


def test_label_propagation_paths_agree(spark):
    """The driver dict-counting path and the distributed join/window
    path must produce identical labelings (both are exact integer
    procedures with the same vote + tie-break semantics)."""
    from elb_log_etl_enrichment_spark.operators.graph import label_propagation
    from elb_log_etl_enrichment_spark.plans.queries_training import (
        knn_edges_cached,
    )

    e = knn_edges_cached(spark, "/root/testdata/sf0.001")
    local = {(r.node, r.label) for r in label_propagation(e).collect()}
    dist = {
        (r.node, r.label)
        for r in label_propagation(e, small_graph_threshold=0).collect()
    }
    assert local == dist and len(local) > 0


def test_connected_components_paths_agree(spark):
    """The r6 driver union-find gate must label identically to the
    distributed min-label loop (forced via small_graph_threshold=0) —
    chain + singleton + duplicate/reversed edges."""
    from pyspark.sql import Row

    from elb_log_etl_enrichment_spark.operators.graph import (
        connected_components,
    )

    nodes = spark.createDataFrame([Row(id=i) for i in [1, 2, 3, 4, 7, 9]])
    edges = spark.createDataFrame(
        [Row(src=2, dst=1), Row(src=2, dst=3), Row(src=3, dst=2),
         Row(src=4, dst=3), Row(src=9, dst=7)]
    )
    local = {
        (r.id, r.label)
        for r in connected_components(nodes, edges).collect()
    }
    dist = {
        (r.id, r.label)
        for r in connected_components(
            nodes, edges, small_graph_threshold=0
        ).collect()
    }
    assert local == dist == {
        (1, 1), (2, 1), (3, 1), (4, 1), (7, 7), (9, 7)
    }


def test_cc_local_ignores_edges_to_unknown_nodes(spark):
    """An edge-only 'bridge' id (absent from nodes) must not merge two
    components on the union-find path — the distributed min-label loop
    ignores unlabeled endpoints, and both paths must agree (ADVICE
    r06). Node set {1,2,10,11}; edges 1-2, 10-11, and a bridge
    1-99-10 through unknown id 99 (which would also become the min
    label if unioned, the worst case)."""
    from elb_log_etl_enrichment_spark.operators.graph import (
        connected_components,
    )

    nodes = spark.createDataFrame([(1,), (2,), (10,), (11,)], "id long")
    edges = spark.createDataFrame(
        [(1, 2), (10, 11), (1, 99), (99, 10)], "src long, dst long"
    )
    local = {
        r.id: r.label
        for r in connected_components(
            nodes, edges, small_graph_threshold=100
        ).collect()
    }
    dist = {
        r.id: r.label
        for r in connected_components(
            nodes, edges, small_graph_threshold=0
        ).collect()
    }
    assert local == dist == {1: 1, 2: 1, 10: 10, 11: 10}


def test_cc_local_known_bridge_still_merges(spark):
    """Control: the same bridge id listed in `nodes` DOES merge the
    components (and its id participates in min-label) on both paths."""
    from elb_log_etl_enrichment_spark.operators.graph import (
        connected_components,
    )

    nodes = spark.createDataFrame(
        [(1,), (2,), (10,), (11,), (0,)], "id long"
    )
    edges = spark.createDataFrame(
        [(1, 2), (10, 11), (1, 0), (0, 10)], "src long, dst long"
    )
    local = {
        r.id: r.label
        for r in connected_components(
            nodes, edges, small_graph_threshold=100
        ).collect()
    }
    dist = {
        r.id: r.label
        for r in connected_components(
            nodes, edges, small_graph_threshold=0
        ).collect()
    }
    assert local == dist == {0: 0, 1: 0, 2: 0, 10: 0, 11: 0}


def test_graph_operators_accept_string_node_ids(spark):
    """Code-review r05 (reproduced): string node ids crashed the CC
    convergence cast under ANSI / silently exited after one round
    otherwise, crashed local LPA's -label tie-break, and pagerank's
    local path coerced the id type."""
    from elb_log_etl_enrichment_spark.operators.graph import (
        connected_components,
        label_propagation,
        pagerank,
    )

    # a 4-chain needs >1 min-propagation round: a1-a2-a3-a4
    edges = spark.createDataFrame(
        [("a1", "a2"), ("a2", "a3"), ("a3", "a4"), ("z1", "z2")],
        "u string, v string",
    )
    nodes = (
        edges.select(F.col("u").alias("id"))
        .unionByName(edges.select(F.col("v").alias("id")))
        .distinct()
    )
    labels = {
        r["id"]: r["label"]
        for r in connected_components(
            nodes, edges, src_col="u", dst_col="v"
        ).collect()
    }
    assert labels["a4"] == "a1" and labels["a1"] == "a1"
    assert labels["z2"] == "z1"
    lpa = label_propagation(edges, src_col="u", dst_col="v", iters=3)
    assert dict(lpa.dtypes) == {"node": "string", "label": "string"}
    pr = pagerank(
        edges.withColumn("w", F.lit(1.0)), src="u", dst="v", weight="w"
    )
    assert dict(pr.dtypes)["name"] == "string"
    # long ids keep their type through the LOCAL path too
    e2 = spark.createDataFrame([(1, 2, 1.0)], "src long, dst long, w double")
    assert dict(pagerank(e2).dtypes)["name"] == "bigint"
