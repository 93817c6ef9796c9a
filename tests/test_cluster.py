"""Connected components: correctness on adversarial graph shapes.

Every case runs through BOTH paths — the driver union-find fast path
(the derived ``small_graph_limit``) and the distributed
large-star/small-star loop (``small_graph_limit`` monkeypatched to 0)
— which must produce identical labels.
"""

from __future__ import annotations

import pytest

from dedupe_algo_spark.operators import cluster
from dedupe_algo_spark.operators.cluster import connected_components


def _force_distributed(monkeypatch, limit: int = 0) -> None:
    """Route graphs over ``limit`` canonical edges to the star loop."""
    monkeypatch.setattr(cluster, "small_graph_limit", lambda spark: limit)


@pytest.fixture(params=["distributed", "local-fastpath"])
def _cc(spark, request, monkeypatch):
    if request.param == "distributed":
        _force_distributed(monkeypatch)

    def run(spark_, edges):
        df = spark_.createDataFrame(edges, ["src", "dst"])
        out = connected_components(df).collect()
        return {r["url"]: r["component"] for r in out}

    return run


def test_two_components(spark, _cc):
    m = _cc(spark, [("a", "b"), ("b", "c"), ("d", "e")])
    assert m == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}


def test_long_chain(spark, _cc):
    # chain stresses superstep convergence (naive propagation = O(n) iters)
    nodes = [f"n{i:03d}" for i in range(40)]
    edges = list(zip(nodes, nodes[1:]))
    m = _cc(spark, edges)
    assert set(m.values()) == {"n000"}
    assert len(m) == 40


def test_star_and_duplicate_edges(spark, _cc):
    edges = [("hub", f"leaf{i}") for i in range(10)]
    edges += edges[:3]  # duplicates
    edges += [(b, a) for a, b in edges[:3]]  # reversed duplicates
    m = _cc(spark, edges)
    assert len(set(m.values())) == 1
    assert min(m) in m.values()


def test_self_loops_ignored(spark, _cc):
    m = _cc(spark, [("a", "a"), ("a", "b")])
    assert m == {"a": "a", "b": "a"}


def test_component_id_is_lexicographic_min(spark, _cc):
    m = _cc(spark, [("z", "m"), ("m", "b"), ("q", "z")])
    assert set(m.values()) == {"b"}


def test_small_graph_limit_derived_from_driver_memory():
    """The union-find fast-path bound derives from the driver heap
    (min(1M cap, mem/4KiB-per-edge)) instead of a fixed constant."""
    from types import SimpleNamespace

    from dedupe_algo_spark.operators.cluster import (
        SMALL_GRAPH_EDGES_CAP,
        _mem_to_bytes,
        small_graph_limit,
    )

    def session(mem):
        return SimpleNamespace(conf=SimpleNamespace(get=lambda key, default: mem))

    assert _mem_to_bytes("16g") == 16 << 30
    assert _mem_to_bytes("512m") == 512 << 20
    assert _mem_to_bytes("2048") == 2048 << 20  # bare number = MiB
    # a 16g driver derives 4M edges → the 1M cap binds
    assert small_graph_limit(session("16g")) == SMALL_GRAPH_EDGES_CAP
    # a small driver derives a proportionally smaller bound
    assert small_graph_limit(session("512m")) == 131_072


def test_fast_path_leaves_nothing_persisted(spark):
    """The union-find path consumes the canonical-edge checkpoint and
    releases it: no persisted RDD of ours is left behind."""
    from dedupe_algo_spark.tracking import persistent_rdd_ids

    before = persistent_rdd_ids(spark)
    edges = [(f"n{i}", f"n{i+1}") for i in range(50)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = connected_components(df)
    m = {r["url"]: r["component"] for r in out.collect()}
    assert set(m.values()) == {"n0"} and len(m) == 51
    assert persistent_rdd_ids(spark) - before == set()


def test_distributed_path_tracker_releases_checkpoint(spark, monkeypatch):
    """The star loop keeps only its final superstep's checkpoint, which
    backs the result; registered on a tracker, one release drops it."""
    from dedupe_algo_spark.tracking import PersistTracker, persistent_rdd_ids

    _force_distributed(monkeypatch)
    before = persistent_rdd_ids(spark)
    edges = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(30)]
    tracker = PersistTracker()
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = connected_components(df, tracker=tracker)
    m = {r["url"]: r["component"] for r in out.collect()}
    assert set(m.values()) == {"n00"} and len(m) == 31
    assert len(persistent_rdd_ids(spark) - before) == 1
    tracker.release()
    assert persistent_rdd_ids(spark) - before == set()


def test_threshold_boundary_both_paths_identical(spark, monkeypatch):
    """Stress the small_graph_limit boundary on a realistic dedup-shaped
    graph (stars, chains, cliques, cross links): the same edge set run
    just OVER the limit (distributed path) and AT it (driver
    union-find) must produce identical labels."""
    import random

    rng = random.Random(7)
    edges = []
    for c in range(120):  # exact-dup stars
        hub = f"https://s{c:03d}.example/p0"
        edges += [(hub, f"https://s{c:03d}.example/p{i}") for i in range(1, 6)]
    for c in range(20):  # near-dup chains
        n = [f"https://chain{c:02d}.example/v{i}" for i in range(30)]
        edges += list(zip(n, n[1:]))
    for c in range(5):  # small cliques (mirror clusters)
        n = [f"https://cliq{c}.example/m{i}" for i in range(8)]
        edges += [(a, b) for a in n for b in n if a < b]
    for _ in range(200):  # random extra links inside existing components
        a, b = rng.sample(range(len(edges)), 2)
        edges.append((edges[a][0], edges[b][1]))
    df = spark.createDataFrame(edges, ["src", "dst"])
    from dedupe_algo_spark.operators.cluster import _canonical

    n_canon = _canonical(df).count()
    _force_distributed(monkeypatch, n_canon - 1)
    dist = {(r["url"], r["component"]) for r in connected_components(df).collect()}
    _force_distributed(monkeypatch, n_canon)
    fast = {(r["url"], r["component"]) for r in connected_components(df).collect()}
    assert dist == fast and len(dist) > 1000


def test_merge_clusters_equals_full_recompute(spark):
    """Incremental merge over a batch == full CC over history ∪ batch,
    for every touch pattern: merging two old clusters, extending one
    with a brand-new node, a new-only pair, and untouched clusters."""
    from dedupe_algo_spark.operators.cluster import (
        connected_components,
        merge_clusters,
    )

    e1 = spark.createDataFrame(
        [
            ("a1", "a2"), ("a2", "a3"),        # cluster A
            ("b1", "b2"),                       # cluster B
            ("c1", "c2"), ("c2", "c3"),        # cluster C (untouched)
            ("d1", "d2"),                       # cluster D (untouched)
        ],
        "src string, dst string",
    )
    e2 = spark.createDataFrame(
        [
            ("a3", "b1"),   # merges A and B
            ("b2", "n1"),   # extends the merged cluster with a new url
            ("x1", "x2"),   # brand-new cluster, no history
        ],
        "src string, dst string",
    )
    hist = connected_components(e1)
    inc = {(r.url, r.component) for r in merge_clusters(hist, e2).collect()}
    full = {
        (r.url, r.component)
        for r in connected_components(e1.unionByName(e2)).collect()
    }
    assert inc == full
    assert ("c1", "c1") in inc and ("d1", "d1") in inc  # untouched intact
    assert ("n1", "a1") in inc  # merged A∪B∪n1 keeps the global min


def test_merge_clusters_empty_batch_is_identity(spark):
    from dedupe_algo_spark.operators.cluster import (
        connected_components,
        merge_clusters,
    )

    e1 = spark.createDataFrame(
        [("a1", "a2"), ("b1", "b2")], "src string, dst string"
    )
    hist = connected_components(e1)
    empty = spark.createDataFrame([], "src string, dst string")
    out = {(r.url, r.component) for r in merge_clusters(hist, empty).collect()}
    assert out == {(r.url, r.component) for r in hist.collect()}
