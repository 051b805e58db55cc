"""Connected-components dedup clustering (operators/dedup.py).

Edge lists under ``_LOCAL_CC_MAX_EDGES`` are labelled by a driver-side
union-find; larger ones by min-label propagation, which must converge
beyond one round: a chain a-b-c-d needs ~diameter rounds for the min label
to reach the far end. The route tests below run both.
"""

import logging

import pytest

from impresso_ta.operators import dedup


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "doc_a long, doc_b long")


def test_chain_converges_to_single_component(spark):
    # 0-1-2-3-4-5 chain: diameter 5, forces several propagation rounds.
    pairs = _pairs(spark, [(i, i + 1) for i in range(5)])
    comp = dedup.connected_components(pairs).collect()
    assert {r["node"] for r in comp} == set(range(6))
    assert {r["label"] for r in comp} == {0}


def test_two_components_and_representatives(spark):
    pairs = _pairs(spark, [(10, 11), (11, 12), (20, 21)])
    out = {r["doc_id"]: r for r in dedup.dedup_clusters(pairs).collect()}
    assert out[10]["component"] == 10 and out[12]["component"] == 10
    assert out[20]["component"] == 20 and out[21]["component"] == 20
    assert out[10]["cluster_size"] == 3 and out[21]["cluster_size"] == 2
    assert out[10]["is_rep"] and out[20]["is_rep"]
    assert not out[11]["is_rep"] and not out[21]["is_rep"]


def test_edge_direction_irrelevant(spark):
    # Reversed edges give identical components (symmetrization).
    fwd = dedup.connected_components(_pairs(spark, [(1, 2), (3, 2)]))
    rev = dedup.connected_components(_pairs(spark, [(2, 1), (2, 3)]))
    assert sorted(map(tuple, fwd.collect())) == sorted(map(tuple, rev.collect()))


def test_dedup_survivors_keeps_reps_and_singletons(spark):
    from impresso_ta.operators.dedup import dedup_survivors

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 8)], "doc_id long, text string"
    )
    # clusters {1,2,3} and {5,6}; 4 and 7 untouched
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long"
    )
    kept = sorted(
        r["doc_id"] for r in dedup_survivors(docs, pairs).collect()
    )
    assert kept == [1, 4, 5, 7]


# Both labelling routes of ``connected_components``: the bounded driver-side
# union-find (default for any edge list under ``_LOCAL_CC_MAX_EDGES``) and the
# distributed min-label loop (forced by a bound of 0). Each graph maps to the
# expected {node: min node id of its component}.
_GRAPHS = {
    "chain": ([(i, i + 1) for i in range(5)], {i: 0 for i in range(6)}),
    "two_components": (
        [(10, 11), (11, 12), (20, 21)],
        {10: 10, 11: 10, 12: 10, 20: 20, 21: 20},
    ),
    "star": ([(7, i) for i in (3, 9, 12, 15)], {3: 3, 7: 3, 9: 3, 12: 3, 15: 3}),
    "duplicate_and_reversed": (
        [(5, 4), (4, 5), (5, 4), (6, 5), (5, 6), (8, 9), (9, 8), (8, 8)],
        {4: 4, 5: 4, 6: 4, 8: 8, 9: 8},
    ),
    "empty": ([], {}),
}


@pytest.fixture(params=["local", "loop"])
def route(request, monkeypatch):
    if request.param == "loop":
        monkeypatch.setattr(dedup, "_LOCAL_CC_MAX_EDGES", 0)
    return request.param


@pytest.mark.parametrize("graph", sorted(_GRAPHS))
def test_routes_label_min_node_id(spark, route, graph):
    edges, expected = _GRAPHS[graph]
    comp = dedup.connected_components(_pairs(spark, edges))
    assert comp.dtypes == [("node", "bigint"), ("label", "bigint")]
    rows = comp.collect()
    assert len(rows) == len(expected)
    assert {(r["node"], r["label"]) for r in rows} == set(expected.items())


def test_routes_keep_null_endpoint_as_own_node(spark, route):
    # A null never equals a join key, so the loop leaves it an unlabelled
    # node of its own; the union-find must return the same rows.
    comp = dedup.connected_components(
        _pairs(spark, [(1, None), (None, 2), (3, 4)])
    ).collect()
    assert sorted(map(tuple, comp), key=str) == [
        (1, 1), (2, 2), (3, 3), (4, 3), (None, None)
    ]


def test_dedup_clusters_same_on_both_routes(spark, monkeypatch):
    pairs = _pairs(spark, [(10, 11), (11, 12), (20, 21), (12, 10)])
    local = sorted(map(tuple, dedup.dedup_clusters(pairs).collect()))
    monkeypatch.setattr(dedup, "_LOCAL_CC_MAX_EDGES", 0)
    loop = sorted(map(tuple, dedup.dedup_clusters(pairs).collect()))
    assert local == loop == [
        (10, 10, 3, True),
        (11, 10, 3, False),
        (12, 10, 3, False),
        (20, 20, 2, True),
        (21, 20, 2, False),
    ]


def test_loop_raises_when_not_converged(spark, monkeypatch):
    # A 6-node chain needs more than 3 rounds; partly propagated labels
    # must not be returned as components.
    monkeypatch.setattr(dedup, "_LOCAL_CC_MAX_EDGES", 0)
    pairs = _pairs(spark, [(i, i + 1) for i in range(5)])
    with pytest.raises(RuntimeError, match="did not converge in 3 rounds"):
        dedup.connected_components(pairs, max_iters=3)


def test_local_route_job_count(spark):
    pairs = _pairs(spark, [(i, i + 1) for i in range(5)])
    sc = spark.sparkContext
    sc.setJobGroup("cc-local-jobs", "connected_components job count")
    try:
        comp = dedup.connected_components(pairs).collect()
    finally:
        sc.setJobGroup(None, None)
    assert {r["label"] for r in comp} == {0}
    jobs = sc.statusTracker().getJobIdsForGroup("cc-local-jobs")
    # one bounded edge collect; the labels come back as a local relation
    # (the min-label loop runs 39 jobs on this chain)
    assert 0 < len(jobs) <= 2, f"{len(jobs)} Spark jobs for a 6-node chain"


def test_route_is_logged(spark, monkeypatch, caplog):
    pairs = _pairs(spark, [(1, 2), (2, 3)])
    caplog.set_level(logging.DEBUG, logger="impresso_ta")
    dedup.connected_components(pairs).collect()
    monkeypatch.setattr(dedup, "_LOCAL_CC_MAX_EDGES", 0)
    dedup.connected_components(pairs).collect()
    msgs = [r.getMessage() for r in caplog.records if r.name == "impresso_ta"]
    assert "connected_components: 2 edges, route=local, rounds=0" in msgs
    # 1-2-3: two label-changing rounds, then one that confirms convergence
    assert "connected_components: >0 edges, route=loop, rounds=3" in msgs

