"""connected_components unit semantics on hand-built graphs."""

from __future__ import annotations


from tweets_spark_top_10_spark.functions.dedup import connected_components


def _cc(spark, pairs):
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    return {
        (r.node, r.component) for r in connected_components(df).collect()
    }


def test_two_disjoint_chains(spark):
    # chain 1-2-3-4 and chain 10-11; min label wins per component
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_cycle_and_star(spark):
    # cycle 5-6-7-5 plus star 20-(21,22,23)
    got = _cc(spark, [(5, 6), (6, 7), (7, 5), (20, 21), (20, 22), (20, 23)])
    assert got == {
        (5, 5), (6, 5), (7, 5),
        (20, 20), (21, 20), (22, 20), (23, 20),
    }


def test_long_path_converges(spark):
    # path of length 12 needs several propagation rounds
    pairs = [(i, i + 1) for i in range(12)]
    got = _cc(spark, pairs)
    assert got == {(i, 0) for i in range(13)}


def test_cc_deep_chain_converges_in_log_rounds(spark, monkeypatch):
    """Adversarial DEEP chain (diameter 1024): the Kiveris'14
    large-star/small-star alternation must label it exactly AND inside
    a logarithmic round budget.  Min-label propagation needs ~d/2
    rounds (512 here — far past any sane max_iter); the star algorithm
    contracts it in O(log d).  This is the iteration-count A/B from
    round-6 verdict item 5.  The driver finish is disabled so the star
    rounds run."""
    import tweets_spark_top_10_spark.functions.dedup as dd

    monkeypatch.setattr(dd, "_DRIVER_CC_MAX_EDGES", 0)
    n = 1024
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    got = {(r.node, r.component) for r in connected_components(pairs).collect()}
    assert got == {(i, 0) for i in range(n + 1)}
    assert dd._last_cc_rounds <= 14, (
        f"deep chain took {dd._last_cc_rounds} rounds — lost the "
        "logarithmic contraction (label propagation would need ~512)"
    )


def test_cc_unconverged_star_rounds_raise(spark, monkeypatch):
    """Star rounds that hit max_iter before a fixed point must raise,
    naming the round count, instead of returning labels that are not
    min-rooted yet."""
    import pytest

    import tweets_spark_top_10_spark.functions.dedup as dd

    monkeypatch.setattr(dd, "_DRIVER_CC_MAX_EDGES", 0)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="in 1 rounds"):
        connected_components(pairs, max_iter=1)


def test_cc_driver_and_star_paths_agree(spark, monkeypatch):
    """A small graph finishes on the driver (0 star rounds), and the
    driver finish labels exactly like the star rounds — self-loop-only
    nodes (9, 30) included, each labeled with itself."""
    import tweets_spark_top_10_spark.functions.dedup as dd

    pairs = [(1, 2), (3, 2), (9, 9), (7, 5), (5, 6), (30, 30), (6, 4), (4, 4)]
    driver = _cc(spark, pairs)
    assert dd._last_cc_rounds == 0
    monkeypatch.setattr(dd, "_DRIVER_CC_MAX_EDGES", 0)
    star = _cc(spark, pairs)
    assert dd._last_cc_rounds > 0
    assert driver == star == {
        (1, 1), (2, 1), (3, 1), (9, 9), (4, 4), (5, 4), (6, 4), (7, 4), (30, 30),
    }


def test_bridged_components_matches_global_cc_on_union(spark):
    """bridged_components == connected_components over (pairs ∪ bridges)
    on a hand-built graph exercising every edge class: multi-node block
    components, single-edge blocks, an isolated bridge endpoint (a rep
    with NO intra-sub-cell pair), a bridge chaining THREE blocks, and a
    block untouched by any bridge."""
    from tweets_spark_top_10_spark.functions.dedup import (
        bridged_components,
        connected_components,
    )

    # blocks keyed by (cell, sub): edges never cross a block
    pairs = [
        # cell 1, sub 0: component {1,2,3}
        (1, 0, 1, 2),
        (1, 0, 2, 3),
        # cell 1, sub 1: component {10,11}
        (1, 1, 10, 11),
        # cell 1, sub 2: node 20 pairs with 21
        (1, 2, 20, 21),
        # cell 2, sub 0: component {50,51} — no bridge touches cell 2
        (2, 0, 50, 51),
    ]
    # bridges may cross sub-cells within a cell; 30 is an ISOLATED rep
    # (appears in no intra pair at all)
    bridges = [(1, 10), (10, 20), (20, 30)]

    pdf = spark.createDataFrame(
        pairs, "cell_id int, sub_cell int, id_a long, id_b long"
    )
    bdf = spark.createDataFrame(bridges, "id_a long, id_b long")
    got = {
        (r.node, r.component)
        for r in bridged_components(pdf, bdf, ["cell_id", "sub_cell"]).collect()
    }
    want = {
        (r.node, r.component)
        for r in connected_components(
            pdf.select("id_a", "id_b").unionByName(bdf)
        ).collect()
    }
    assert got == want
    # the bridged chain collapses to ONE component rooted at the global
    # min (1); cell 2 stays its own component
    assert {c for n, c in got if n in (1, 2, 3, 10, 11, 20, 21, 30)} == {1}
    assert {c for n, c in got if n in (50, 51)} == {50}


def test_bridged_components_empty_bridges_degenerates_to_blocked(spark):
    """With zero bridge edges the output must equal the plain
    block-local union-find — the balanced-corpus degenerate case."""
    from tweets_spark_top_10_spark.functions.dedup import (
        blocked_components,
        bridged_components,
    )

    pairs = [(1, 0, 1, 2), (1, 1, 7, 8), (2, 0, 3, 4)]
    pdf = spark.createDataFrame(
        pairs, "cell_id int, sub_cell int, id_a long, id_b long"
    )
    empty = spark.createDataFrame([], "id_a long, id_b long")
    got = {
        (r.node, r.component)
        for r in bridged_components(pdf, empty, ["cell_id", "sub_cell"]).collect()
    }
    want = {
        (r.node, r.component)
        for r in blocked_components(pdf, ["cell_id", "sub_cell"]).collect()
    }
    assert got == want == {(1, 1), (2, 1), (7, 7), (8, 7), (3, 3), (4, 3)}
