"""Hash-min connected components + IRI rewrite (SURVEY.md §4 custom
machinery #1): chain, cycle, disjoint components; literal protection."""

from __future__ import annotations

from pyspark.sql import functions as F

from cli_spark.canonicalize import canonical_map, connected_components, rewrite_triples


def test_components_chain_and_cycle(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("d", "c"),  # chain a-b-c-d
         ("x", "y"), ("y", "z"), ("z", "x"),  # cycle x-y-z
         ("solo1", "solo2")],
        "src string, dst string",
    )
    comps = {r.node: r.component for r in connected_components(edges).collect()}
    assert comps == {
        "a": "a", "b": "a", "c": "a", "d": "a",
        "x": "x", "y": "x", "z": "x",
        "solo1": "solo1", "solo2": "solo1",
    }


def test_rewrite_preserves_literals(spark):
    same_as = spark.createDataFrame(
        [("kg:sym/b", "kg:sameAs", "kg:sym/a", 0)],
        "subj string, pred string, obj string, obj_kind int",
    )
    triples = spark.createDataFrame(
        [
            ("kg:sym/b", "kg:defines", "kg:sym/b", 0),
            ("kg:file/f", "kg:atCommit", "kg:sym/b", 2),  # literal: untouched
        ],
        "subj string, pred string, obj string, obj_kind int",
    )
    mapping = canonical_map(same_as)
    out = {(r.subj, r.obj, r.obj_kind) for r in rewrite_triples(triples, mapping).collect()}
    assert out == {
        ("kg:sym/a", "kg:sym/a", 0),
        ("kg:file/f", "kg:sym/b", 2),
    }


def test_convergence_on_long_chain(spark):
    # 64-node chain: one task's union-find closes it in one round under
    # AQE coalescing, well under MAX_ITERATIONS; all collapse to node 00.
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i+1:02d}") for i in range(63)], "src string, dst string"
    )
    comps = connected_components(edges)
    assert comps.select("component").distinct().count() == 1
    assert comps.count() == 64


def test_rewrite_no_forced_broadcast(spark):
    """rewrite_triples must not force a broadcast of the canonical map
    (VERDICT r2 #2: the map is unbounded on a near-dup-heavy corpus).
    With autoBroadcastJoinThreshold disabled, the plan must contain no
    broadcast exchange — i.e. the join degrades safely to a shuffle
    join — and still produce correct results."""
    mapping = spark.createDataFrame(
        [(f"kg:sym/dup{i}", "kg:sym/canon") for i in range(500)],
        "iri string, canonical_iri string",
    )
    triples = spark.createDataFrame(
        [("kg:sym/dup7", "kg:defines", "kg:sym/dup9", 0),
         ("kg:sym/other", "kg:defines", "lit", 2)],
        "subj string, pred string, obj string, obj_kind int",
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = rewrite_triples(triples, mapping)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, plan
        rows = {(r.subj, r.obj, r.obj_kind) for r in out.collect()}
        assert rows == {
            ("kg:sym/canon", "kg:sym/canon", 0),
            ("kg:sym/other", "lit", 2),
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
