"""RDF compare battery: ordered positional compare with bnode bijection
(J1), unordered per-graph isomorphism via hash refinement (J2),
containment (J3) — mirrors the reference's validate specs
(OrderedRdfCompare / UnorderedRdfCompare)."""

from __future__ import annotations

import pytest

from cli_spark.compare import (
    canonicalize_bnodes,
    containment,
    ordered_compare,
    unordered_compare,
)

SCHEMA = "idx long, subj string, pred string, obj string"
GSCHEMA = "graph string, subj string, pred string, obj string"


def df(spark, rows, schema=SCHEMA):
    return spark.createDataFrame(rows, schema)


def test_ordered_equal_plain(spark):
    a = df(spark, [(1, "kg:a", "kg:p", "kg:b"), (2, "kg:b", "kg:p", "kg:c")])
    assert ordered_compare(a, a).equal


def test_ordered_bnode_bijection_ok(spark):
    e = df(spark, [(1, "_:x", "kg:p", "_:y"), (2, "_:x", "kg:p", "_:z")])
    a = df(spark, [(1, "_:1", "kg:p", "_:2"), (2, "_:1", "kg:p", "_:3")])
    assert ordered_compare(e, a).equal


def test_ordered_bnode_bijection_violation(spark):
    # _:x maps to both _:1 and _:2 → not a function
    e = df(spark, [(1, "_:x", "kg:p", "kg:o"), (2, "_:x", "kg:p", "kg:o2")])
    a = df(spark, [(1, "_:1", "kg:p", "kg:o"), (2, "_:2", "kg:p", "kg:o2")])
    res = ordered_compare(e, a)
    assert not res.equal and "bnode" in res.detail


def test_ordered_size_and_value_mismatch(spark):
    e = df(spark, [(1, "kg:a", "kg:p", "kg:b")])
    a = df(spark, [(1, "kg:a", "kg:p", "kg:b"), (2, "kg:a", "kg:p", "kg:c")])
    assert not ordered_compare(e, a).equal
    b = df(spark, [(1, "kg:a", "kg:p", "kg:DIFFERENT")])
    assert not ordered_compare(e, b).equal
    # bnode vs IRI at same position is a kind mismatch
    c = df(spark, [(1, "_:b", "kg:p", "kg:b")])
    assert not ordered_compare(e, c).equal


def test_unordered_isomorphic_relabeling(spark):
    e = df(
        spark,
        [(None, "_:x", "kg:p", "_:y"), (None, "_:y", "kg:q", "kg:iri")],
        GSCHEMA,
    )
    a = df(
        spark,
        [(None, "_:n2", "kg:q", "kg:iri"), (None, "_:n1", "kg:p", "_:n2")],
        GSCHEMA,
    )
    assert unordered_compare(e, a).equal


def test_unordered_not_isomorphic(spark):
    e = df(spark, [(None, "_:x", "kg:p", "_:y")], GSCHEMA)
    a = df(spark, [(None, "_:x", "kg:p", "kg:iri")], GSCHEMA)
    res = unordered_compare(e, a)
    assert not res.equal


def test_unordered_graph_set_mismatch(spark):
    e = df(spark, [("kg:g1", "kg:a", "kg:p", "kg:b")], GSCHEMA)
    a = df(spark, [("kg:g2", "kg:a", "kg:p", "kg:b")], GSCHEMA)
    res = unordered_compare(e, a)
    assert not res.equal and "graph" in res.detail


def test_canonicalization_distinguishes_structure(spark):
    # chain vs star with 3 bnodes — same degree sums, different structure
    chain = df(
        spark,
        [(None, "_:a", "kg:p", "_:b"), (None, "_:b", "kg:p", "_:c")],
        GSCHEMA,
    )
    star = df(
        spark,
        [(None, "_:a", "kg:p", "_:b"), (None, "_:a", "kg:p", "_:c")],
        GSCHEMA,
    )
    assert not unordered_compare(chain, star).equal


def test_containment(spark):
    e = df(spark, [(1, "kg:a", "kg:p", "kg:b"), (2, "kg:a", "kg:p", "kg:c")])
    a = df(spark, [(1, "kg:a", "kg:p", "kg:b")])
    assert containment(e, a) == 1
    assert containment(a, e) == 0


def test_canonical_labels_deterministic(spark):
    t = df(
        spark,
        [(None, "_:x", "kg:p", "_:y"), (None, "_:y", "kg:p", "kg:o")],
        GSCHEMA,
    )
    a = canonicalize_bnodes(t)
    b = canonicalize_bnodes(t)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


# ---------------------------------------------------------------------------
# Exact problem strings and details. validate_stream's checks run over a
# rows table built from a real encode and then edited; each expected list
# is the whole result, text and order, not a substring.
# ---------------------------------------------------------------------------

TSCHEMA = "subj string, pred string, obj string, obj_kind int"


def _plain_triples(spark, n=40, tag="s"):
    return spark.createDataFrame(
        [(f"kg:{tag}{i:02d}", "kg:p", f"kg:o{i % 7}", 0) for i in range(n)],
        TSCHEMA,
    )


def _rows(spark, triples, **kw):
    from cli_spark import jelly as J

    return J.decode_frames(J.encode_triples(spark, triples, **kw))


def _concat_rows(spark, tmp_path, parts):
    """Rows of ONE file holding the given frame tables as concatenated
    sub-streams, in order."""
    from cli_spark import jelly as J

    path = str(tmp_path / "concat.jelly")
    for i, frames in enumerate(parts):
        J.write_jelly_file(frames, path, append=i > 0)
    return J.decode_frames(J.read_jelly_file(spark, path))


def _edit(rows, col, value, frame_index, row_pos):
    from pyspark.sql import functions as F

    at = (F.col("frame_index") == frame_index) & (F.col("row_pos") == row_pos)
    return rows.withColumn(
        col, F.when(at, F.lit(value)).otherwise(F.col(col)).cast(
            dict(rows.dtypes)[col]
        )
    )


def _first_statement_pos(rows, frame_index):
    from pyspark.sql import functions as F

    from cli_spark import jelly as J

    return (
        rows.filter(
            (F.col("frame_index") == frame_index)
            & (F.col("row_kind") == J.KIND_TRIPLE)
        )
        .agg(F.min("row_pos"))
        .first()[0]
    )


def test_validate_stream_golden_options_rows_dropped(spark):
    from pyspark.sql import functions as F

    from cli_spark import jelly as J
    from cli_spark.compare import validate_stream

    # a declared name table of 24 splits 40 triples into 5 segments,
    # each opening with its own options row
    rows = _rows(spark, _plain_triples(spark), rows_per_frame=8, max_name_table=24)
    assert validate_stream(rows) == []
    no_opts = rows.filter(F.col("row_kind") != J.KIND_OPTIONS)
    assert validate_stream(no_opts) == [
        "5 segment(s) do not start with an options row"
    ]


def test_validate_stream_golden_late_options_row(spark, tmp_path):
    from pyspark.sql import functions as F

    from cli_spark import jelly as J
    from cli_spark.compare import validate_stream

    f1 = J.encode_triples(spark, _plain_triples(spark, 20, "a"), rows_per_frame=8)
    f2 = J.encode_triples(spark, _plain_triples(spark, 20, "b"), rows_per_frame=8)
    first = _concat_rows(spark, tmp_path, [f1, f2])
    assert validate_stream(first) == []
    # a second file segment of the same two sub-streams whose first
    # options row comes after all of frame 0's statements
    second = _edit(
        first.withColumn("seg", F.col("seg") + 1), "row_pos", 1000, 0, 0
    )
    assert second.filter(
        (F.col("frame_index") == 0) & (F.col("row_pos") == 1000)
    ).first().row_kind == J.KIND_OPTIONS
    assert validate_stream(first.unionByName(second)) == [
        "1 segment(s) do not start with an options row"
    ]


def test_validate_stream_golden_unresolved_terms(spark):
    from cli_spark import jelly as J
    from cli_spark.compare import validate_stream

    rows = _rows(spark, _plain_triples(spark), rows_per_frame=8)
    pos = _first_statement_pos(rows, 1)
    assert validate_stream(_edit(rows, "subj", None, 1, pos)) == [
        "1 statement(s) with unresolved terms"
    ]
    # quads: a default-graph statement's NULL graph is resolved, a
    # named graph's is not
    quads = spark.createDataFrame(
        [("kg:s1", "kg:p", "kg:o", 0, None), ("kg:s2", "kg:p", "kg:o", 0, "kg:g")],
        TSCHEMA + ", graph string",
    )
    qrows = J.decode_frames(J.encode_quads(spark, quads))
    assert validate_stream(qrows) == []
    named = qrows.filter("graph = 'kg:g'").first()
    assert validate_stream(
        _edit(qrows, "graph", None, named.frame_index, named.row_pos)
    ) == ["1 statement(s) with unresolved terms"]


def test_validate_stream_golden_entry_id_out_of_bounds(spark):
    from cli_spark import jelly as J
    from cli_spark.compare import validate_stream

    rows = _rows(spark, _plain_triples(spark), rows_per_frame=8)
    opts = rows.filter(f"row_kind = {J.KIND_OPTIONS}").first()
    name = rows.filter(f"row_kind = {J.KIND_NAME} AND frame_index = 2").first()
    edited = _edit(
        rows, "name_id", opts.opt_max_name + 1, name.frame_index, name.row_pos
    )
    assert validate_stream(edited) == [
        "1 dictionary entry id(s) exceed the declared lookup-table size"
    ]


def test_validate_stream_golden_undeclared_flags(spark):
    from cli_spark.compare import validate_stream

    rows = _rows(spark, _plain_triples(spark), rows_per_frame=8)
    edited = rows
    # generalized offenders in frames 3 and 2, an RDF-star one in frame 1
    for frame, col, kind in ((3, "subj_kind", 2), (2, "pred_kind", 1), (1, "obj_kind", 3)):
        edited = _edit(edited, col, kind, frame, _first_statement_pos(rows, frame))
    assert validate_stream(edited) == [
        "generalized statement in frame 2 but the stream options do not "
        "declare the generalized-RDF flag",
        "RDF-star statement in frame 1 but the stream options do not "
        "declare the rdf-star flag",
    ]


def test_validate_stream_golden_flag_in_second_substream(spark, tmp_path):
    from cli_spark import jelly as J
    from cli_spark.compare import validate_stream

    star = spark.createDataFrame(
        [("kg:s", "kg:says", "<< <kg:a> <kg:b> <kg:c> >>", 3)], TSCHEMA
    )
    plain = J.encode_triples(spark, _plain_triples(spark, 10))
    starred = J.encode_triples(spark, star, options=J.StreamOptions(rdf_star=True))
    unflagged = J.encode_triples(spark, star)
    changed = (
        "options changed mid-stream (later options rows must equal the "
        "first — RdfValidate.scala:192-195)"
    )
    # each statement is checked against its own sub-stream's flags: the
    # starred sub-stream declares rdf-star, so only the changed options
    # are reported
    assert validate_stream(_concat_rows(spark, tmp_path, [plain, starred])) == [changed]
    # a later sub-stream's flag does not cover an earlier statement
    (tmp_path / "rev").mkdir()
    assert validate_stream(
        _concat_rows(spark, tmp_path / "rev", [unflagged, starred])
    ) == [
        "RDF-star statement in frame 0 but the stream options do not "
        "declare the rdf-star flag",
        changed,
    ]
    assert validate_stream(_rows(spark, star)) == [
        "RDF-star statement in frame 0 but the stream options do not "
        "declare the rdf-star flag"
    ]


def test_validate_stream_job_count(spark):
    """validate_stream costs a fixed number of Spark jobs: every check is
    one aggregate over the rows joined to the broadcast options rows. On
    this five-segment stream that is 6 jobs, as before the options-row
    checks were folded into the aggregate; a new action shows here."""
    from cli_spark.compare import validate_stream
    from cli_spark.manifest import job_group

    rows = _rows(spark, _plain_triples(spark), rows_per_frame=8, max_name_table=24)
    assert rows.select("seg").distinct().count() == 5
    tracker = spark.sparkContext.statusTracker()
    with job_group(spark, "validate_stream job count"):
        assert validate_stream(rows) == []
    assert len(tracker.getJobIdsForGroup("validate_stream job count")) == 6


def test_unordered_compare_golden_details(spark):
    e = df(spark, [("kg:g1", "kg:a", "kg:p", "kg:b"), (None, "_:x", "kg:p", "kg:b")], GSCHEMA)
    a = df(spark, [("kg:g2", "kg:a", "kg:p", "kg:b"), (None, "_:y", "kg:p", "kg:b")], GSCHEMA)
    assert unordered_compare(e, a).detail == "graph sets differ (2 unmatched)"
    # one row duplicated and one missing in the same graph, plus a bnode
    # relabeling that is not a difference
    e = df(
        spark,
        [("kg:g", "kg:a", "kg:p", "kg:b"), ("kg:g", "kg:a", "kg:p", "kg:c"),
         ("kg:g", "kg:a", "kg:p", "kg:d"), ("kg:g", "_:x", "kg:q", "kg:b")],
        GSCHEMA,
    )
    a = df(
        spark,
        [("kg:g", "kg:a", "kg:p", "kg:b"), ("kg:g", "kg:a", "kg:p", "kg:b"),
         ("kg:g", "kg:a", "kg:p", "kg:c"), ("kg:g", "_:y", "kg:q", "kg:b")],
        GSCHEMA,
    )
    assert unordered_compare(e, a).detail == "2 canonicalized triples unmatched"
    assert unordered_compare(e, e).detail == "isomorphic"
    # graph-set differences are reported ahead of triple differences
    a2 = a.unionByName(df(spark, [("kg:h", "kg:a", "kg:p", "kg:b")], GSCHEMA))
    assert unordered_compare(e, a2).detail == "graph sets differ (1 unmatched)"


def test_ordered_compare_golden_details(spark):
    e = df(spark, [(1, "kg:a", "kg:p", "kg:b"), (2, "_:x", "kg:p", "kg:c")])
    assert ordered_compare(e, e).detail == "equal"
    longer = e.unionByName(df(spark, [(3, "kg:a", "kg:p", "kg:d")]))
    assert ordered_compare(e, longer).detail == "size mismatch: expected 2 != actual 3"
    obj = df(spark, [(1, "kg:a", "kg:p", "kg:B"), (2, "_:y", "kg:p", "kg:C")])
    assert ordered_compare(e, obj).detail == "2 positions differ in obj"
    # the first column in ``cols`` order with a difference is reported
    both = df(spark, [(1, "kg:A", "kg:p", "kg:b"), (2, "_:y", "kg:p", "kg:C")])
    assert ordered_compare(e, both).detail == "1 positions differ in subj"
    assert ordered_compare(e, both, cols=("obj", "subj")).detail == (
        "1 positions differ in obj"
    )
    # masked equality holds, but _:x maps to two labels
    e2 = df(spark, [(1, "_:x", "kg:p", "kg:b"), (2, "_:x", "kg:p", "<< _:x <kg:q> _:z >>")])
    a2 = df(spark, [(1, "_:1", "kg:p", "kg:b"), (2, "_:1", "kg:p", "<< _:2 <kg:q> _:3 >>")])
    assert ordered_compare(e2, a2).detail == "1 bnode labels map to multiple targets"
    assert ordered_compare(e, e, cols=()).detail == "equal (no bnodes)"
