"""Jelly frame codec: round-trip equivalence (the reference-corpus gate,
SURVEY.md §5 pillar 2), segments/bounded dictionaries, file delimiting,
state-preserving frame slicing, validation, inspect metrics."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cli_spark import jelly as J
from cli_spark.compare import validate_stream
from cli_spark.inspect_metrics import render_yaml, stream_totals
from cli_spark.jellywire import STAT_NAMES

KEY = ["subj", "pred", "obj", "obj_kind"]


@pytest.fixture(scope="module")
def triples(spark):
    from cli_spark.corpus import generate_repos
    from cli_spark.extract import extract_triples

    repos = generate_repos(spark, 40)
    return extract_triples(repos).select(*KEY).distinct().cache()


def _assert_equal_sets(a, b):
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_roundtrip_default(spark, triples):
    back = J.roundtrip(spark, triples).select(*KEY).distinct()
    _assert_equal_sets(triples, back)


def test_roundtrip_small_dictionary_segments(spark, triples):
    frames = J.encode_triples(spark, triples, rows_per_frame=32, max_name_table=96)
    assert frames.select("seg").distinct().count() > 1  # forced segmentation
    back = J.decode_triples(J.decode_frames(frames)).select(*KEY).distinct()
    _assert_equal_sets(triples, back)
    # bounded-dictionary invariant: ids within a segment never exceed max
    rows = J.decode_frames(frames)
    max_id = rows.filter(F.col("row_kind") == J.KIND_NAME).agg(
        F.max("name_id")
    ).collect()[0][0]
    assert max_id <= 96


def test_file_write_read_probe(spark, triples, tmp_path):
    frames = J.encode_triples(spark, triples, rows_per_frame=64)
    p = str(tmp_path / "stream.jelly")
    J.write_jelly_file(frames, p)
    assert J.probe_delimited(p) is True
    back = J.decode_triples(J.decode_frames(J.read_jelly_file(spark, p))).select(
        *KEY
    ).distinct()
    _assert_equal_sets(triples, back)


def test_write_jelly_file_one_job(spark, tmp_path):
    """The frames are collected unordered and sorted on the driver, so
    writing frames that a Python pass produces runs that pass once: one
    Spark job, where ``orderBy(...).collect()`` ran three (range-bounds
    sample, shuffle, sort). The rewritten stream equals the input."""
    from cli_spark.manifest import job_group

    src = os.path.join(
        os.path.dirname(__file__), "fixtures", "encoder", "quads_pt0_n4096_ns.jelly"
    )
    frames = J.read_jelly_file(spark, src)  # mapInPandas frame split
    p = str(tmp_path / "copy.jelly")
    tracker = spark.sparkContext.statusTracker()
    with job_group(spark, "write_jelly_file job count"):
        J.write_jelly_file(frames, p)
    assert len(tracker.getJobIdsForGroup("write_jelly_file job count")) == 1
    with open(src, "rb") as a, open(p, "rb") as b:
        assert a.read() == b.read()


def test_nondelimited_single_frame(spark, tmp_path):
    small = spark.createDataFrame(
        [("kg:a", "kg:p", "kg:b", 0), ("kg:a", "kg:p", "kg:c", 0)],
        "subj string, pred string, obj string, obj_kind int",
    )
    frames = J.encode_triples(spark, small)
    p = str(tmp_path / "single.jelly")
    J.write_jelly_file(frames, p, delimited=False)
    assert J.probe_delimited(p) is False
    back = J.decode_triples(J.decode_frames(J.read_jelly_file(spark, p)))
    assert back.count() == 2


def test_take_frames_state_preserved(spark, triples):
    frames = J.encode_triples(spark, triples, rows_per_frame=32)
    sliced = J.decode_triples(J.decode_frames(frames), take_frames=(2, 4))
    got_frames = {r.frame_index for r in sliced.select("frame_index").distinct().collect()}
    assert got_frames <= {2, 3, 4} and got_frames
    # every sliced triple fully resolved (dictionary state from earlier
    # frames was available — the P2 semantics)
    assert sliced.filter(
        F.col("subj").isNull() | F.col("pred").isNull() | F.col("obj").isNull()
    ).count() == 0
    assert sliced.count() == 3 * 32


def test_validate_stream_ok_and_violations(spark, triples):
    frames = J.encode_triples(spark, triples, rows_per_frame=64)
    rows = J.decode_frames(frames).cache()
    assert validate_stream(rows) == []
    # drop all options rows → violation reported
    no_opts = rows.filter(F.col("row_kind") != J.KIND_OPTIONS)
    problems = validate_stream(no_opts)
    assert any("options" in p for p in problems)
    # a malformed stream (statement referencing an undefined name id)
    # fails in the resolver itself — decode is where ref integrity lives
    # now that the rows table is fully resolved
    import pytest

    from cli_spark import jellywire as JW

    bad_frame = JW.encode_frame(
        [
            {"kind": JW.K_OPTIONS, "physical": 1, "version": 1, "max_name": 8},
            {
                "kind": JW.K_TRIPLE,
                "s": {"k": 0, "pid": 0, "nid": 99},
                "p": {"k": 0, "pid": 0, "nid": 99},
                "o": {"k": 0, "pid": 0, "nid": 99},
            },
        ]
    )
    bad = spark.createDataFrame(
        [(0, 0, 2, bytearray(bad_frame))], J.FRAME_SCHEMA
    )
    with pytest.raises(Exception, match="undefined name id"):
        J.decode_frames(bad).collect()


def _stat(pf, sfx):
    """The per-frame table of one statistic, as `rdf inspect` selects it."""
    return pf.select("seg", "frame_index", *[f"{n}_{sfx}" for n in STAT_NAMES])


def test_inspect_metrics(spark, triples):
    n = triples.count()
    frames = J.encode_triples(spark, triples, rows_per_frame=64)
    pf = J.frame_wire_size_stats(frames).cache()
    agg = stream_totals(_stat(pf, "count")).collect()[0].asDict()
    assert agg["triple_count"] == n
    assert agg["frame_count"] == frames.count()
    assert agg["option_count"] >= 1
    assert pf.agg(F.sum("triple_count")).collect()[0][0] == n
    # each frame counts once, and no row is bigger than its frame
    assert pf.filter(
        (F.col("frame_count") != 1) | (F.col("row_size") > F.col("frame_size"))
    ).count() == 0
    pf.unpersist()
    yaml_text = render_yaml({"frames": agg, "note": 'has "quotes"'})
    assert "triple_count:" in yaml_text and '\\"' in yaml_text


def test_stream_totals_names_each_counter_once(spark, triples):
    """The aggregate report's roll-up: one column per counter, led by
    frame_count, for both the count and the size statistic."""
    frames = J.encode_triples(spark, triples, rows_per_frame=64)
    n_frames = frames.count()
    pf = J.frame_wire_size_stats(frames)
    for sfx in ("count", "size"):
        totals = stream_totals(_stat(pf, sfx))
        assert len(set(totals.columns)) == len(totals.columns), totals.columns
        assert totals.columns[0] == "frame_count"
        assert totals.first()["frame_count"] == n_frames


def test_varint_edge_values():
    import io

    from cli_spark.jellywire import read_varint, write_varint

    for v in (0, 1, 127, 128, 300, 2**31 - 1, 2**60):
        buf = io.BytesIO()
        write_varint(buf, v)
        out, pos = read_varint(buf.getvalue(), 0)
        assert out == v and pos == len(buf.getvalue())


def test_graphs_physical_roundtrip(spark):
    """S16: quads → GRAPHS frames (GraphStart/GraphEnd run boundaries) →
    decode recovers every quad including default-graph rows."""
    quads = spark.createDataFrame(
        [
            ("s1", "p", "o1", 0, None),           # default graph
            ("s2", "p", "o2", 0, None),
            ("s1", "p", "lit", 2, "kg:graph/a"),
            ("s3", "p", "o3", 0, "kg:graph/a"),
            ("s4", "p", "o4", 0, "kg:graph/b"),
        ],
        "subj string, pred string, obj string, obj_kind int, graph string",
    )
    frames = J.encode_quads_graphs(spark, quads, rows_per_frame=4)
    rows = J.decode_frames(frames).cache()
    # stream structure: one options row, one GraphStart/End pair per run
    kinds = {r.row_kind for r in rows.select("row_kind").distinct().collect()}
    assert J.KIND_GRAPH_START in kinds and J.KIND_GRAPH_END in kinds
    starts = rows.filter(F.col("row_kind") == J.KIND_GRAPH_START).count()
    ends = rows.filter(F.col("row_kind") == J.KIND_GRAPH_END).count()
    assert starts == 3 and ends == 3  # default, a, b
    out = J.decode_quads_graphs(rows)
    got = {
        (r.subj, r.pred, r.obj, r.obj_kind, r.graph)
        for r in out.collect()
    }
    want = {
        ("s1", "p", "o1", 0, None),
        ("s2", "p", "o2", 0, None),
        ("s1", "p", "lit", 2, "kg:graph/a"),
        ("s3", "p", "o3", 0, "kg:graph/a"),
        ("s4", "p", "o4", 0, "kg:graph/b"),
    }
    assert got == want


def test_graphs_decode_keeps_typed_literals(spark):
    """A GRAPHS-physical decode must preserve datatype/langtag
    annotations — decode_quads_graphs once silently stripped them
    (only decode_quads carried the full projection)."""
    quads = spark.createDataFrame(
        [
            ("s1", "p", "5", 2, "kg:graph/a", "http://www.w3.org/2001/XMLSchema#integer", None),
            ("s2", "p", "hei", 2, "kg:graph/a", None, "no"),
            ("s3", "p", "o3", 0, None, None, None),
        ],
        "subj string, pred string, obj string, obj_kind int, graph string, "
        "obj_datatype string, obj_lang string",
    )
    frames = J.encode_quads_graphs(spark, quads, rows_per_frame=4)
    out = J.decode_quads_graphs(J.decode_frames(frames))
    got = {
        (r.subj, r.obj, r.obj_kind, r.graph, r.obj_datatype, r.obj_lang)
        for r in out.collect()
    }
    assert ("s1", "5", 2, "kg:graph/a",
            "http://www.w3.org/2001/XMLSchema#integer", None) in got
    assert ("s2", "hei", 2, "kg:graph/a", None, "no") in got
    assert ("s3", "o3", 0, None, None, None) in got


def test_graphs_runs_span_frames(spark):
    """Graph state must survive frame boundaries: 40 quads in one graph
    with rows_per_frame=8 ⇒ the run spans ≥5 frames, later frames carry
    no GraphStart of their own."""
    quads = spark.createDataFrame(
        [(f"s{i:02d}", "p", f"o{i}", 0, "kg:graph/only") for i in range(40)],
        "subj string, pred string, obj string, obj_kind int, graph string",
    )
    frames = J.encode_quads_graphs(spark, quads, rows_per_frame=8)
    rows = J.decode_frames(frames)
    out = J.decode_quads_graphs(rows)
    assert out.count() == 40
    assert out.filter(F.col("graph") == "kg:graph/only").count() == 40


def test_quoted_graph_term_typed_error(spark):
    """The real wire has no quoted-triple graph field (RdfQuad's graph
    oneof is iri/bnode/default/literal): encoding one must raise the
    typed 'invalid in graph position' error, not an opaque KeyError."""
    import pytest

    quads = spark.createDataFrame(
        [("s", "p", "o", 0, '["<a>","<b>","<c>"]', 3)],
        "subj string, pred string, obj string, obj_kind int, "
        "graph string, graph_kind int",
    )
    with pytest.raises(Exception, match="invalid in graph position"):
        # the fused encoder's declared-size job is eager, so the error
        # can surface from encode_quads itself or from the collect
        J.encode_quads(spark, quads).collect()


def test_roundtrip_typed_literals(spark):
    """Datatype table (3rd dictionary) + inline langtags survive the
    frame round-trip losslessly."""
    triples = spark.createDataFrame(
        [
            ("s1", "p", "42", 2, "http://www.w3.org/2001/XMLSchema#integer", None),
            ("s2", "p", "4.5", 2, "http://www.w3.org/2001/XMLSchema#decimal", None),
            ("s3", "p", "hello", 2, None, "en"),
            ("s4", "p", "bonjour", 2, None, "fr-CA"),
            ("s5", "p", "plain", 2, None, None),
            ("s6", "p", "o", 0, None, None),
        ],
        "subj string, pred string, obj string, obj_kind int, "
        "obj_datatype string, obj_lang string",
    )
    back = J.roundtrip(spark, triples)
    got = {
        (r.subj, r.obj, r.obj_datatype, r.obj_lang)
        for r in back.collect()
    }
    assert got == {
        ("s1", "42", "http://www.w3.org/2001/XMLSchema#integer", None),
        ("s2", "4.5", "http://www.w3.org/2001/XMLSchema#decimal", None),
        ("s3", "hello", None, "en"),
        ("s4", "bonjour", None, "fr-CA"),
        ("s5", "plain", None, None),
        ("s6", "o", None, None),
    }
    # the datatype table must be dictionary rows, not inline strings
    rows = J.decode_frames(J.encode_triples(spark, triples))
    assert rows.filter(F.col("row_kind") == J.KIND_DATATYPE).count() == 2


def test_roundtrip_randomized_terms(spark):
    """Wire-format roundtrip over 400 seeded-random statements sweeping
    unicode IRIs, bnode label charsets, escaped/datatyped/langtagged
    literals, and quoted triples — with a small dictionary (forces
    multiple segments + prefix table) so every codec path is hot. The
    corpus-derived fixtures can't reach these charsets."""
    import random

    from cli_spark.nquads import KIND_BNODE, KIND_IRI, KIND_LITERAL, KIND_QUOTED
    from cli_spark.turtle import _nt_term_text

    rng = random.Random(424242)
    CHARS = "abcXYZ019_émoji☃/#.-"

    def iri():
        return "http://e.org/" + "".join(
            rng.choice(CHARS) for _ in range(rng.randint(1, 10))
        )

    def term():
        r = rng.random()
        if r < 0.35:
            return (iri(), KIND_IRI, None, None)
        if r < 0.5:
            lbl = (rng.choice("aZ09_") + "".join(
                rng.choice("aZ09_-.") for _ in range(rng.randint(0, 6))
            )).rstrip(".") or "b"
            return (lbl, KIND_BNODE, None, None)
        if r < 0.9:
            lex = "".join(rng.choice('ab"\\\n\t é☃') for _ in range(rng.randint(0, 12)))
            style = rng.randint(0, 2)
            if style == 1:
                return (lex, KIND_LITERAL, iri(), None)
            if style == 2:
                return (lex, KIND_LITERAL, None, "en")
            return (lex, KIND_LITERAL, None, None)
        s, sk, _, _ = (iri(), KIND_IRI, None, None)
        o = term() if rng.random() < 0.3 else (iri(), KIND_IRI, None, None)
        inner = " ".join(
            (_nt_term_text(sk, s, None, None),
             _nt_term_text(KIND_IRI, iri(), None, None),
             _nt_term_text(o[1], o[0], o[2], o[3]))
        )
        return (f"<< {inner} >>", KIND_QUOTED, None, None)

    rows = []
    for _ in range(400):
        s = term()
        while s[1] == KIND_LITERAL:  # standard RDF subject
            s = term()
        o = term()
        rows.append((s[0], iri(), o[0], o[1], o[2], o[3]))
    df = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_kind int, "
        "obj_datatype string, obj_lang string",
    ).distinct().cache()
    back = J.roundtrip(
        spark, df, rows_per_frame=37, max_name_table=64, prefix_table=True
    ).select(*df.columns)
    # python-side set compare: exceptAll over the self-derived decode
    # lineage trips a Catalyst binding bug (ATTRIBUTE_NOT_FOUND on the
    # pruned obj_datatype) in Spark 4.1; 400 rows collect fine
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}
