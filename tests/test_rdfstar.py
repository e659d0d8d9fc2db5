"""RDF-star quoted triples (P7, StatementUtils.scala:23-25;
OrderedRdfCompare.scala:45-51 recursion): N-Triples-star parse/render,
Jelly codec passthrough, compare recursion, derived options flag."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cli_spark import jelly as J
from cli_spark.compare import ordered_compare
from cli_spark.nquads import KIND_QUOTED, parse_lines, render_lines

STAR_LINES = [
    '<< <kg:s> <kg:p> "v" >> <kg:says> <kg:alice> .',
    '<kg:alice> <kg:claims> << <kg:s> <kg:p> <kg:o> >> .',
    "<kg:plain> <kg:p> <kg:o> .",
]


@pytest.fixture(scope="module")
def star_df(spark):
    return parse_lines(
        spark.createDataFrame([(ln,) for ln in STAR_LINES], "value string")
    ).cache()


def test_parse_quoted_terms(star_df):
    rows = {r.subj: r for r in star_df.collect()}
    qt = '<< <kg:s> <kg:p> "v" >>'
    assert qt in rows and rows[qt].subj_kind == KIND_QUOTED
    alice = rows["kg:alice"]
    assert alice.obj == "<< <kg:s> <kg:p> <kg:o> >>"
    assert alice.obj_kind == KIND_QUOTED
    assert rows["kg:plain"].subj_kind == 0


def test_render_parse_identity_star(spark, star_df):
    lines = render_lines(star_df)
    back = parse_lines(lines, "line")
    key = ["subj", "subj_kind", "pred", "obj", "obj_kind"]
    a = {tuple(r) for r in star_df.select(*key).collect()}
    b = {tuple(r) for r in back.select(*key).collect()}
    assert a == b


def test_jelly_roundtrip_star(spark, star_df):
    """Quoted-triple terms pass through the codec as dictionary terms
    with o_kind/s_kind 3 (structural sharing documented as future work)."""
    t = star_df.select("subj", "pred", "obj", "obj_kind")
    back = J.roundtrip(spark, t)
    key = ["subj", "pred", "obj", "obj_kind"]
    assert {tuple(r) for r in back.select(*key).collect()} == {
        tuple(r) for r in t.collect()
    }


def test_ordered_compare_recurses_into_quoted(spark):
    """Bnode bijection must hold INSIDE quoted triples
    (OrderedRdfCompare.scala:45-51)."""
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        [(i, s, "kg:p", o) for i, (s, o) in enumerate(rows)],
        "idx long, subj string, pred string, obj string",
    )
    e = mk([("<< _:x <kg:p> <kg:o> >>", "_:x"), ("kg:a", "_:x")])
    # consistent relabeling x→y: equal
    a_ok = mk([("<< _:y <kg:p> <kg:o> >>", "_:y"), ("kg:a", "_:y")])
    assert ordered_compare(e, a_ok).equal
    # inconsistent: the label inside the quote maps to y but outside to z
    a_bad = mk([("<< _:y <kg:p> <kg:o> >>", "_:z"), ("kg:a", "_:y")])
    res = ordered_compare(e, a_bad)
    assert not res.equal
    # structural mismatch inside the quote
    a_struct = mk([("<< _:y <kg:p> <kg:DIFFERENT> >>", "_:y"), ("kg:a", "_:y")])
    assert not ordered_compare(e, a_struct).equal


def test_literal_with_bnode_text_not_masked(spark):
    mk = lambda o: spark.createDataFrame(  # noqa: E731
        [(1, "kg:s", "kg:p", o)], "idx long, subj string, pred string, obj string"
    )
    assert ordered_compare(mk("see _:b1"), mk("see _:b1")).equal
    assert not ordered_compare(mk("see _:b1"), mk("see _:b2")).equal


def test_p8_flag_conformance(spark, star_df):
    """P8 (RdfValidate.scala:159-182): star statements in a stream whose
    options lack the rdf-star flag are a validation error; declaring the
    flag clears it."""
    from cli_spark.compare import validate_stream

    t = star_df.select("subj", "pred", "obj", "obj_kind")
    plain = J.decode_frames(J.encode_triples(spark, t))  # flags off
    problems = validate_stream(plain)
    assert any("rdf-star" in p for p in problems)
    opts = J.StreamOptions(rdf_star=True)
    declared = J.decode_frames(J.encode_triples(spark, t, options=opts))
    assert validate_stream(declared) == []


# --- round-3: arbitrary (depth-bounded unrolled) nesting ---

DEEP_LINES = [
    '<< << <kg:s> <kg:p> <kg:o> >> <kg:certainty> "0.9" >> <kg:statedBy> <kg:bob> .',
    '<kg:eve> <kg:doubts> << << << _:x <kg:p> _:y >> <kg:by> _:x >> <kg:at> "t1" >> .',
]


def test_parse_nested_quoted_terms(spark):
    df = parse_lines(
        spark.createDataFrame([(ln,) for ln in DEEP_LINES], "value string")
    )
    rows = df.collect()
    assert len(rows) == 2
    by_pred = {r.pred: r for r in rows}
    deep2 = by_pred["kg:statedBy"]
    assert deep2.subj_kind == KIND_QUOTED
    assert deep2.subj == '<< << <kg:s> <kg:p> <kg:o> >> <kg:certainty> "0.9" >>'
    deep3 = by_pred["kg:doubts"]
    assert deep3.obj_kind == KIND_QUOTED
    assert deep3.obj.count("<<") == 3 and deep3.obj.count(">>") == 3


def test_render_parse_identity_nested(spark):
    df = parse_lines(
        spark.createDataFrame([(ln,) for ln in DEEP_LINES], "value string")
    )
    back = parse_lines(render_lines(df), "line")
    key = ["subj", "subj_kind", "pred", "obj", "obj_kind"]
    assert {tuple(r) for r in back.select(*key).collect()} == {
        tuple(r) for r in df.select(*key).collect()
    }


def test_ordered_compare_nested_bijection(spark):
    """Bnode bijection holds at nesting depth 3: relabeling _:x/_:y
    consistently compares equal; an inconsistent relabel (same inner
    label mapping to two targets) fails."""
    base = ['<kg:eve> <kg:doubts> << << << _:x <kg:p> _:y >> <kg:by> _:x >> <kg:at> "t1" >> .']
    relabeled = ['<kg:eve> <kg:doubts> << << << _:a <kg:p> _:b >> <kg:by> _:a >> <kg:at> "t1" >> .']
    broken = ['<kg:eve> <kg:doubts> << << << _:a <kg:p> _:b >> <kg:by> _:b >> <kg:at> "t1" >> .']
    mk = lambda lines: parse_lines(
        spark.createDataFrame([(ln,) for ln in lines], "value string")
    )
    assert ordered_compare(mk(base), mk(relabeled)).equal
    res = ordered_compare(mk(base), mk(broken))
    assert not res.equal


def _nest(depth: int, obj: str = "<kg:o>") -> str:
    """Quoted triple nested `depth` levels deep in object position."""
    t = f"<kg:s0> <kg:p> {obj}"
    for d in range(1, depth + 1):
        t = f"<kg:s{d}> <kg:p> << {t} >>"
    return t


def test_deep_star_beyond_regex_depth(spark):
    """Nesting deeper than QT_MAX_DEPTH routes to the unbounded Python
    tokenizer and round-trips; the shallow lines in the same input still
    take the JVM regex path (union plan)."""
    from cli_spark.nquads import QT_MAX_DEPTH

    deep_line = _nest(QT_MAX_DEPTH + 3) + " ."
    lines = [deep_line, "<kg:plain> <kg:p> \"v\" .", _nest(2) + " ."]
    df = parse_lines(
        spark.createDataFrame([(ln,) for ln in lines], "value string")
    )
    rows = df.collect()
    assert len(rows) == 3
    deep = [r for r in rows if r.subj == f"kg:s{QT_MAX_DEPTH + 3}"]
    assert len(deep) == 1 and deep[0].obj_kind == KIND_QUOTED
    # the quoted term is the self-delimiting source text at full depth
    assert deep[0].obj.count("<<") == QT_MAX_DEPTH + 3
    # render ∘ parse identity at unbounded depth
    back = parse_lines(render_lines(df), "line")
    key = ["subj", "subj_kind", "pred", "obj", "obj_kind"]
    assert {tuple(r) for r in back.select(*key).collect()} == {
        tuple(r) for r in df.select(*key).collect()
    }


def test_deep_star_default_off_unchanged(spark):
    """An input with no line beyond the regex depth parses on the JVM
    path alone (no Python branch in the plan)."""
    df = parse_lines(
        spark.createDataFrame([(ln,) for ln in STAR_LINES], "value string")
    )
    assert df.count() == 3
    assert "mapInPandas" not in df._jdf.queryExecution().executedPlan().toString()
