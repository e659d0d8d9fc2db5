"""N-Quads/N-Triples columnar parse + render: full term model, escapes,
datatypes/langtags, generalized RDF, round-trip identity (S5/S6/S12/F7)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cli_spark.nquads import parse_lines, render_lines

LINES = [
    '<http://a.com/s> <http://a.com/p> <http://a.com/o> .',
    '<http://a.com/s> <http://a.com/p> "plain lit" .',
    '<http://a.com/s> <http://a.com/p> "42"^^<http://www.w3.org/2001/XMLSchema#int> .',
    '<http://a.com/s> <http://a.com/p> "hei"@nb .',
    '_:b1 <http://a.com/p> _:b2 .',
    '<http://a.com/s> <http://a.com/p> "esc \\"q\\" \\\\ tab\\there" .',
    '<http://a.com/s> <http://a.com/p> <http://a.com/o> <http://a.com/g> .',
    '# comment line',
    '',
]


@pytest.fixture(scope="module")
def parsed(spark):
    df = spark.createDataFrame([(l,) for l in LINES], "value string")
    return parse_lines(df).cache()


def test_parse_counts_and_kinds(spark, parsed):
    rows = parsed.collect()
    assert len(rows) == 7  # comment + blank dropped
    kinds = {(r.subj_kind, r.pred_kind, r.obj_kind) for r in rows}
    assert (0, 0, 0) in kinds and (0, 0, 2) in kinds and (1, 0, 1) in kinds


def test_parse_literal_annotations(spark, parsed):
    rows = {r.obj: r for r in parsed.filter(F.col("obj_kind") == 2).collect()}
    assert rows["42"].obj_datatype == "http://www.w3.org/2001/XMLSchema#int"
    assert rows["hei"].obj_lang == "nb"
    assert rows["plain lit"].obj_datatype is None and rows["plain lit"].obj_lang is None
    assert 'esc "q" \\ tab\there' in rows


def test_parse_quad_graph(spark, parsed):
    quads = parsed.filter(F.col("graph").isNotNull()).collect()
    assert len(quads) == 1 and quads[0].graph == "http://a.com/g"


def test_bnodes(spark, parsed):
    b = parsed.filter(F.col("subj_kind") == 1).collect()[0]
    assert b.subj == "b1" and b.obj == "b2"


def test_roundtrip_identity(spark, parsed):
    lines2 = render_lines(parsed)
    reparsed = parse_lines(lines2.withColumnRenamed("line", "value"))
    assert parsed.exceptAll(reparsed).count() == 0
    assert reparsed.exceptAll(parsed).count() == 0


def test_generalized_rdf(spark):
    # literal subject, bnode predicate, literal graph — the reference's
    # generalized.nq shapes (StatementUtils.isGeneralized)
    glines = [
        '"lit subject" <http://a.com/p> <http://a.com/o> .',
        '<http://a.com/s> _:bpred <http://a.com/o> .',
        '<http://a.com/s> <http://a.com/p> <http://a.com/o> "lit graph" .',
    ]
    df = parse_lines(spark.createDataFrame([(l,) for l in glines], "value string"))
    rows = df.collect()
    assert rows[0].subj_kind == 2  # literal subject parsed, not rejected
    kinds = {(r.subj_kind, r.pred_kind) for r in rows}
    assert (0, 1) in kinds  # bnode predicate
    assert any(r.graph_kind == 2 for r in rows if r.graph is not None)
    # generalized predicate (P6): flags exactly these rows
    gen = df.filter(
        (~F.col("subj_kind").isin(0, 1))
        | (F.col("pred_kind") != 0)
        | (F.col("graph").isNotNull() & ~F.col("graph_kind").isin(0, 1))
    )
    assert gen.count() == 3


def test_bnode_labels_with_hyphen_underscore_dot(spark):
    """N-Triples BLANK_NODE_LABEL allows -_. (non-trailing dot) — our
    own Turtle parser emits genid-N labels, so a ttl→nq round-trip
    depends on this. The terminator dot must NOT join the label."""
    from cli_spark.nquads import KIND_BNODE, parse_lines, render_lines

    lines = [
        "_:genid-1 <kg:p> _:x.y .",
        "_:a_b.c-9 <kg:p> _:z.",  # no space before the terminator dot
    ]
    df = parse_lines(spark.createDataFrame([(ln,) for ln in lines], "value string"))
    rows = {(r.subj, r.obj) for r in df.collect()}
    assert rows == {("genid-1", "x.y"), ("a_b.c-9", "z")}
    assert {r.subj_kind for r in df.collect()} == {KIND_BNODE}
    back = parse_lines(render_lines(df), "line")
    assert {(r.subj, r.obj) for r in back.collect()} == rows


def test_escaped_backslash_before_escape_char(spark):
    """Regression: source '\\\\t' (escaped backslash + literal t) must
    decode to backslash + 't', NOT backslash + TAB — the old ordered
    replace chain fired the '\\t' rule inside the pair. Covers the
    column parser, the Python mirror, and render→parse identity."""
    from cli_spark.nquads import _unescape_py, parse_lines, render_lines

    BS = "\\"  # one backslash character
    cases = {
        # lexical form (source)        → decoded value
        BS + BS + "t": BS + "t",             # \\t  = esc backslash, then 't'
        BS + BS + BS + "t": BS + "\t",       # \\\t = esc backslash + esc TAB
        BS + BS + BS + BS + "t": BS + BS + "t",  # \\\\t = two backslashes + 't'
        "a" + BS + BS: "a" + BS,             # trailing escaped backslash
        BS + "n" + BS + BS + "n": "\n" + BS + "n",  # \n then esc-backslash+'n'
    }
    lines = [f'<kg:s> <kg:p> "{lex}" .' for lex in cases]
    df = parse_lines(spark.createDataFrame([(ln,) for ln in lines], "value string"))
    got = sorted(r.obj for r in df.collect())
    assert got == sorted(cases.values())
    # Python mirror agrees on the raw lexical forms
    for lex, want in cases.items():
        assert _unescape_py(lex) == want
    # render-then-parse identity over the decoded values
    back = parse_lines(render_lines(df), "line")
    assert sorted(r.obj for r in back.collect()) == sorted(cases.values())


def test_python_tokenizer_malformed_and_charset(spark):
    """The deep-star Python fallback must (a) DROP lines with an
    unterminated IRI instead of crashing the task (JVM-path parity) and
    (b) reject bnode labels outside the ASCII TERM_RX class, so a line's
    rows cannot depend on which parser routed it."""
    from cli_spark.nquads import _parse_lines_py, _tokenize_terms_py

    # (a) unterminated IRI: no ValueError escape, line dropped
    bad = "<kg:s> <kg:p <kg:o> ."
    df = _parse_lines_py(
        spark.createDataFrame([(bad,), ("<kg:s> <kg:p> <kg:o> .",)], "value string"),
        "value",
    )
    rows = df.collect()
    assert len(rows) == 1 and rows[0].subj == "kg:s"
    # (b) unicode / leading '-' labels: the JVM regex would not match
    assert _tokenize_terms_py("_:é <kg:p> <kg:o> .")[0] != "_:é"
    toks = _tokenize_terms_py("_:-x <kg:p> <kg:o> .")
    assert all(not t.startswith("_:-") for t in toks)
    # valid ASCII label still tokenizes
    assert _tokenize_terms_py("_:a-b.c <kg:p> <kg:o> .")[0] == "_:a-b.c"


def test_jvm_and_python_parsers_agree_randomized(spark):
    """The JVM regex path (_parse_lines_jvm) and the Python fallback
    tokenizer (_parse_lines_py) are unioned by parse_lines — they must agree
    EXACTLY on every line both can parse. 300 seeded-random lines sweep
    unicode IRIs, bnode charsets, escaped literals, datatypes, langtags,
    graphs, and quoted triples nested up to QT_MAX_DEPTH."""
    import random

    from cli_spark.nquads import QT_MAX_DEPTH, _parse_lines_jvm, _parse_lines_py
    from cli_spark.turtle import _nt_term_text

    rng = random.Random(20260817)
    CHARS = "abcXYZ019_émoji☃:/#.-"

    def iri():
        return "kg:" + "".join(rng.choice(CHARS) for _ in range(rng.randint(1, 12)))

    def bnode():
        label = rng.choice("aZ09_") + "".join(
            rng.choice("aZ09_-.") for _ in range(rng.randint(0, 8))
        )
        return label.rstrip(".") or "b"

    def literal():
        lex = "".join(
            rng.choice('ab"\\\n\t é☃') for _ in range(rng.randint(0, 10))
        )
        style = rng.randint(0, 2)
        if style == 1:
            return (lex, 2, iri(), None)
        if style == 2:
            return (lex, 2, None, "en-" + rng.choice("abc"))
        return (lex, 2, None, None)

    def node():
        return (iri(), 0, None, None) if rng.random() < 0.6 else (bnode(), 1, None, None)

    def term(depth):
        r = rng.random()
        if r < 0.25 and depth > 0:
            inner = " ".join(
                _nt_term_text(*reorder(t))
                for t in (node(), (iri(), 0, None, None), term(depth - 1))
            )
            return (f"<< {inner} >>", 3, None, None)
        if r < 0.6:
            return node()
        return literal()

    def reorder(t):
        v, k, dt, lang = t
        return (k, v, dt, lang)

    lines = []
    for _ in range(300):
        depth = rng.choice([0, 0, 0, 1, 2, QT_MAX_DEPTH])
        parts = [
            _nt_term_text(*reorder(node())),
            _nt_term_text(*reorder((iri(), 0, None, None))),
            _nt_term_text(*reorder(term(depth))),
        ]
        if rng.random() < 0.4:
            parts.append(_nt_term_text(*reorder(node())))
        lines.append(" ".join(parts) + " .")

    src = spark.createDataFrame([(ln,) for ln in lines], "value string")
    jvm = sorted(map(tuple, _parse_lines_jvm(src, "value").collect()))
    py = sorted(map(tuple, _parse_lines_py(src, "value").collect()))
    assert len(jvm) == 300
    assert jvm == py


def test_generalized_annotations_all_positions(spark):
    """Typed/langtagged literals outside the object position survive
    parse → render → parse AND the Jelly wire (the reference's
    generalized.nq has a datatyped literal GRAPH term). P6 exactness now
    covers per-term datatype/langtag, not just term kinds."""
    import os

    from cli_spark.jelly import StreamOptions, roundtrip_quads
    from cli_spark.nquads import parse_lines, render_lines

    lines = [
        '"Resource 1" <http://e/p> <http://e/o> "literal graph"^^<http://example.org> .',
        '"s lit"@en <http://e/p> "42"^^<http://e/int> "g"@fr .',
        '<http://e/s> "pred lit"^^<http://e/dt> <http://e/o> .',
    ]
    for fx in ("generalized.nq", "generalized.nt"):
        p = f"/root/reference/src/test/resources/{fx}"
        if os.path.isfile(p):
            with open(p) as fh:
                lines += [ln.strip() for ln in fh if ln.strip()]
    df = parse_lines(
        spark.createDataFrame([(ln,) for ln in lines], "value string")
    ).cache()
    # graph-position datatype retained
    row = df.filter(F.col("graph_dt").isNotNull()).first()
    assert row.graph == "literal graph" and row.graph_dt == "http://example.org"
    assert df.filter(F.col("subj_lang") == "en").count() == 1
    assert df.filter(F.col("pred_dt") == "http://e/dt").count() == 1
    # text round-trip identity over ALL 16 columns
    back = parse_lines(render_lines(df), "line")
    key = sorted(df.columns)
    assert {tuple(r) for r in back.select(*key).collect()} == {
        tuple(r) for r in df.select(*key).collect()
    }
    # jelly wire round-trip keeps the generalized annotations too
    opts = StreamOptions(physical_type=2, generalized=True, rdf_star=True)
    jback = roundtrip_quads(spark, df, options=opts).select(
        "subj", "subj_kind", "graph", "graph_kind",
        "subj_dt", "subj_lang", "graph_dt", "graph_lang",
    )
    want = df.select(*jback.columns)
    assert {tuple(r) for r in jback.collect()} == {tuple(r) for r in want.collect()}
