"""Turtle/TriG subset reader + writer: document parsing (directives,
prefixed names, literals, continuation lists, TriG graphs), base-IRI
resolution (S8), render∘parse identity, and the file-parallel reader."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cli_spark import turtle as T
from cli_spark.nquads import KIND_BNODE, KIND_IRI, KIND_LITERAL

DOC = """
@prefix ex: <http://example.org/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
# a comment
ex:alice a ex:Person ;
    ex:name "Alice" ;
    ex:age 30 ;
    ex:score 4.5 ;
    ex:active true ;
    ex:knows ex:bob , _:b1 .
_:b1 ex:name "Bob \\"the\\" builder"@en .
ex:bob ex:height "1.85"^^xsd:decimal .
"""


def test_parse_document_core():
    rows = T.parse_turtle_document(DOC)
    by_pred = {}
    for r in rows:
        by_pred.setdefault(r[2], []).append(r)
    assert by_pred[T.RDF_TYPE][0][0] == "http://example.org/alice"
    assert by_pred[T.RDF_TYPE][0][4] == "http://example.org/Person"
    name_rows = {r[4]: r for r in by_pred["http://example.org/name"]}
    assert name_rows["Alice"][5] == KIND_LITERAL
    assert 'Bob "the" builder' in name_rows
    assert name_rows['Bob "the" builder'][7] == "en"  # langtag
    age = by_pred["http://example.org/age"][0]
    assert age[4] == "30" and age[6] == T.XSD + "integer"
    score = by_pred["http://example.org/score"][0]
    assert score[6] == T.XSD + "decimal"
    active = by_pred["http://example.org/active"][0]
    assert active[6] == T.XSD + "boolean"
    knows = {(r[4], r[5]) for r in by_pred["http://example.org/knows"]}
    assert knows == {("http://example.org/bob", KIND_IRI), ("b1", KIND_BNODE)}
    height = by_pred["http://example.org/height"][0]
    assert height[6] == T.XSD + "decimal" and height[4] == "1.85"


def test_base_iri_resolution():
    """S8 (RiotParserUtil.scala:14-40): relative IRIs resolve against
    @base / the caller-supplied base."""
    doc = "@base <http://example.org/dir/> .\n<item1> <rel> <../up> ."
    rows = T.parse_turtle_document(doc)
    assert rows[0][0] == "http://example.org/dir/item1"
    assert rows[0][4] == "http://example.org/up"
    rows2 = T.parse_turtle_document(
        "<x> <p> <y> .", base="http://base.example/root/"
    )
    assert rows2[0][0] == "http://base.example/root/x"


def test_sparql_style_directives():
    doc = "PREFIX ex: <http://e.org/>\nBASE <http://b.org/>\nex:s ex:p <rel> ."
    rows = T.parse_turtle_document(doc)
    assert rows[0][0] == "http://e.org/s"
    assert rows[0][4] == "http://b.org/rel"


def test_trig_graph_blocks():
    doc = """
@prefix ex: <http://e.org/> .
ex:s1 ex:p ex:o1 .
GRAPH ex:g1 { ex:s2 ex:p ex:o2 . ex:s3 ex:p "lit" . }
ex:g2 { ex:s4 ex:p ex:o4 . }
"""
    rows = T.parse_turtle_document(doc)
    graphs = {(r[0], r[8]) for r in rows}
    assert ("http://e.org/s1", None) in graphs
    assert ("http://e.org/s2", "http://e.org/g1") in graphs
    assert ("http://e.org/s3", "http://e.org/g1") in graphs
    assert ("http://e.org/s4", "http://e.org/g2") in graphs


def test_unsupported_syntax_errors():
    with pytest.raises(ValueError, match="undeclared prefix"):
        T.parse_turtle_document("nope:s <p> <o> .")


@pytest.fixture(scope="module")
def triples(spark):
    rows = [
        ("http://example.org/e/1", "http://example.org/v#knows", "http://example.org/e/2", 0),
        ("http://example.org/e/2", "http://example.org/v#name", 'say "hi"\n', 2),
        ("http://example.org/e/3", "http://example.org/v#name", "plain", 2),
        ("_:b7", "http://example.org/v#name", "blank", 2),
    ]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_kind int"
    ).cache()


def test_render_parse_identity(spark, triples):
    prefixes = T.derive_prefixes(triples)
    assert len(prefixes) >= 2  # e/ and v# prefixes found
    header, body = T.render_turtle(triples, prefixes)
    assert any(line.startswith("@prefix") for line in header)
    # prefixed names actually used (compaction worked)
    sample = [r.line for r in body.collect()]
    assert any(":" in line and "<" not in line.split(" ")[0] for line in sample)
    back = T.parse_turtle_lines(body, prefixes)
    got = {
        (r.subj, r.pred, r.obj, 2 if r.obj_kind == 2 else 0)
        for r in back.select("subj", "pred", "obj", "obj_kind").collect()
    }
    want = {
        (s if not s.startswith("_:") else s[2:], p, o, k)
        for s, p, o, k in [tuple(r) for r in triples.collect()]
    }
    assert got == want


def test_write_read_file_roundtrip(spark, triples, tmp_path):
    p = str(tmp_path / "out.ttl")
    T.write_turtle(triples, p, single_file=True)
    back = T.read_turtle(spark, p)
    assert back.count() == triples.count()
    got = {(r.subj, r.pred, r.obj) for r in back.collect()}
    want = {
        (s[2:] if s.startswith("_:") else s, p, o)
        for s, p, o, _ in [tuple(r) for r in triples.collect()]
    }
    assert got == want


def test_read_turtle_file_parallel(spark, tmp_path):
    """Reader parallelizes per file: two documents with different
    directive scopes parse independently."""
    (tmp_path / "a.ttl").write_text(
        "@prefix x: <http://a.example/> .\nx:s x:p x:o ."
    )
    (tmp_path / "b.ttl").write_text(
        "@prefix x: <http://b.example/> .\nx:s x:p x:o ."
    )
    back = T.read_turtle(spark, str(tmp_path / "*.ttl"))
    subs = {r.subj for r in back.collect()}
    assert subs == {"http://a.example/s", "http://b.example/s"}


# --- round-3 grammar extensions: [...] property lists, (...) collections,
# --- long/single-quoted strings (reference gets these via Jena RIOT,
# --- RdfFormat.scala:48-54; format-sweep shape RdfToJellySpec.scala:537-615)


def test_bnode_property_lists_nested():
    doc = """
@prefix ex: <http://e.org/> .
ex:alice ex:knows [ ex:name "Bob" ; ex:age 30 ; ex:pet [ a ex:Dog ] ] .
[ ex:label "standalone" ] .
"""
    rows = T.parse_turtle_document(doc)
    by_pred = {}
    for r in rows:
        by_pred.setdefault(r[2], []).append(r)
    knows = by_pred["http://e.org/knows"][0]
    assert knows[5] == KIND_BNODE
    inner = knows[4]
    name = by_pred["http://e.org/name"][0]
    assert name[0] == inner and name[1] == KIND_BNODE and name[4] == "Bob"
    pet = by_pred["http://e.org/pet"][0]
    assert pet[0] == inner and pet[5] == KIND_BNODE
    dog = by_pred[T.RDF_TYPE][0]
    assert dog[0] == pet[4] and dog[4] == "http://e.org/Dog"
    # standalone [ ... ] . subject with no outer predicateObjectList
    label = by_pred["http://e.org/label"][0]
    assert label[1] == KIND_BNODE and label[4] == "standalone"


def test_collections():
    doc = """
@prefix ex: <http://e.org/> .
ex:s ex:list (1 "two" ex:three) .
ex:s ex:empty () .
"""
    rows = T.parse_turtle_document(doc)
    firsts = {r[0]: r for r in rows if r[2] == T.RDF_FIRST}
    rests = {r[0]: r for r in rows if r[2] == T.RDF_REST}
    head = next(r for r in rows if r[2] == "http://e.org/list")
    assert head[5] == KIND_BNODE
    # walk the chain: 1 -> "two" -> ex:three -> rdf:nil
    n1 = head[4]
    assert firsts[n1][4] == "1" and firsts[n1][6] == T.XSD + "integer"
    n2 = rests[n1][4]
    assert firsts[n2][4] == "two" and firsts[n2][5] == KIND_LITERAL
    n3 = rests[n2][4]
    assert firsts[n3][4] == "http://e.org/three" and firsts[n3][5] == KIND_IRI
    assert rests[n3][4] == T.RDF_NIL and rests[n3][5] == KIND_IRI
    empty = next(r for r in rows if r[2] == "http://e.org/empty")
    assert empty[4] == T.RDF_NIL and empty[5] == KIND_IRI


def test_long_and_single_quoted_strings():
    doc = (
        '@prefix ex: <http://e.org/> .\n'
        'ex:s ex:note """multi\nline "quoted" text""" .\n'
        "ex:s ex:note2 '''tri'ple''' .\n"
        "ex:s ex:note3 'single quoted'@en .\n"
        "ex:s ex:note4 '1.5'^^ex:dt .\n"
    )
    rows = {r[2]: r for r in T.parse_turtle_document(doc)}
    assert rows["http://e.org/note"][4] == 'multi\nline "quoted" text'
    assert rows["http://e.org/note2"][4] == "tri'ple"
    assert rows["http://e.org/note3"][4] == "single quoted"
    assert rows["http://e.org/note3"][7] == "en"
    assert rows["http://e.org/note4"][6] == "http://e.org/dt"


def test_nested_syntax_roundtrip(spark):
    """parse nested doc → columnar writer (flat lines) → line-parallel
    reparse → identical triple multiset (genid labels survive verbatim)."""
    doc = """
@prefix ex: <http://e.org/> .
ex:alice ex:knows [ ex:name "Bob" ; ex:likes (ex:x ex:y) ] .
"""
    rows = T.parse_turtle_document(doc)
    from cli_spark.nquads import TRIPLE_COLS

    df = spark.createDataFrame(
        rows,
        "subj string, subj_kind int, pred string, pred_kind int, "
        "obj string, obj_kind int, obj_datatype string, obj_lang string, "
        "graph string, graph_kind int",
    )
    prefixes = {"ex": "http://e.org/"}
    header, body = T.render_turtle(df, prefixes)
    reparsed = T.parse_turtle_lines(body, prefixes, text_col="line")
    orig = {tuple(r) for r in rows}
    back = {
        tuple(getattr(r, c) for c in TRIPLE_COLS) for r in reparsed.collect()
    }
    assert {t[:8] for t in orig} == {t[:8] for t in back}


def test_turtle_star_quoted_terms():
    """`<< s p o >>` in subject and object position, inner pnames
    normalized to canonical N-Triples-star text (the N-Quads parser's
    representation)."""
    from cli_spark.nquads import KIND_QUOTED

    doc = """
@prefix ex: <http://e.org/> .
<< ex:a ex:p "v" >> ex:certainty "0.9"^^ex:score .
ex:doc ex:claims << ex:a ex:p << ex:b ex:q ex:c >> >> .
"""
    rows = T.parse_turtle_document(doc)
    by_pred = {r[2]: r for r in rows}
    subj_qt = by_pred["http://e.org/certainty"]
    assert subj_qt[1] == KIND_QUOTED
    assert subj_qt[0] == '<< <http://e.org/a> <http://e.org/p> "v" >>'
    nested = by_pred["http://e.org/claims"]
    assert nested[5] == KIND_QUOTED
    assert nested[4] == (
        "<< <http://e.org/a> <http://e.org/p> "
        "<< <http://e.org/b> <http://e.org/q> <http://e.org/c> >> >>"
    )


def test_turtle_star_annotation_syntax():
    """`o {| q v ; ... |}` asserts the base triple AND attaches the
    annotation pred-obj list to the quoted triple (Jena RIOT behavior,
    incl. a trailing ';' and nested annotations)."""
    from cli_spark.nquads import KIND_QUOTED

    doc = """
@prefix ex: <http://e.org/> .
ex:a ex:p ex:b {| ex:src ex:doc1 ; ex:conf "0.8" {| ex:by ex:model |} ; |} .
"""
    rows = T.parse_turtle_document(doc)
    base = [r for r in rows if r[0] == "http://e.org/a"]
    assert len(base) == 1  # base triple asserted exactly once
    qt = "<< <http://e.org/a> <http://e.org/p> <http://e.org/b> >>"
    anns = {r[2]: r for r in rows if r[0] == qt}
    assert set(anns) == {"http://e.org/src", "http://e.org/conf"}
    assert anns["http://e.org/src"][1] == KIND_QUOTED
    # nested annotation attaches to the quoted form of the annotation triple
    inner_subj = f'<< {qt} <http://e.org/conf> "0.8" >>'
    inner = [r for r in rows if r[0] == inner_subj]
    assert len(inner) == 1 and inner[0][2] == "http://e.org/by"


def test_turtle_star_writer_roundtrip(spark):
    """Quoted terms pass through the columnar writer verbatim (no
    <>-wrapping / compaction) and reparse identically."""
    from cli_spark.nquads import TRIPLE_COLS

    doc = """
@prefix ex: <http://e.org/> .
<< ex:a ex:p "v" >> ex:certainty "0.9" .
ex:doc ex:claims << ex:a ex:p ex:b >> .
"""
    rows = T.parse_turtle_document(doc)
    df = spark.createDataFrame(
        rows,
        "subj string, subj_kind int, pred string, pred_kind int, "
        "obj string, obj_kind int, obj_datatype string, obj_lang string, "
        "graph string, graph_kind int",
    )
    prefixes = {"ex": "http://e.org/"}
    header, body = T.render_turtle(df, prefixes)
    lines = [r.line for r in body.collect()]
    assert all("<<<" not in ln for ln in lines)
    reparsed = T.parse_turtle_lines(body, prefixes, text_col="line")
    back = {tuple(getattr(r, c) for c in TRIPLE_COLS)[:8] for r in reparsed.collect()}
    assert back == {tuple(r)[:8] for r in rows}


def test_resolve_keeps_empty_fragment():
    """A relative prefix IRI ending in bare '#' must keep it through
    base resolution (urljoin drops empty fragments): <vocab#> against a
    base is the standard namespace shape, and losing the '#' welds
    local names onto '...vocab'."""
    p = T._TurtleParser.__new__(T._TurtleParser)
    p.base = "http://base.org/dir/"
    p.resolve_iris = True
    assert p._resolve("vocab#") == "http://base.org/dir/vocab#"
    assert p._resolve("vocab#x") == "http://base.org/dir/vocab#x"
    assert p._resolve("http://abs.org/v#") == "http://abs.org/v#"
    rows = T.parse_turtle_document(
        "@base <http://base.org/dir/> .\n"
        "@prefix v: <vocab#> .\n"
        "v:s v:p v:o .\n"
    )
    assert rows[0][0] == "http://base.org/dir/vocab#s"


def test_scan_namespaces(spark, tmp_path):
    """scan_namespaces: file-parallel directive scan — last declaration
    of a name wins within a file, @base resolves relative prefix IRIs,
    SPARQL-style PREFIX accepted, non-directive lines ignored."""
    f = tmp_path / "doc.ttl"
    f.write_text(
        "@base <http://base.org/> .\n"
        "@prefix ex: <http://example.org/> .\n"
        "PREFIX foo: <sub/dir#>\n"
        "@prefix ex: <http://example.org/v2/> .\n"
        "ex:a ex:p foo:b .\n"
    )
    got = {
        r["name"]: r["iri"]
        for r in T.scan_namespaces(spark, str(f)).collect()
    }
    assert got == {
        "ex": "http://example.org/v2/",
        "foo": "http://base.org/sub/dir#",
    }


def test_write_turtle_multipart_parts_are_standalone(spark, tmp_path):
    """Every non-empty part file of a multi-part Turtle sink must carry
    the @prefix header — a directory where the header and the
    statements land in different parts is unreadable by any Turtle
    parser (found by round-tripping our own multi-part output: the old
    writer put '@prefix' in one part and the body in another)."""
    import os

    from cli_spark.turtle import read_turtle, write_turtle

    df = spark.createDataFrame(
        [(f"http://e/s{i}", "http://e/p", f"http://e/o{i}", 0) for i in range(40)],
        "subj string, pred string, obj string, obj_kind int",
    ).repartition(6)
    d = str(tmp_path / "multi_ttl")
    write_turtle(df, d)
    parts = [
        os.path.join(d, f) for f in os.listdir(d)
        if f.startswith("part-") and f.endswith(".txt")
    ]
    nonempty = 0
    for p in parts:
        text = open(p).read()
        if not text.strip():
            continue
        nonempty += 1
        assert text.splitlines()[0].startswith("@prefix"), p
    assert nonempty >= 2  # the fixture really produced a multi-part dir
    # and the directory reads back whole
    back = read_turtle(spark, d)
    assert back.count() == 40


def test_scan_namespaces_ordered(tmp_path):
    """Ordered directive scan: duplicates kept in document order (the
    prefix-event sequence), relative prefix IRIs resolve against an
    in-file @base, and SPARQL-style PREFIX spelling is accepted."""
    from cli_spark.turtle import scan_namespaces_ordered

    p = tmp_path / "doc.ttl"
    p.write_text(
        "@prefix a: <http://a.org/> .\n"
        "@base <http://base.org/dir/> .\n"
        "@prefix b: <sub/> .\n"
        "PREFIX a: <http://a2.org/>\n"
        "a:s a:p b:o .\n"
    )
    assert scan_namespaces_ordered(str(p)) == [
        ("a", "http://a.org/"),
        ("b", "http://base.org/dir/sub/"),
        ("a", "http://a2.org/"),
    ]


_DIRECTIVE_LOOKALIKES = (
    "@prefix ex: <http://example.org/> .\n"
    "# @prefix c: <http://comment/> .\n"
    'ex:s ex:doc """first line\n'
    "@prefix ghost: <http://ghost/> .\n"
    'last line""" . # PREFIX d: <http://comment2/>\n'
    "@prefix ex: <http://example.org/v2/> .\n"
)


def test_scan_namespaces_ignores_literals_and_comments(spark, tmp_path):
    """Directive-shaped text inside a triple-quoted literal or a comment
    is not a declaration: both scanners read the parser's directives."""
    from cli_spark.turtle import scan_namespaces_ordered

    f = tmp_path / "doc.ttl"
    f.write_text(_DIRECTIVE_LOOKALIKES)
    assert scan_namespaces_ordered(str(f)) == [
        ("ex", "http://example.org/"),
        ("ex", "http://example.org/v2/"),
    ]
    assert [tuple(r) for r in T.scan_namespaces(spark, str(f)).collect()] == [
        ("ex", "http://example.org/v2/")
    ]


@pytest.mark.parametrize("single_file", [True, False])
@pytest.mark.parametrize("shape", ["no_partitions", "empty_partitions"])
def test_write_turtle_empty_graph_keeps_prefixes(spark, tmp_path, single_file, shape):
    """An empty graph is one Turtle document holding just the @prefix
    block, as the reference writes it; it reads back as zero statements.
    An empty local relation has no partitions at all; a filtered frame
    has several, all empty."""
    import os

    from cli_spark.turtle import read_turtle, write_turtle

    schema = "subj string, pred string, obj string, obj_kind int"
    if shape == "no_partitions":
        empty = spark.createDataFrame([], schema)
    else:
        empty = spark.createDataFrame(
            [("http://ex.org/s", "http://ex.org/p", "http://ex.org/o", 0)] * 8, schema
        ).repartition(4).filter(F.col("obj_kind") > 0)
    d = str(tmp_path / "empty_ttl")
    write_turtle(
        empty, d, prefixes={"ex": "http://ex.org/", "foaf": "http://xmlns.com/foaf/0.1/"},
        single_file=single_file,
    )
    texts = [
        open(os.path.join(d, f)).read() for f in sorted(os.listdir(d))
        if f.startswith("part-") and f.endswith(".txt")
    ]
    assert [t for t in texts if t.strip()] == [
        "@prefix ex: <http://ex.org/> .\n"
        "@prefix foaf: <http://xmlns.com/foaf/0.1/> .\n"
    ]
    assert read_turtle(spark, d).count() == 0
