"""RDF/XML reader + writer (S4, RdfFormat.scala:63-68): document
parsing (typed nodes, nested nodes, parseType Resource/Collection/
Literal, rdf:li, property attributes, reification, xml:base), columnar
write ∘ parse round-trip, typed DOCTYPE error."""

from __future__ import annotations

import glob

import pytest

from cli_spark import rdfxml as RX
from cli_spark.nquads import KIND_BNODE, KIND_IRI, KIND_LITERAL
from cli_spark.turtle import RDF_FIRST, RDF_NIL, RDF_REST, RDF_TYPE, XSD

EX = "http://e.org/"

DOC = f"""<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="{RX.RDF_NS}" xmlns:ex="{EX}"
         xml:base="http://base.org/">
  <ex:Person rdf:about="alice" ex:nick="Al">
    <ex:name xml:lang="en">Alice</ex:name>
    <ex:age rdf:datatype="{XSD}integer">30</ex:age>
    <ex:knows rdf:resource="http://e.org/bob"/>
    <ex:knows rdf:nodeID="b1"/>
    <ex:addr rdf:parseType="Resource">
      <ex:city>Springfield</ex:city>
    </ex:addr>
    <ex:pets rdf:parseType="Collection">
      <rdf:Description rdf:about="http://e.org/cat"/>
      <rdf:Description rdf:about="http://e.org/dog"/>
    </ex:pets>
    <ex:sig rdf:parseType="Literal">a <b>bold</b> move</ex:sig>
    <ex:friend>
      <ex:Person rdf:about="http://e.org/carol">
        <ex:name>Carol</ex:name>
      </ex:Person>
    </ex:friend>
    <ex:claim rdf:ID="st1">reified</ex:claim>
  </ex:Person>
  <rdf:Description rdf:nodeID="b1">
    <ex:name>Bob</ex:name>
  </rdf:Description>
  <rdf:Seq rdf:about="#seq">
    <rdf:li>one</rdf:li>
    <rdf:li>two</rdf:li>
  </rdf:Seq>
</rdf:RDF>
"""


def _index(rows):
    by_pred = {}
    for r in rows:
        by_pred.setdefault(r[2], []).append(r)
    return by_pred


def test_parse_document():
    rows = RX.parse_rdfxml_document(DOC)
    by_pred = _index(rows)
    # xml:base resolution of rdf:about
    alice = by_pred[EX + "name"][0][0]
    assert alice == "http://base.org/alice"
    # typed node element → rdf:type triple
    types = {(r[0], r[4]) for r in by_pred[RDF_TYPE]}
    assert ("http://base.org/alice", EX + "Person") in types
    # property attribute
    nick = by_pred[EX + "nick"][0]
    assert nick[4] == "Al" and nick[5] == KIND_LITERAL
    # xml:lang + rdf:datatype
    name_alice = [r for r in by_pred[EX + "name"] if r[4] == "Alice"][0]
    assert name_alice[7] == "en"
    age = by_pred[EX + "age"][0]
    assert age[4] == "30" and age[6] == XSD + "integer" and age[7] is None
    # rdf:resource and rdf:nodeID objects
    knows = {(r[4], r[5]) for r in by_pred[EX + "knows"]}
    assert knows == {("http://e.org/bob", KIND_IRI), ("b1", KIND_BNODE)}
    # parseType=Resource implicit bnode
    addr = by_pred[EX + "addr"][0]
    city = by_pred[EX + "city"][0]
    assert addr[5] == KIND_BNODE and city[0] == addr[4]
    assert city[4] == "Springfield"
    # parseType=Collection list chain
    head = by_pred[EX + "pets"][0]
    firsts = {r[0]: r[4] for r in by_pred[RDF_FIRST]}
    rests = {r[0]: r for r in by_pred[RDF_REST]}
    n1 = head[4]
    assert firsts[n1] == "http://e.org/cat"
    n2 = rests[n1][4]
    assert firsts[n2] == "http://e.org/dog"
    assert rests[n2][4] == RDF_NIL
    # parseType=Literal XML literal
    sig = by_pred[EX + "sig"][0]
    assert sig[4] == "a <b>bold</b> move" and sig[6] == RX.XML_LITERAL
    # nested node element
    friend = by_pred[EX + "friend"][0]
    assert friend[4] == "http://e.org/carol" and friend[5] == KIND_IRI
    # reification quartet at #st1
    st = "http://base.org/#st1"
    assert (st, RX.RDF_NS + "Statement") in types
    subj_of = [r for r in by_pred[RX.RDF_NS + "subject"] if r[0] == st][0]
    assert subj_of[4] == "http://base.org/alice"
    obj_of = [r for r in by_pred[RX.RDF_NS + "object"] if r[0] == st][0]
    assert obj_of[4] == "reified" and obj_of[5] == KIND_LITERAL
    # rdf:li renumbering
    assert by_pred[RX.RDF_NS + "_1"][0][4] == "one"
    assert by_pred[RX.RDF_NS + "_2"][0][4] == "two"
    # rdf:ID on a node element → #-fragment IRI
    seq_types = {r[0] for r in by_pred[RDF_TYPE] if r[4] == RX.RDF_NS + "Seq"}
    assert seq_types == {"http://base.org/#seq"}


def test_cli_base_overrides_when_no_xml_base():
    doc = (f'<rdf:RDF xmlns:rdf="{RX.RDF_NS}" xmlns:ex="{EX}">'
           f'<rdf:Description rdf:about="rel"><ex:p>v</ex:p>'
           f'</rdf:Description></rdf:RDF>')
    rows = RX.parse_rdfxml_document(doc, base="http://cli.org/dir/")
    assert rows[0][0] == "http://cli.org/dir/rel"


def test_doctype_internal_subset_accepted():
    """Internal-subset entity declarations no longer blanket-reject:
    the DOCTYPE strips and the document parses (detailed expansion
    coverage in test_doctype_internal_entities_expand)."""
    doc = ('<?xml version="1.0"?><!DOCTYPE rdf:RDF [<!ENTITY e "x">]>'
           f'<rdf:RDF xmlns:rdf="{RX.RDF_NS}"/>')
    assert RX.parse_rdfxml_document(doc) == []


def test_empty_property_with_attrs_is_bnode_object():
    doc = (f'<rdf:RDF xmlns:rdf="{RX.RDF_NS}" xmlns:ex="{EX}">'
           f'<rdf:Description rdf:about="http://e.org/s">'
           f'<ex:p ex:a="1"/></rdf:Description></rdf:RDF>')
    rows = RX.parse_rdfxml_document(doc)
    by_pred = _index(rows)
    p = by_pred[EX + "p"][0]
    assert p[5] == KIND_BNODE
    a = by_pred[EX + "a"][0]
    assert a[0] == p[4] and a[4] == "1"


def test_write_parse_roundtrip(spark, tmp_path):
    rows = [
        ("http://e.org/s", KIND_IRI, EX + "name", KIND_IRI,
         "Alice \"quoted\" & <tagged>", KIND_LITERAL, None, "en", None, None),
        ("http://e.org/s", KIND_IRI, EX + "age", KIND_IRI,
         "30", KIND_LITERAL, XSD + "integer", None, None, None),
        ("http://e.org/s", KIND_IRI, EX + "knows", KIND_IRI,
         "b1", KIND_BNODE, None, None, None, None),
        ("b1", KIND_BNODE, EX + "name", KIND_IRI,
         "Bob", KIND_LITERAL, None, None, None, None),
        ("http://e.org/s", KIND_IRI, RDF_TYPE, KIND_IRI,
         EX + "Person", KIND_IRI, None, None, None, None),
    ]
    schema = (
        "subj string, subj_kind int, pred string, pred_kind int, "
        "obj string, obj_kind int, obj_datatype string, obj_lang string, "
        "graph string, graph_kind int"
    )
    df = spark.createDataFrame(rows, schema)
    out = str(tmp_path / "out.rdf")
    RX.write_rdfxml(df, out, single_file=True)
    text = open(glob.glob(out + "/part-*")[0]).read()
    assert text.startswith('<?xml version="1.0"')
    back = RX.parse_rdfxml_document(text)
    key = lambda t: (t[0], t[1], t[2], t[4], t[5], t[6], t[7])  # noqa: E731
    assert {key(tuple(r)) for r in back} == {key(t) for t in rows}


def test_write_rejects_unqnameable_predicate(spark, tmp_path):
    df = spark.createDataFrame(
        [("http://e.org/s", "http://e.org/p/", "v", KIND_LITERAL)],
        "subj string, pred string, obj string, obj_kind int",
    )
    with pytest.raises(Exception, match="QName"):
        RX.write_rdfxml(df, str(tmp_path / "bad.rdf"), single_file=True)


def test_format_registry_resolution():
    from cli_spark.formats import resolve

    spec = resolve("data.rdf")
    assert spec.key == "rdfxml" and spec.read is not None
    assert resolve("x", explicit="rdf-xml").key == "rdfxml"


def test_rdfxml_rejects_quoted_triples(spark):
    """RDF/XML has no RDF-star encoding — the writer fails typed instead
    of emitting rdf:resource='<< ... >>' (Jena's writer also raises)."""
    import pytest

    from cli_spark.nquads import KIND_IRI, KIND_LITERAL, KIND_QUOTED
    from cli_spark.rdfxml import render_rdfxml

    df = spark.createDataFrame(
        [("http://e.org/d", KIND_IRI, "http://e.org/claims",
          '<< <http://e.org/a> <http://e.org/p> "v" >>', KIND_QUOTED, None, None)],
        "subj string, subj_kind int, pred string, obj string, obj_kind int, "
        "obj_datatype string, obj_lang string",
    )
    _, body, _ = render_rdfxml(df)
    with pytest.raises(Exception, match="quoted triples"):
        body.collect()


def test_doctype_internal_entities_expand():
    """Internal-subset <!ENTITY> declarations expand (incl. one level of
    nesting) before parse — the Jena-ARP-compatible subset; the DOCTYPE
    itself is stripped."""
    from cli_spark.rdfxml import parse_rdfxml_document

    doc = """<?xml version="1.0"?>
<!DOCTYPE rdf:RDF [
  <!ENTITY ex "http://example.org/">
  <!ENTITY exp "&ex;prop/">
]>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:p="&exp;">
  <rdf:Description rdf:about="&ex;r1">
    <p:name>uses &ex;stuff</p:name>
  </rdf:Description>
</rdf:RDF>"""
    rows = parse_rdfxml_document(doc)
    assert [r[:6] for r in rows] == [
        (
            "http://example.org/r1", 0, "http://example.org/prop/name", 0,
            "uses http://example.org/stuff", 2,
        )
    ]


def test_doctype_dangerous_forms_rejected():
    """External subsets, external entities, parameter entities, and
    expansion bombs all raise typed errors (XXE / billion-laughs guards
    survive the internal-subset support)."""
    import pytest

    from cli_spark.rdfxml import RdfXmlUnsupportedError, parse_rdfxml_document

    cases = {
        '<!DOCTYPE r SYSTEM "http://evil/x">\n<a/>': "external DTD",
        '<!DOCTYPE r [<!ENTITY x SYSTEM "file:///etc/passwd">]>\n<a>&x;</a>':
            "external entity",
        '<!DOCTYPE r [<!ENTITY % p "x">]>\n<a/>': "parameter entities",
    }
    for doc, msg in cases.items():
        with pytest.raises(RdfXmlUnsupportedError, match=msg):
            parse_rdfxml_document(doc)
    lol = (
        '<!DOCTYPE r [<!ENTITY a "xx">'
        '<!ENTITY b "&a;&a;&a;&a;&a;&a;&a;&a;&a;&a;">'
        '<!ENTITY c "&b;&b;&b;&b;&b;&b;&b;&b;&b;&b;">'
        '<!ENTITY d "&c;&c;&c;&c;&c;&c;&c;&c;&c;&c;">]>'
        "<a>" + "&d;" * 60000 + "</a>"
    )
    with pytest.raises(RdfXmlUnsupportedError, match="safety bound"):
        parse_rdfxml_document(lol)


def test_write_rdfxml_multipart_parts_are_standalone(spark, tmp_path):
    """Every non-empty part of a multi-part RDF/XML sink is a complete
    well-formed document (envelope included) — the old union-row
    header/footer landed in different parts than the Descriptions,
    producing an unparseable directory (found by reading our own
    multi-part output back)."""
    import os

    from cli_spark.rdfxml import read_rdfxml, write_rdfxml

    df = spark.createDataFrame(
        [(f"http://e/s{i}", "http://e/p", f"lit {i}", 2) for i in range(40)],
        "subj string, pred string, obj string, obj_kind int",
    )
    d = str(tmp_path / "multi_xml")
    # the subject-assembly groupBy inside the renderer gives AQE a
    # shuffle to coalesce, and 40 rows always fit one partition — turn
    # coalescing off so the sink really writes the multi-part layout a
    # large corpus would produce
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        write_rdfxml(df, d)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    nonempty = 0
    for f in os.listdir(d):
        if not (f.startswith("part-") and f.endswith(".txt")):
            continue
        text = open(os.path.join(d, f)).read()
        if not text.strip():
            continue
        nonempty += 1
        assert text.lstrip().startswith("<?xml"), f
        assert text.rstrip().endswith("</rdf:RDF>"), f
    assert nonempty >= 2
    assert read_rdfxml(spark, d).count() == 40


@pytest.mark.parametrize("single_file", [True, False])
@pytest.mark.parametrize("shape", ["no_partitions", "empty_partitions"])
def test_write_rdfxml_empty_graph_keeps_envelope(spark, tmp_path, single_file, shape):
    """An empty graph is one well-formed empty rdf:RDF document, as the
    reference writes it; it reads back as zero statements. An empty
    local relation has no partitions at all; a filtered frame has
    several, all empty."""
    import os

    from pyspark.sql import functions as F

    from cli_spark.rdfxml import read_rdfxml, write_rdfxml

    schema = "subj string, pred string, obj string, obj_kind int"
    if shape == "no_partitions":
        empty = spark.createDataFrame([], schema)
    else:
        empty = spark.createDataFrame(
            [("http://e/s", "http://e/p", "v", 2)] * 8, schema
        ).repartition(4).filter(F.col("obj_kind") > 2)
    d = str(tmp_path / "empty_xml")
    write_rdfxml(empty, d, single_file=single_file)
    texts = [
        open(os.path.join(d, f)).read() for f in sorted(os.listdir(d))
        if f.startswith("part-") and f.endswith(".txt")
    ]
    assert [t for t in texts if t.strip()] == [
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">\n'
        "</rdf:RDF>\n"
    ]
    assert read_rdfxml(spark, d).count() == 0
