"""Wire-format v2 features: QUADS physical type + P4 guard, prefix
lookup table (3-table contract), full stream options + validation
matrix (mirrors RdfValidateSpec.scala:143-338), namespace declarations,
options-from-file + cascade (S11/P13), append-mode sink (S3), and the
logical-type IRI↔enum mapping (F6/P12)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cli_spark import jelly as J

QKEY = ["subj", "pred", "obj", "obj_kind", "graph"]


@pytest.fixture(scope="module")
def quads(spark):
    rows = [
        ("kg:doc/1", "kg:p", "kg:doc/2", 0, None),
        ("kg:doc/2", "kg:p", "lit one", 2, None),
        ("kg:doc/3", "kg:p", "kg:doc/1", 0, "kg:graph/a"),
        ("kg:doc/3", "kg:q", "42", 2, "kg:graph/a"),
        ("kg:doc/4", "kg:q", "kg:doc/5", 0, "kg:graph/b"),
    ]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_kind int, graph string"
    ).cache()


def _set(df, cols):
    return {tuple(r) for r in df.select(*cols).collect()}


def test_quads_roundtrip(spark, quads):
    back = J.roundtrip_quads(spark, quads, rows_per_frame=2)
    assert _set(back, QKEY) == _set(quads, QKEY)
    # wire really used QUAD rows with a graph reference
    rows = J.decode_frames(J.encode_quads(spark, quads))
    kinds = {r.row_kind for r in rows.select("row_kind").distinct().collect()}
    assert J.KIND_QUAD in kinds and J.KIND_TRIPLE not in kinds
    # default-graph rows carry the default-graph term kind (wire
    # g_default_graph, resolved graph NULL)
    n_default = rows.filter(
        (F.col("row_kind") == J.KIND_QUAD) & (F.col("graph_kind") == 4)
    ).count()
    assert n_default == 2


def test_quads_typed_literals(spark):
    quads = spark.createDataFrame(
        [
            ("s", "p", "42", 2, "g1", "http://www.w3.org/2001/XMLSchema#integer", None),
            ("s", "p", "hi", 2, None, None, "en"),
        ],
        "subj string, pred string, obj string, obj_kind int, graph string, "
        "obj_datatype string, obj_lang string",
    )
    back = J.roundtrip_quads(spark, quads)
    got = {
        (r.subj, r.obj, r.graph, r.obj_datatype, r.obj_lang) for r in back.collect()
    }
    assert got == {
        ("s", "42", "g1", "http://www.w3.org/2001/XMLSchema#integer", None),
        ("s", "hi", None, None, "en"),
    }


def test_p4_frames_level_guard(spark, quads):
    """P4 (RdfFromJelly.scala:144-153) reads the declared physical type
    with a tag-peek on the frames (no resolution pass, no statement
    decode); the CLI refusal itself is
    test_cli::test_cli_quads_to_triples_sink_guard."""
    frames = J.encode_quads(spark, quads)
    assert J.peek_physical_types(frames) == {J.PHYSICAL_QUADS}


@pytest.fixture(scope="module")
def iri_triples(spark):
    # long shared prefixes — the prefix table's target shape
    rows = [
        (f"http://example.org/ontology/entity/e{i}",
         "http://example.org/ontology/vocab#related",
         f"http://example.org/ontology/entity/e{i + 1}", 0)
        for i in range(200)
    ]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_kind int"
    ).cache()


def test_prefix_table_roundtrip_and_smaller(spark, iri_triples):
    """The 3-table contract (RdfJellySerializationOptions.scala:33-35):
    prefix-split name entries round-trip exactly AND the stream is
    measurably smaller (min-size behavior, RdfToJellySpec.scala:824-833)."""
    plain = J.encode_triples(spark, iri_triples, prefix_table=False)
    pref = J.encode_triples(spark, iri_triples, prefix_table=True)
    size = lambda fr: fr.agg(  # noqa: E731
        F.sum(F.length("frame_bytes"))
    ).collect()[0][0]
    assert size(pref) < size(plain)
    back = J.decode_triples(J.decode_frames(pref))
    key = ["subj", "pred", "obj", "obj_kind"]
    assert _set(back, key) == _set(iri_triples, key)
    # prefix entry rows exist and name entries hold LOCALS (the prefix
    # was split off — statements carry the prefix ref on the wire)
    rows = J.decode_frames(pref)
    n_prefix = rows.filter(F.col("row_kind") == J.KIND_PREFIX).count()
    assert n_prefix >= 2  # entity/ and vocab# prefixes
    n_local = rows.filter(
        (F.col("row_kind") == J.KIND_NAME) & ~F.col("name").startswith("http")
    ).count()
    assert n_local > 0


def test_prefix_table_declared_size_raised(spark):
    """A configured max_prefix_table smaller than the prefixes actually
    used gets RAISED in the declared options (ids must stay legal under
    the real wire's bound contract; the reference evicts instead — both
    are conformant streams), the stream validates and it still
    round-trips."""
    from cli_spark.compare import validate_stream

    rows = [(f"http://p{i}.example/x/e", "kg:p", f"v{i}", 2) for i in range(50)]
    t = spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_kind int"
    )
    opts = J.StreamOptions(max_prefix_table=4)
    frames = J.encode_triples(spark, t, options=opts, prefix_table=True)
    dec = J.decode_frames(frames).cache()
    assert validate_stream(dec) == []
    n_prefix = dec.filter(F.col("row_kind") == J.KIND_PREFIX).count()
    declared = dec.filter(F.col("row_kind") == J.KIND_OPTIONS).first().opt_max_prefix
    assert n_prefix > 4 and declared >= n_prefix
    back = J.decode_triples(dec)
    key = ["subj", "pred", "obj", "obj_kind"]
    assert _set(back, key) == _set(t, key)


def test_full_options_roundtrip(spark, iri_triples):
    from cli_spark.compare import validate_stream

    opts = J.StreamOptions(
        physical_type=J.PHYSICAL_TRIPLES,
        logical_type=J.LOGICAL_FLAT_TRIPLES,
        generalized=True,
        rdf_star=False,
        stream_name="test-stream",
        max_name_table=512,
        max_prefix_table=64,
    )
    rows = J.decode_frames(
        J.encode_triples(spark, iri_triples, options=opts, prefix_table=True)
    )
    opt_row = rows.filter(F.col("row_kind") == J.KIND_OPTIONS).first()
    assert opt_row.opt_version == J.VERSION
    assert opt_row.opt_physical == J.PHYSICAL_TRIPLES
    assert opt_row.opt_logical == J.LOGICAL_FLAT_TRIPLES
    assert opt_row.opt_flags == 1  # generalized, not rdf-star
    assert opt_row.opt_max_name == 512
    assert opt_row.opt_max_prefix == 64
    assert opt_row.aux == "test-stream"
    assert validate_stream(rows) == []


def _opts_row(spark, **overrides):
    """Build a one-row rows-table with the given options fields."""
    base = {c: None for c in J.ROW_SCHEMA.replace(",", "").split()[::2]}
    base.update(
        seg=0, frame_index=0, row_pos=0, row_kind=J.KIND_OPTIONS,
        aux="", opt_version=J.VERSION, opt_physical=J.PHYSICAL_TRIPLES,
        opt_logical=0, opt_flags=0, opt_max_name=4096, opt_max_prefix=1024,
        opt_max_dt=4096,
    )
    base.update(overrides)
    return base


def test_validate_options_matrix(spark):
    """Options-row failure matrix mirroring RdfValidateSpec.scala:143-338,
    checked by validate_stream: each case's whole problem list."""
    from cli_spark.compare import validate_stream

    def check(*rows):
        return validate_stream(spark.createDataFrame(list(rows), J.ROW_SCHEMA))

    # valid
    assert check(_opts_row(spark)) == []
    # no options at all
    assert check(dict(_opts_row(spark), row_kind=J.KIND_GRAPH_END)) == [
        "1 segment(s) do not start with an options row"
    ]
    # version 0 / unsupported future version
    assert check(_opts_row(spark, opt_version=0)) == [
        "options row declares invalid version 0"
    ]
    assert check(_opts_row(spark, opt_version=J.VERSION_MAX + 1)) == [
        f"unsupported stream version {J.VERSION_MAX + 1} (max {J.VERSION_MAX})"
    ]
    # unknown physical type (no logical type declared, so no clash)
    assert check(_opts_row(spark, opt_physical=9)) == [
        "unknown physical stream type 9"
    ]
    # logical/physical incompatibility: FLAT_QUADS over TRIPLES
    assert check(_opts_row(spark, opt_logical=J.LOGICAL_FLAT_QUADS)) == [
        "logical type FLAT_QUADS is incompatible with physical type 1"
    ]
    # unknown logical type
    assert check(_opts_row(spark, opt_logical=7)) == [
        "unknown logical stream type 7"
    ]
    # compatible combination passes
    assert check(
        _opts_row(spark, opt_logical=J.LOGICAL_FLAT_QUADS, opt_physical=J.PHYSICAL_QUADS)
    ) == []
    # name table below the minimum of 8
    assert check(_opts_row(spark, opt_max_name=4)) == [
        "name table size 4 below the minimum of 8"
    ]
    # later-options equality (RdfValidate.scala:192-195)
    assert check(_opts_row(spark), _opts_row(spark, seg=1, opt_max_name=512)) == [
        "options changed mid-stream (later options rows must equal the "
        "first — RdfValidate.scala:192-195)"
    ]
    # identical later options are fine
    assert check(_opts_row(spark), _opts_row(spark, seg=1)) == []
    # one line per failed check, naming the first offending row's value
    assert check(
        _opts_row(spark, seg=0, opt_max_name=2),
        _opts_row(spark, seg=1, opt_max_name=4),
    ) == [
        "name table size 2 below the minimum of 8",
        "options changed mid-stream (later options rows must equal the "
        "first — RdfValidate.scala:192-195)",
    ]


def test_namespace_declarations(spark, iri_triples):
    ns = spark.createDataFrame(
        [("ex", "http://example.org/ontology/"), ("kg", "kg:")],
        "name string, iri string",
    )
    rows = J.decode_frames(J.encode_triples(spark, iri_triples, namespaces=ns))
    got = {tuple(r) for r in J.namespace_declarations(rows).collect()}
    assert got == {("ex", "http://example.org/ontology/"), ("kg", "kg:")}
    # declarations ride in frame 0: options first, then the name/prefix
    # entries their IRIs reference, then the namespace rows — and no
    # namespace row precedes the entries it points at
    first = (
        rows.filter(F.col("frame_index") == 0)
        .orderBy("row_pos")
        .select("row_kind")
        .collect()
    )
    kinds = [r.row_kind for r in first]
    assert kinds[0] == J.KIND_OPTIONS
    assert J.KIND_NAMESPACE in kinds
    first_ns = kinds.index(J.KIND_NAMESPACE)
    assert J.KIND_NAME in kinds[:first_ns]


def test_options_from_file_and_cascade(spark, iri_triples, tmp_path):
    opts = J.StreamOptions(
        stream_name="origin", max_name_table=256, generalized=True
    )
    p = str(tmp_path / "origin.jelly")
    J.write_jelly_file(J.encode_triples(spark, iri_triples, options=opts), p)
    loaded = J.options_from_file(p)
    assert loaded.stream_name == "origin"
    assert loaded.max_name_table == 256
    assert loaded.generalized is True
    # cascade: CLI flag beats file beats derived (P13)
    merged = J.options_cascade(
        cli={"stream_name": "cli-wins", "max_name_table": None},
        from_file=loaded,
        derived=J.StreamOptions(physical_type=J.PHYSICAL_QUADS),
    )
    assert merged.stream_name == "cli-wins"  # cli layer
    assert merged.max_name_table == 256  # file layer (cli unset)
    assert merged.generalized is True  # file layer
    assert merged.physical_type == J.PHYSICAL_TRIPLES  # file overrode derived


def test_append_mode_sink(spark, tmp_path):
    """S3 (IoUtil.scala:30-36): appended frames form a concatenated
    stream, which decodes as the union (U1)."""
    a = spark.createDataFrame(
        [("a", "p", "1", 2)], "subj string, pred string, obj string, obj_kind int"
    )
    b = spark.createDataFrame(
        [("b", "p", "2", 2)], "subj string, pred string, obj string, obj_kind int"
    )
    p = str(tmp_path / "appended.jelly")
    J.write_jelly_file(J.encode_triples(spark, a), p)
    J.write_jelly_file(J.encode_triples(spark, b), p, append=True)
    back = J.decode_triples(J.decode_frames(J.read_jelly_file(spark, p)))
    assert {(r.subj, r.obj) for r in back.collect()} == {("a", "1"), ("b", "2")}


def test_logical_type_iri_mapping():
    """F6 camelCase↔SNAKE + P12 IRI↔enum."""
    assert J.snake_to_camel("FLAT_TRIPLES") == "flatTriples"
    assert J.camel_to_snake("flatTriples") == "FLAT_TRIPLES"
    for code in (1, 2, 3, 4):
        iri = J.logical_type_iri(code)
        assert iri.startswith(J.STAX_BASE)
        assert J.logical_type_from_iri(iri) == code
    # the ontology locals are singular (RdfJellySerializationOptions.
    # scala:73-78 derives #flatQuadStream from FLAT_QUADS); the plural
    # legacy spelling still resolves on input
    assert J.logical_type_iri(2) == J.STAX_BASE + "flatQuadStream"
    assert J.logical_type_iri(3) == J.STAX_BASE + "graphStream"
    assert J.logical_type_from_iri(J.STAX_BASE + "flatQuadsStream") == 2
    assert J.logical_type_iri(J.LOGICAL_UNSPECIFIED) is None
    with pytest.raises(ValueError):
        J.logical_type_from_iri(J.STAX_BASE + "noSuchStream")


def test_version_rejection(spark):
    """A stream declaring a future protocol version fails at decode with
    a clear error (the reference's jelly-jvm behavior); validate_stream
    reports it on a rows table too (test_validate_options_matrix)."""
    from cli_spark import jellywire as JW

    frame = JW.encode_frame(
        [{"kind": JW.K_OPTIONS, "physical": 1, "version": 99, "max_name": 16}]
    )
    frames = spark.createDataFrame([(0, 0, 1, bytearray(frame))], J.FRAME_SCHEMA)
    with pytest.raises(Exception, match="unsupported stream version 99"):
        J.decode_frames(frames).collect()


def test_transcode_fast_path(spark, iri_triples, quads):
    """§2.11 fast path: id-remap transcode of two streams decodes to the
    union, entry strings pass through verbatim (no re-parse)."""
    a = iri_triples.limit(50)
    b = spark.createDataFrame(
        [("kg:x", "kg:p", "kg:y", 0), ("kg:x", "kg:p", "lit", 2)],
        "subj string, pred string, obj string, obj_kind int",
    )
    fa = J.encode_triples(spark, a, prefix_table=True)
    fb = J.encode_triples(spark, b)
    out = J.transcode_frames(spark, [fa, fb], rows_per_frame=64)
    back = J.decode_triples(J.decode_frames(out))
    key = ["subj", "pred", "obj", "obj_kind"]
    assert _set(back, key) == _set(a, key) | _set(b, key)
    # exactly one options row in the merged stream, ids disjoint
    rows = J.decode_frames(out)
    assert rows.filter(F.col("row_kind") == J.KIND_OPTIONS).count() == 1
    dup = (
        rows.filter(F.col("row_kind") == J.KIND_NAME)
        .groupBy("name_id").count().filter("count > 1").count()
    )
    assert dup == 0


def test_transcode_size_precondition(spark, iri_triples):
    fa = J.encode_triples(spark, iri_triples)
    with pytest.raises(ValueError, match="at least as large"):
        J.transcode_frames(spark, [fa, fa], max_name_table=8)


def test_transcode_mixed_physical_rejected(spark, iri_triples, quads):
    fa = J.encode_triples(spark, iri_triples)
    fq = J.encode_quads(spark, quads)
    with pytest.raises(ValueError, match="mixed physical"):
        J.transcode_frames(spark, [fa, fq])


def test_transcode_quads_streams(spark, quads):
    f1 = J.encode_quads(spark, quads)
    f2 = J.encode_quads(spark, quads.limit(2))
    out = J.transcode_frames(spark, [f1, f2])
    back = J.decode_quads(J.decode_frames(out))
    assert _set(back, QKEY) == _set(quads, QKEY)


def test_jelly_text_roundtrip(spark, quads, tmp_path):
    """S10: binary frames → REAL protobuf TextFormat blocks (the shape
    RdfFromJellySpec.scala:150-163 expects: `rows { options { ... } }`
    with `# Frame N` headers in the file form) → parse → identical
    stream, through the file path too."""
    frames = J.encode_quads(spark, quads, prefix_table=True)
    text = J.render_jelly_text(frames).cache()
    one = text.first().text
    assert "rows {" in one and ("quad {" in one or "name {" in one)
    # the parsed frames keep the declared physical type (P4 reads it)
    assert J.peek_physical_types(J.parse_jelly_text(text)) == {J.PHYSICAL_QUADS}
    back = J.decode_quads(J.decode_frames(J.parse_jelly_text(text)))
    assert _set(back, QKEY) == _set(quads, QKEY)
    # file round-trip (reference layout: # Frame N headers, 2-space
    # indent, enum names)
    p = str(tmp_path / "stream.jelly.txt")
    J.write_jelly_text_file(frames, p)
    content = open(p).read()
    assert content.startswith("# Frame 0\n")
    assert "physical_type: PHYSICAL_STREAM_TYPE_QUADS" in content
    back2 = J.decode_quads(J.decode_frames(J.read_jelly_text_file(spark, p)))
    assert _set(back2, QKEY) == _set(quads, QKEY)


def test_jelly_text_escaping(spark):
    t = spark.createDataFrame(
        [('he said "hi\\there"', "kg:p", 'v "x" \\ y\né', 2)],
        "subj string, pred string, obj string, obj_kind int",
    )
    frames = J.encode_triples(spark, t)
    back = J.decode_triples(
        J.decode_frames(J.parse_jelly_text(J.render_jelly_text(frames)))
    )
    got = {(r.subj, r.obj) for r in back.collect()}
    assert got == {('he said "hi\\there"', 'v "x" \\ y\né')}


def test_p8_conformance_grid(spark):
    """Allowed/forbidden x generalized/star grid (P8 exact via the spg
    term-kind field; RdfValidateSpec.scala:169-338, StatementUtils.scala:
    14-25): literal-subject and bnode-predicate streams are flagged iff
    the generalized flag is absent; quoted-object streams iff the
    rdf-star flag is absent; plain streams (incl. bnode subjects) never."""
    from cli_spark.compare import validate_stream

    def probs(rows_df):
        return validate_stream(rows_df)

    def enc(df, **opt_kw):
        opts = J.StreamOptions(**opt_kw)
        return J.decode_frames(J.encode_triples(spark, df, options=opts))

    generalized = spark.createDataFrame(
        [
            ("a literal subject", 2, "kg:p", 0, "kg:o", 0),
            ("kg:s", 0, "bnodepred", 1, "kg:o", 0),
        ],
        "subj string, subj_kind int, pred string, pred_kind int, "
        "obj string, obj_kind int",
    )
    star = spark.createDataFrame(
        [("kg:s", "kg:says", "<< <kg:a> <kg:b> <kg:c> >>", 3)],
        "subj string, pred string, obj string, obj_kind int",
    )
    plain = spark.createDataFrame(
        [("_:b1", "kg:p", "kg:o", 0), ("kg:s", "kg:p", "a literal", 2)],
        "subj string, pred string, obj string, obj_kind int",
    )

    # forbidden: flags unset
    p = probs(enc(generalized))
    assert any("generalized statement in frame 0" in x for x in p), p
    p = probs(enc(star))
    assert any("RDF-star statement in frame 0" in x for x in p), p
    # allowed: matching flag set
    assert not [x for x in probs(enc(generalized, generalized=True)) if "generalized" in x]
    assert not [x for x in probs(enc(star, rdf_star=True)) if "RDF-star" in x]
    # plain stream: bnode subject / literal object never flagged
    p = probs(enc(plain))
    assert not [x for x in p if "generalized" in x or "RDF-star" in x], p


def test_spg_roundtrip_kinds(spark):
    """Literal subjects and bnode predicates survive encode->decode with
    exact kinds (the v2 flat model inferred kinds from '_:' prefixes and
    could not represent them)."""
    t = spark.createDataFrame(
        [
            ("a literal subject", 2, "bnodepred", 1, "kg:o", 0),
            ("_:b", 1, "kg:p", 0, "val", 2),
        ],
        "subj string, subj_kind int, pred string, pred_kind int, "
        "obj string, obj_kind int",
    )
    opts = J.StreamOptions(generalized=True)
    back = J.decode_triples(
        J.decode_frames(J.encode_triples(spark, t, options=opts))
    )
    got = {
        (r.subj, r.subj_kind, r.pred, r.pred_kind, r.obj, r.obj_kind)
        for r in back.collect()
    }
    assert got == {
        ("a literal subject", 2, "bnodepred", 1, "kg:o", 0),
        ("_:b", 1, "kg:p", 0, "val", 2),
    }


def test_transcode_upstream_golden_fixtures(spark):
    """§2.11 against the reference's own binary fixtures: transcoding
    everythingTriple/everythingQuad.jelly (RDF-star, generalized terms,
    prefix tables, bounded-id reuse — produced by the upstream protobuf
    writer) must preserve every statement exactly, including the
    full-position datatype/langtag annotations."""
    import os

    base = "/root/reference/src/test/resources"
    if not os.path.isfile(f"{base}/everythingTriple.jelly"):
        pytest.skip("reference fixtures not present")

    tkey = [
        "subj", "subj_kind", "pred", "pred_kind", "obj", "obj_kind",
        "obj_datatype", "obj_lang", "subj_dt", "subj_lang", "pred_dt",
        "pred_lang",
    ]
    frames = J.read_jelly_file(spark, f"{base}/everythingTriple.jelly")
    direct = J.decode_triples(J.decode_frames(frames))
    out = J.transcode_frames(spark, [frames], rows_per_frame=7)
    back = J.decode_triples(J.decode_frames(out))
    assert _set(back, tkey) == _set(direct, tkey)
    assert direct.count() > 0

    qkey = tkey + ["graph", "graph_kind", "graph_dt", "graph_lang"]
    qframes = J.read_jelly_file(spark, f"{base}/everythingQuad.jelly")
    qdirect = J.decode_quads(J.decode_frames(qframes))
    qout = J.transcode_frames(spark, [qframes, qframes], rows_per_frame=5)
    qback = J.decode_quads(J.decode_frames(qout))
    assert _set(qback, qkey) == _set(qdirect, qkey)
    assert qdirect.count() > 0


def test_wire_term_detail_elision(spark, tmp_path):
    """--detail counts only EXPLICITLY-encoded wire terms: a stream
    using repeated-term elision (legal Jelly; the reference encoder's
    default) reports fewer explicit terms than logical statements
    (MetricsPrinter.scala:186-199 hasSubject/... guards). The elided
    stream is built by decoding our explicit wire to raw rows, deleting
    the repeated subject/predicate fields, and re-encoding."""
    from cli_spark import jellywire as JW
    from cli_spark.inspect_metrics import format_detail

    # build via the normal encoder: 3 triples, s1 repeated
    triples = spark.createDataFrame(
        [
            ("kg:s1", "kg:p", "a", 2, None, None),
            ("kg:s1", "kg:p", "b", 2, None, None),
            ("kg:s2", "kg:p", "kg:o", 0, None, None),
        ],
        "subj string, pred string, obj string, obj_kind int, "
        "obj_datatype string, obj_lang string",
    )
    p = str(tmp_path / "explicit.jelly")
    J.write_jelly_file(J.encode_triples(spark, triples), p)
    data = open(p, "rb").read()
    _, blobs = JW.split_delimited(data)
    raw_frames = [JW.decode_frame(b) for b in blobs]
    # elide every repeat of the previous statement's term, like the
    # reference encoder does
    prev = {}
    for fr in raw_frames:
        for row in fr:
            if row["kind"] in (JW.K_TRIPLE, JW.K_QUAD):
                for t in ("s", "p", "o", "g"):
                    if t in row and row.get(t) is not None:
                        if prev.get(t) == row[t]:
                            del row[t]
                        else:
                            prev[t] = row[t]
    p2 = str(tmp_path / "elided.jelly")
    with open(p2, "wb") as fh:
        fh.write(JW.write_delimited(JW.encode_frame(fr) for fr in raw_frames))
    frames = J.read_jelly_file(spark, p2)
    # decode still yields all 3 logical triples
    back = J.decode_triples(J.decode_frames(frames))
    assert back.count() == 3
    terms = J.frame_wire_term_sizes(frames).withColumnRenamed("count", "n")
    detail = format_detail(terms.collect(), "term")
    assert detail["term_details"] == {
        "subject_count": 2,   # s1 explicit once, s2 once
        "predicate_count": 1,  # kg:p explicit once
        "object_count": 3,     # all distinct
        "graph_count": 0,
    }


def test_jelly_text_hand_wrapped_layouts():
    """The jelly-text parser accepts hand-wrapped TextFormat the printer
    never emits: one-line submessages, optional colon before a block,
    and raises a typed ValueError (not IndexError) on truncated input —
    regression for the r5 line-oriented fast path."""
    from cli_spark.jellywire import parse_frame_text

    one_line = (
        "rows {\n  triple {\n    s_iri { name_id: 5 }\n"
        "    p_iri {\n      name_id: 6\n    }\n"
        '    o_literal {\n      lex: "v"\n    }\n  }\n}'
    )
    r = parse_frame_text(one_line)
    assert r[0]["s"] == {"k": 0, "pid": 0, "nid": 5}
    assert r[0]["o"]["v"] == "v"
    colon = (
        'rows { triple { s_iri: { name_id: 5 } p_iri { name_id: 6 } '
        'o_bnode: "b" } }'
    )
    r2 = parse_frame_text(colon)
    assert r2[0]["s"] == {"k": 0, "pid": 0, "nid": 5}
    assert r2[0]["o"] == {"k": 1, "v": "b"}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="truncated or unbalanced"):
        parse_frame_text("rows { triple { s_iri { name_id: 5 ")


def test_frame_metadata_wire_roundtrip_and_transcode(spark, iri_triples):
    """Frame metadata (field 15): encode→decode round-trips keys and
    bytes in order; rows-only decode skips it leniently; transcode
    carries each input frame's metadata onto its 1:1 output frame."""
    from cli_spark import jellywire as JW

    opts = {
        "kind": JW.K_OPTIONS, "physical": 1, "logical": 1, "version": 1,
        "max_name": 16, "max_prefix": 8, "max_dt": 16,
    }
    md = [("key", bytes.fromhex("1337ff")), ("k2", b"\x00\x01")]
    frame = JW.encode_frame([opts], metadata=md)
    assert JW.decode_frame_metadata(frame) == md
    assert [r["kind"] for r in JW.decode_frame(frame)] == [JW.K_OPTIONS]
    assert JW.decode_frame_metadata(JW.encode_frame([opts])) == []

    # transcode preservation: tag the single input frame's bytes with
    # metadata, remap, and expect the same entries on the output frame
    fa = J.encode_triples(spark, iri_triples.limit(8))
    rows = fa.orderBy("seg", "frame_index").collect()
    tagged = [
        (
            r["seg"], r["frame_index"], r["n_rows"],
            bytearray(
                JW.encode_frame(JW.decode_frame(bytes(r["frame_bytes"])), metadata=md)
                if i == 0
                else bytes(r["frame_bytes"])
            ),
        )
        for i, r in enumerate(rows)
    ]
    fa_md = spark.createDataFrame(tagged, J.FRAME_SCHEMA)
    out = J.transcode_frames(spark, [fa_md], rows_per_frame=64)
    got = {
        int(r["frame_index"]): JW.decode_frame_metadata(bytes(r["frame_bytes"]))
        for r in out.collect()
    }
    assert got[0] == md
    assert all(v == [] for fi, v in got.items() if fi != 0)
    meta_df = J.frame_metadata(fa_md)
    assert {(r["key"], r["value_hex"]) for r in meta_df.collect()} == {
        ("key", "1337ff"), ("k2", "0001")
    }
