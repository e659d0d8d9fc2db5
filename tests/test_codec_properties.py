"""Property-based round-trip tests (hypothesis) for the pure-Python
codec layers — the parts of the engine where a single mis-encoded byte
silently corrupts data at scale:

- RDF Protobuf / RDF Thrift statement codecs (encode ∘ parse identity
  over randomized term tuples, incl. unicode literals, datatypes,
  langtags, named graphs, quoted triples)
- the N-Triples escape/unescape pair
- the pure-numpy media codecs (PNG/BMP/PPM/WAV) over randomized arrays
- the Jelly stream-state walks over random raw streams that use the
  wire's stateful compression: ``StreamState.explicit_row`` against
  ``resolve_row``, and transcode against resolution

Example-based tests cover the known shapes; these sweep the input space
the examples can't."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from cli_spark.nquads import KIND_BNODE, KIND_IRI, KIND_LITERAL, KIND_QUOTED
from cli_spark.turtle import _escape_nt_py, _nt_term_text, _unescape_py

# --------------------------------------------------------------- strategies

_iri = st.text(
    alphabet=st.characters(
        whitelist_categories=("Lu", "Ll", "Nd"), whitelist_characters=":/#._-"
    ),
    min_size=1,
    max_size=40,
).map(lambda s: "kg:" + s)

_bnode_label = st.from_regex(r"[A-Za-z0-9_][A-Za-z0-9_\-.]{0,20}[A-Za-z0-9_\-]", fullmatch=True)

# any unicode except surrogates (not encodable to UTF-8)
_lex = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=60
)

_lang = st.from_regex(r"[a-z]{2}(-[a-z0-9]{1,8})?", fullmatch=True)


@st.composite
def _literal(draw):
    value = draw(_lex)
    kind = draw(st.sampled_from(["plain", "dt", "lang"]))
    if kind == "dt":
        return (value, KIND_LITERAL, draw(_iri), None)
    if kind == "lang":
        return (value, KIND_LITERAL, None, draw(_lang))
    return (value, KIND_LITERAL, None, None)


@st.composite
def _node(draw):
    if draw(st.booleans()):
        return (draw(_iri), KIND_IRI, None, None)
    return (draw(_bnode_label), KIND_BNODE, None, None)


@st.composite
def _quoted(draw):
    s = draw(_node)
    p = (draw(_iri), KIND_IRI, None, None)
    o = draw(st.one_of(_node, _literal()))
    text = "<< {} {} {} >>".format(
        _nt_term_text(s[1], s[0], s[2], s[3]),
        _nt_term_text(p[1], p[0], p[2], p[3]),
        _nt_term_text(o[1], o[0], o[2], o[3]),
    )
    return (text, KIND_QUOTED, None, None)


_node = _node()  # materialize composite for reuse above


@st.composite
def statement_rows(draw):
    """A TRIPLE_COLS-ordered row tuple."""
    s = draw(st.one_of(_node, _quoted()))
    p = (draw(_iri), KIND_IRI, None, None)
    o = draw(st.one_of(_node, _literal(), _quoted()))
    if draw(st.booleans()):
        g_val, g_kind = draw(_node)[:2]
    else:
        g_val, g_kind = None, None
    return (s[0], s[1], p[0], p[1], o[0], o[1], o[2], o[3], g_val, g_kind)


# --------------------------------------------------------------- RDF binary


@settings(max_examples=200, deadline=None)
@given(st.lists(statement_rows(), min_size=1, max_size=8))
def test_rdfproto_roundtrip(rows):
    from cli_spark import rdfproto

    data = b"".join(rdfproto.encode_statement(r) for r in rows)
    assert rdfproto.parse_stream(data) == rows


@settings(max_examples=200, deadline=None)
@given(st.lists(statement_rows(), min_size=1, max_size=8))
def test_rdfthrift_roundtrip(rows):
    from cli_spark import rdfthrift

    data = b"".join(rdfthrift.encode_statement(r) for r in rows)
    assert rdfthrift.parse_stream(data) == rows


# --------------------------------------------------------------- escaping


@settings(max_examples=300, deadline=None)
@given(_lex)
def test_nt_escape_unescape_inverse(s):
    assert _unescape_py(_escape_nt_py(s)) == s


# --------------------------------------------------------------- media


_img = st.tuples(
    st.integers(1, 8), st.integers(1, 8), st.integers(0, 2**32 - 1)
).map(
    lambda t: np.random.default_rng(t[2]).integers(
        0, 256, size=(t[0], t[1], 3), dtype=np.uint8
    )
)


@settings(max_examples=60, deadline=None)
@given(_img)
def test_media_image_codecs_roundtrip(img):
    from cli_spark.ops import media_codecs as mc

    assert np.array_equal(mc.decode_png(mc.encode_png(img)), img)
    assert np.array_equal(mc.decode_bmp(mc.encode_bmp(img)), img)
    assert np.array_equal(mc.decode_ppm(mc.encode_ppm(img)), img)
    rs = mc.resize_nearest(img, 3, 2)
    assert rs.shape == (2, 3, 3)


@settings(max_examples=60, deadline=None)
@given(st.integers(1, 64), st.integers(0, 2**32 - 1))
def test_media_wav_roundtrip(n, seed):
    from cli_spark.ops import media_codecs as mc

    pcm = (
        np.random.default_rng(seed)
        .integers(-32768, 32768, size=n)
        .astype(np.int16)
    )
    sr, back = mc.decode_wav(mc.encode_wav(pcm, sample_rate=8000))
    assert sr == 8000 and np.array_equal(back, pcm)


# ------------------------------------------------- parser cross-validation


@settings(max_examples=200, deadline=None)
@given(statement_rows())
def test_turtle_and_nquads_parsers_agree(row):
    """Canonical N-Triples is valid Turtle: the recursive-descent Turtle
    parser and the N-Quads Python tokenizer must produce the identical
    term-model row from the same line — two independent implementations
    cross-checking each other over randomized terms."""
    from cli_spark.nquads import _classify_py, _tokenize_terms_py
    from cli_spark.turtle import parse_turtle_document

    s, sk, p, pk, o, ok, odt, olang, g, gk = row
    line = "{} {} {} .".format(
        _nt_term_text(sk, s, None, None),
        _nt_term_text(pk, p, None, None),
        _nt_term_text(ok, o, odt, olang),
    )
    toks = _tokenize_terms_py(line)
    assert len(toks) == 3
    nq = []
    for t in toks:
        v, k, dt, lang = _classify_py(t)
        nq.append((v, k, dt, lang))
    ttl_rows = parse_turtle_document(line)
    assert len(ttl_rows) == 1
    r = ttl_rows[0]
    ttl = [(r[0], r[1], None, None), (r[2], r[3], None, None), (r[4], r[5], r[6], r[7])]
    assert ttl == nq


# --------------------------------------------------------- jelly frame rows


_jw_name = st.text(min_size=0, max_size=12).filter(lambda s: "\x00" not in s)
_jw_id = st.integers(0, 2**20)


@st.composite
def _jw_term(draw, depth=0, graph=False):
    """Normalized jellywire term dicts (the exact decode form), so the
    wire codec must be an identity on them."""
    choices = ["iri", "bnode", "literal"]
    if depth < 2 and not graph:
        choices.append("quoted")
    if graph:
        choices.append("default")
    kind = draw(st.sampled_from(choices))
    if kind == "iri":
        return {"k": 0, "pid": draw(_jw_id), "nid": draw(_jw_id)}
    if kind == "bnode":
        return {"k": 1, "v": draw(_jw_name)}
    if kind == "literal":
        style = draw(st.sampled_from(["plain", "lang", "dt"]))
        return {
            "k": 2,
            "v": draw(_jw_name),
            "lang": draw(_lang) if style == "lang" else None,
            "dt": draw(st.integers(1, 2**10)) if style == "dt" else 0,
        }
    if kind == "default":
        return {"k": 4}
    return {
        "k": 3,
        "s": draw(_jw_term(depth=depth + 1)),
        "p": draw(_jw_term(depth=depth + 1)),
        "o": draw(_jw_term(depth=depth + 1)),
    }


@st.composite
def _jelly_rows(draw):
    """Normalized jellywire row dicts across every wire row kind,
    including RDF-star nesting, elided statement terms, and the options
    row — encode_frame ∘ decode_frame must be the identity."""
    from cli_spark import jellywire as JW

    kind = draw(
        st.sampled_from(
            [JW.K_OPTIONS, JW.K_TRIPLE, JW.K_QUAD, JW.K_NAME, JW.K_DATATYPE,
             JW.K_PREFIX, JW.K_GRAPH_START, JW.K_GRAPH_END, JW.K_NAMESPACE]
        )
    )
    if kind == JW.K_OPTIONS:
        return {
            "kind": kind,
            "stream_name": draw(_jw_name),
            "physical": draw(st.integers(0, 3)),
            "generalized": draw(st.booleans()),
            "rdf_star": draw(st.booleans()),
            "logical": draw(st.integers(0, 4)),
            "version": draw(st.integers(0, 2)),
            "max_name": draw(st.integers(0, 2**20)),
            "max_prefix": draw(st.integers(0, 2**16)),
            "max_dt": draw(st.integers(0, 2**16)),
        }
    if kind in (JW.K_TRIPLE, JW.K_QUAD):
        row = {
            "kind": kind,
            "s": draw(st.one_of(st.none(), _jw_term())),
            "p": draw(st.one_of(st.none(), _jw_term())),
            "o": draw(st.one_of(st.none(), _jw_term())),
        }
        if kind == JW.K_QUAD:
            row["g"] = draw(st.one_of(st.none(), _jw_term(graph=True)))
        return row
    if kind in (JW.K_NAME, JW.K_DATATYPE, JW.K_PREFIX):
        return {"kind": kind, "id": draw(_jw_id), "value": draw(_jw_name)}
    if kind == JW.K_GRAPH_START:
        return {"kind": kind, "g": draw(_jw_term(graph=True))}
    if kind == JW.K_GRAPH_END:
        return {"kind": kind}
    return {
        "kind": kind,
        "name": draw(_jw_name),
        "iri": {"k": 0, "pid": draw(_jw_id), "nid": draw(_jw_id)},
    }


@settings(max_examples=200, deadline=None)
@given(st.lists(_jelly_rows(), min_size=1, max_size=12))
def test_jelly_frame_row_codec_roundtrip(rows):
    from cli_spark import jellywire as JW

    decoded = JW.decode_frame(JW.encode_frame(rows))
    assert decoded == rows



# --------------------------------------------- Jelly stream sequencing


@st.composite
def _raw_jelly_stream(draw):
    """A random raw Jelly stream that uses the wire's stateful
    compression — implicit entry ids, name id 0 and prefix id 0 in IRIs,
    elided statement terms, entry slots overwritten in small tables,
    prefix id 0 before a sub-stream's first prefixed IRI, RDF-star,
    QUADS, GRAPHS and namespace rows — in one or two sub-streams, cut
    into random frames (empty and 1-row frames included). Returns the
    frame blobs."""
    from cli_spark import jellywire as JW

    physical = draw(st.sampled_from([1, 2, 3]))
    rows: list[dict] = []
    for _ in range(draw(st.integers(1, 2))):
        rdf_star = draw(st.booleans())
        rows.append({
            "kind": JW.K_OPTIONS, "stream_name": "", "physical": physical,
            "generalized": False, "rdf_star": rdf_star, "logical": 0,
            "version": 1, "max_name": 8, "max_prefix": 4, "max_dt": 4,
        })
        last = {JW.K_NAME: 0, JW.K_PREFIX: 0, JW.K_DATATYPE: 0}
        defined: dict[int, set] = {k: set() for k in last}
        iri_ids = {"nid": 0, "pid": 0}
        seen: set[str] = set()
        in_graph = False

        def entry(kind):
            eid = draw(st.integers(1, min(last[kind] + 1, 5)))
            implicit = eid == last[kind] + 1 and draw(st.booleans())
            last[kind] = eid
            defined[kind].add(eid)
            rows.append({
                "kind": kind, "id": 0 if implicit else eid,
                "value": draw(st.sampled_from(["a", "b", "c/", "d#"])),
            })

        def iri():
            if not defined[JW.K_NAME]:
                entry(JW.K_NAME)
            nid = draw(st.sampled_from(sorted(defined[JW.K_NAME])))
            if iri_ids["pid"] == 0 and (not defined[JW.K_PREFIX] or draw(st.booleans())):
                pid = 0
            else:
                pid = draw(st.sampled_from(sorted(defined[JW.K_PREFIX])))
            term = {
                "k": JW.T_IRI,
                "pid": 0 if pid == iri_ids["pid"] and draw(st.booleans()) else pid,
                "nid": 0 if nid == iri_ids["nid"] + 1 and draw(st.booleans()) else nid,
            }
            iri_ids["nid"] = nid
            iri_ids["pid"] = pid or iri_ids["pid"]
            return term

        def term(depth=0):
            kind = draw(st.integers(0, 3 if rdf_star and depth < 2 else 2))
            if kind == 0:
                return iri()
            if kind == 1:
                return {"k": JW.T_BNODE, "v": draw(st.sampled_from(["x", "y"]))}
            if kind == 2:
                dts = sorted(defined[JW.K_DATATYPE])
                dt = draw(st.sampled_from([0] + dts))
                lang = None if dt else draw(st.sampled_from([None, "en"]))
                return {"k": JW.T_LITERAL, "v": draw(st.sampled_from(["", "v"])),
                        "lang": lang, "dt": dt}
            s = term(depth + 1)
            p = iri()
            return {"k": JW.T_QUOTED, "s": s, "p": p, "o": term(depth + 1)}

        def graph():
            kind = draw(st.integers(0, 2))
            if kind == 0:
                return iri()
            if kind == 1:
                return {"k": JW.T_BNODE, "v": "g"}
            return {"k": JW.T_DEFAULT_GRAPH}

        for action in draw(st.lists(st.integers(0, 8), min_size=1, max_size=24)):
            if action <= 2:
                entry(draw(st.sampled_from([JW.K_NAME, JW.K_NAME, JW.K_PREFIX, JW.K_DATATYPE])))
            elif action == 3:
                rows.append({"kind": JW.K_NAMESPACE, "name": "ns", "iri": iri()})
            elif physical == 3 and action == 4:
                if in_graph:
                    rows.append({"kind": JW.K_GRAPH_END})
                else:
                    rows.append({"kind": JW.K_GRAPH_START, "g": graph()})
                in_graph = not in_graph
            else:
                kind = JW.K_QUAD if physical == 2 else JW.K_TRIPLE
                row = {"kind": kind}
                for key in ("s", "p", "o", "g") if kind == JW.K_QUAD else ("s", "p", "o"):
                    if key in seen and draw(st.integers(0, 2)) == 0:
                        row[key] = None
                    else:
                        row[key] = iri() if key == "p" else graph() if key == "g" else term()
                        seen.add(key)
                rows.append(row)
        if in_graph:
            rows.append({"kind": JW.K_GRAPH_END})

    frames: list[list[dict]] = [[]]
    for row in rows:
        frames[-1].append(row)
        cut = draw(st.integers(0, 5))
        if cut <= 1:
            frames.append([])
        if cut == 0:
            frames.append([])
    return [JW.encode_frame(f) for f in frames]


def _statements(blobs) -> list[dict]:
    from cli_spark import jellywire as JW

    return [
        row for _, _, row in JW.resolve_frames(blobs)
        if row["kind"] in (JW.K_TRIPLE, JW.K_QUAD)
    ]


def _no_prefix_entry(rows: list[dict]) -> list[dict]:
    """Explicit rows with each IRI's prefix id 0 (no prefix) pointed at
    an empty prefix entry declared after each options row: in explicit
    rows prefix id 0 means "no prefix", which the wire can only say
    this way once an earlier IRI had a prefix (transcode does the
    same)."""
    from cli_spark import jellywire as JW

    def fill(t):
        if t is None or t["k"] not in (JW.T_IRI, JW.T_QUOTED):
            return t
        if t["k"] == JW.T_IRI:
            return {**t, "pid": t["pid"] or 99}
        return {**t, **{x: fill(t[x]) for x in ("s", "p", "o")}}

    out = []
    for x in rows:
        out.append({k: fill(v) if isinstance(v, dict) else v for k, v in x.items()})
        if x["kind"] == JW.K_OPTIONS:
            out.append({"kind": JW.K_PREFIX, "id": 99, "value": ""})
    return out


@settings(max_examples=200, deadline=None)
@given(_raw_jelly_stream())
def test_explicit_rows_resolve_like_raw_rows(blobs):
    """StreamState.explicit_row drops no information: resolving its
    output gives the statements and entries that resolving the raw rows
    gives, and it leaves no implicit id behind."""
    from cli_spark import jellywire as JW

    raw = [row for b in blobs for row in JW.decode_frame(b)]
    oracle = JW.StreamState()
    expected = [oracle.resolve_row(r) for r in raw]
    walk = JW.StreamState()
    explicit = [walk.explicit_row(r) for r in raw]
    again = JW.StreamState()
    got = [again.resolve_row(x) for x in _no_prefix_entry(explicit)]
    assert [r for r in got if r.get("id") != 99] == expected

    def iris(t):
        if t is None or t["k"] not in (JW.T_IRI, JW.T_QUOTED):
            return []
        if t["k"] == JW.T_IRI:
            return [t]
        return [i for x in ("s", "p", "o") for i in iris(t[x])]

    for x in explicit:
        if x["kind"] in (JW.K_NAME, JW.K_PREFIX, JW.K_DATATYPE):
            assert x["id"] > 0
        for key in ("s", "p", "o", "g", "iri"):
            assert all(i["nid"] > 0 for i in iris(x.get(key)))


@settings(max_examples=8, deadline=None)
@given(_raw_jelly_stream())
def test_transcode_twice_resolves_to_twice_the_statements(spark, blobs):
    """Transcoding a stream concatenated with itself resolves to its
    statements twice, in order. Each example runs one transcode (a few
    Spark jobs), so the budget is small."""
    from cli_spark import jelly as J
    from cli_spark import jellywire as JW

    frames = spark.createDataFrame(
        [(0, i, -1, bytearray(b)) for i, b in enumerate(blobs)], J.FRAME_SCHEMA
    )
    out = sorted(
        J.transcode_frames(spark, [frames, frames]).collect(),
        key=lambda r: (r["seg"], r["frame_index"]),
    )
    assert _statements([bytes(r["frame_bytes"]) for r in out]) == 2 * _statements(blobs)
