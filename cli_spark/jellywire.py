"""The real Jelly protobuf wire format — pure-Python codec + resolver.

This module speaks the actual ``RdfStreamFrame`` protobuf schema used by
the reference CLI (the public Jelly-RDF protocol), so streams written
here are readable by ``jelly-cli`` and the reference's own golden
fixtures (``/root/reference/src/test/resources/*.jelly``, exercised by
``RdfInspectSpec.scala:205-254``, ``RdfToJellySpec.scala:461-536``,
``RdfValidateSpec.scala:32-46``) decode here — see
``tests/test_jelly_conformance.py``. Field numbers were cross-checked
against those fixtures byte-by-byte; no protobuf runtime is needed (the
wire spec is public and tiny).

Schema (field numbers; proto3 semantics — zero/empty omitted):

  file            := (varint frame_len, frame)*          delimited
                   | frame                               non-delimited
  RdfStreamFrame  := { 1: repeated RdfStreamRow }        (other fields,
                     e.g. the v1.1 metadata map, are skipped leniently)
  RdfStreamRow    := oneof { 1: RdfStreamOptions, 2: RdfTriple,
                     3: RdfQuad, 4: RdfGraphStart, 5: RdfGraphEnd,
                     6: RdfNamespaceDeclaration, 9: RdfNameEntry,
                     10: RdfPrefixEntry, 11: RdfDatatypeEntry }
  RdfStreamOptions:= { 1: stream_name, 2: physical_type,
                     3: generalized_statements, 4: rdf_star,
                     9: max_name_table_size, 10: max_prefix_table_size,
                     11: max_datatype_table_size, 14: logical_type,
                     15: version }
  RdfTriple       := subject oneof  { 1: s_iri, 2: s_bnode,
                                      3: s_literal, 4: s_triple_term }
                     predicate oneof{ 5: p_iri, 6: p_bnode,
                                      7: p_literal, 8: p_triple_term }
                     object oneof   { 9: o_iri, 10: o_bnode,
                                      11: o_literal, 12: o_triple_term }
  RdfQuad         := RdfTriple fields ++ graph oneof
                     { 13: g_iri, 14: g_bnode, 15: g_default_graph,
                       16: g_literal }
  RdfGraphStart   := graph oneof { 1: g_iri, 2: g_bnode,
                     3: g_default_graph, 4: g_literal }
  RdfGraphEnd     := {}
  RdfIri          := { 1: prefix_id, 2: name_id }
  RdfLiteral      := { 1: lex, 2: langtag, 3: datatype_id }
  RdfDefaultGraph := {}
  Rdf{Name,Prefix,Datatype}Entry := { 1: id, 2: value }
  RdfNamespaceDeclaration        := { 1: name, 2: RdfIri }

Stateful compression (handled by :class:`StreamState`, on decode and in
transcode's id walk; the Spark encoder always writes the explicit forms,
which is legal):
  - entry id 0            = previous entry id + 1 (per table)
  - RdfIri.name_id 0      = previous name_id + 1 (shared across all IRIs
                            in stream order, depth-first through quoted
                            triples)
  - RdfIri.prefix_id 0    = same prefix as the previous IRI
  - statement term unset  = same term as the previous statement in that
                            position (elision)
  - entry id reuse        = the table slot is overwritten (bounded
                            dictionaries)

Term dicts used by this module (raw = wire refs, unresolved):
  IRI     {"k": 0, "pid": int, "nid": int}
  BNODE   {"k": 1, "v": label}
  LITERAL {"k": 2, "v": lex, "lang": str|None, "dt": int (0 = none)}
  QUOTED  {"k": 3, "s": term, "p": term, "o": term}
  DEFAULT {"k": 4}                       (graph position only)

Row dicts:
  {"kind": K_OPTIONS, "stream_name", "physical", "generalized",
   "rdf_star", "logical", "version", "max_name", "max_prefix", "max_dt"}
  {"kind": K_TRIPLE, "s": term|None, "p": term|None, "o": term|None}
  {"kind": K_QUAD,   ... , "g": term|None}
  {"kind": K_GRAPH_START, "g": term}
  {"kind": K_GRAPH_END}
  {"kind": K_NAME|K_PREFIX|K_DATATYPE, "id": int, "value": str}
  {"kind": K_NAMESPACE, "name": str, "iri": {"pid", "nid"}}
"""

from __future__ import annotations

import io
import re
from collections.abc import Iterable, Iterator

# Row-kind constants ARE the RdfStreamRow oneof field numbers.
K_OPTIONS = 1
K_TRIPLE = 2
K_QUAD = 3
K_GRAPH_START = 4
K_GRAPH_END = 5
K_NAMESPACE = 6
K_NAME = 9
K_PREFIX = 10
K_DATATYPE = 11

# Term kinds (match cli_spark.nquads KIND_*; 4 = default graph).
T_IRI = 0
T_BNODE = 1
T_LITERAL = 2
T_QUOTED = 3
T_DEFAULT_GRAPH = 4

# ---------------------------------------------------------------------------
# varint / TLV primitives
# ---------------------------------------------------------------------------


def write_varint(buf, v: int) -> None:
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            buf.write(bytes([b | 0x80]))
        else:
            buf.write(bytes([b]))
            return


def read_varint(data: bytes, pos: int) -> tuple[int, int]:
    result = shift = 0
    while True:
        b = data[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _tag(field: int, wire: int) -> bytes:
    buf = io.BytesIO()
    write_varint(buf, (field << 3) | wire)
    return buf.getvalue()


def _put_varint_field(buf, field: int, v: int | None) -> None:
    if v:
        buf.write(_tag(field, 0))
        write_varint(buf, int(v))


def _put_bytes_field(buf, field: int, raw: bytes) -> None:
    buf.write(_tag(field, 2))
    write_varint(buf, len(raw))
    buf.write(raw)


def _put_str_field(buf, field: int, s: str | None) -> None:
    if s:
        _put_bytes_field(buf, field, s.encode("utf-8"))


def _put_msg_field(buf, field: int, body: bytes) -> None:
    _put_bytes_field(buf, field, body)


def _skip_field(data: bytes, pos: int, wire: int) -> int:
    """Lenient skip of an unknown field (forward compatibility)."""
    if wire == 0:
        _, pos = read_varint(data, pos)
    elif wire == 2:
        n, pos = read_varint(data, pos)
        pos += n
    elif wire == 5:
        pos += 4
    elif wire == 1:
        pos += 8
    else:
        raise ValueError(f"unsupported wire type {wire}")
    return pos


def _fields(data: bytes) -> Iterator[tuple[int, int, object]]:
    """Iterate (field_no, wire_type, value) over a message's bytes."""
    pos, end = 0, len(data)
    while pos < end:
        tag, pos = read_varint(data, pos)
        field, wire = tag >> 3, tag & 7
        if wire == 0:
            v, pos = read_varint(data, pos)
            yield field, wire, v
        elif wire == 2:
            n, pos = read_varint(data, pos)
            yield field, wire, data[pos : pos + n]
            pos += n
        else:
            npos = _skip_field(data, pos, wire)
            yield field, wire, data[pos:npos]
            pos = npos


# ---------------------------------------------------------------------------
# term codec
# ---------------------------------------------------------------------------


def _encode_iri(term: dict) -> bytes:
    buf = io.BytesIO()
    _put_varint_field(buf, 1, term.get("pid"))
    _put_varint_field(buf, 2, term.get("nid"))
    return buf.getvalue()


def _encode_literal(term: dict) -> bytes:
    buf = io.BytesIO()
    _put_str_field(buf, 1, term.get("v"))
    _put_str_field(buf, 2, term.get("lang"))
    _put_varint_field(buf, 3, term.get("dt"))
    return buf.getvalue()


def _encode_statement(row: dict, quad: bool) -> bytes:
    buf = io.BytesIO()
    for pos_i, key in enumerate(("s", "p", "o")):
        term = row.get(key)
        if term is None:
            continue  # elided: same as previous statement
        base = pos_i * 4
        k = term["k"]
        if k == T_IRI:
            _put_msg_field(buf, base + 1, _encode_iri(term))
        elif k == T_BNODE:
            _put_bytes_field(buf, base + 2, (term.get("v") or "").encode("utf-8"))
        elif k == T_LITERAL:
            _put_msg_field(buf, base + 3, _encode_literal(term))
        elif k == T_QUOTED:
            _put_msg_field(buf, base + 4, _encode_statement(term, quad=False))
        else:
            raise ValueError(f"term kind {k} invalid in position {key}")
    if quad:
        g = row.get("g")
        if g is not None:
            k = g["k"]
            if k == T_IRI:
                _put_msg_field(buf, 13, _encode_iri(g))
            elif k == T_BNODE:
                _put_bytes_field(buf, 14, (g.get("v") or "").encode("utf-8"))
            elif k == T_DEFAULT_GRAPH:
                _put_msg_field(buf, 15, b"")
            elif k == T_LITERAL:
                _put_msg_field(buf, 16, _encode_literal(g))
            else:
                raise ValueError(f"term kind {k} invalid in graph position")
    return buf.getvalue()


# The three statement-path decoders walk bytes inline instead of going
# through the `_fields` generator: frame decode is the from-jelly hot
# loop, and the generator machinery (2M resumptions per sf0.1 batch) was
# ~60% of its profile. Tags and lengths take the single-byte fast path
# (minimal varints < 0x80 — every field here is <= 16, every message is
# small) with a read_varint fallback; unknown fields skip leniently,
# identical to `_fields`.


def _decode_iri(data: bytes) -> dict:
    pid = nid = 0
    pos, end = 0, len(data)
    while pos < end:
        tag = data[pos]
        pos += 1
        if tag & 0x80:
            tag, pos = read_varint(data, pos - 1)
        if tag == 0x08:  # field 1 varint: prefix_id
            v = data[pos]
            pos += 1
            if v & 0x80:
                v, pos = read_varint(data, pos - 1)
            pid = v
        elif tag == 0x10:  # field 2 varint: name_id
            v = data[pos]
            pos += 1
            if v & 0x80:
                v, pos = read_varint(data, pos - 1)
            nid = v
        else:
            pos = _skip_field(data, pos, tag & 7)
    return {"k": T_IRI, "pid": pid, "nid": nid}


def _decode_literal(data: bytes) -> dict:
    lex, lang, dt = "", None, 0
    pos, end = 0, len(data)
    while pos < end:
        tag = data[pos]
        pos += 1
        if tag & 0x80:
            tag, pos = read_varint(data, pos - 1)
        if tag == 0x0A or tag == 0x12:  # fields 1/2 bytes: lex / langtag
            n = data[pos]
            pos += 1
            if n & 0x80:
                n, pos = read_varint(data, pos - 1)
            s = data[pos : pos + n].decode("utf-8")
            pos += n
            if tag == 0x0A:
                lex = s
            else:
                lang = s
        elif tag == 0x18:  # field 3 varint: datatype_id
            v = data[pos]
            pos += 1
            if v & 0x80:
                v, pos = read_varint(data, pos - 1)
            dt = v
        else:
            pos = _skip_field(data, pos, tag & 7)
    return {"k": T_LITERAL, "v": lex, "lang": lang, "dt": dt}


def _decode_statement(data: bytes, quad: bool) -> dict:
    s = p = o = g = None
    pos, end = 0, len(data)
    while pos < end:
        tag = data[pos]
        pos += 1
        if tag & 0x80:
            tag, pos = read_varint(data, pos - 1)
        field, wire = tag >> 3, tag & 7
        if wire != 2:
            pos = _skip_field(data, pos, wire)
            continue
        n = data[pos]
        pos += 1
        if n & 0x80:
            n, pos = read_varint(data, pos - 1)
        v = data[pos : pos + n]
        pos += n
        if 1 <= field <= 12:
            sel = (field - 1) % 4
            if sel == 0:
                term = _decode_iri(v)
            elif sel == 1:
                term = {"k": T_BNODE, "v": v.decode("utf-8")}
            elif sel == 2:
                term = _decode_literal(v)
            else:
                sub = _decode_statement(v, quad=False)
                term = {"k": T_QUOTED, "s": sub["s"], "p": sub["p"], "o": sub["o"]}
            slot = (field - 1) // 4
            if slot == 0:
                s = term
            elif slot == 1:
                p = term
            else:
                o = term
        elif field == 13:
            g = _decode_iri(v)
        elif field == 14:
            g = {"k": T_BNODE, "v": v.decode("utf-8")}
        elif field == 15:
            g = {"k": T_DEFAULT_GRAPH}
        elif field == 16:
            g = _decode_literal(v)
    row = {"kind": K_QUAD if quad else K_TRIPLE, "s": s, "p": p, "o": o}
    if quad:
        row["g"] = g
    return row


# ---------------------------------------------------------------------------
# row codec
# ---------------------------------------------------------------------------


def encode_row(row: dict) -> bytes:
    kind = row["kind"]
    body = io.BytesIO()
    if kind == K_OPTIONS:
        _put_str_field(body, 1, row.get("stream_name"))
        _put_varint_field(body, 2, row.get("physical"))
        _put_varint_field(body, 3, 1 if row.get("generalized") else 0)
        _put_varint_field(body, 4, 1 if row.get("rdf_star") else 0)
        _put_varint_field(body, 9, row.get("max_name"))
        _put_varint_field(body, 10, row.get("max_prefix"))
        _put_varint_field(body, 11, row.get("max_dt"))
        _put_varint_field(body, 14, row.get("logical"))
        _put_varint_field(body, 15, row.get("version"))
    elif kind in (K_TRIPLE, K_QUAD):
        body.write(_encode_statement(row, quad=kind == K_QUAD))
    elif kind == K_GRAPH_START:
        g = row["g"]
        k = g["k"]
        if k == T_IRI:
            _put_msg_field(body, 1, _encode_iri(g))
        elif k == T_BNODE:
            _put_bytes_field(body, 2, (g.get("v") or "").encode("utf-8"))
        elif k == T_DEFAULT_GRAPH:
            _put_msg_field(body, 3, b"")
        elif k == T_LITERAL:
            _put_msg_field(body, 4, _encode_literal(g))
        else:
            raise ValueError(f"term kind {k} invalid in graph_start")
    elif kind == K_GRAPH_END:
        pass
    elif kind in (K_NAME, K_PREFIX, K_DATATYPE):
        _put_varint_field(body, 1, row.get("id"))
        _put_str_field(body, 2, row.get("value"))
    elif kind == K_NAMESPACE:
        _put_str_field(body, 1, row.get("name"))
        iri = row.get("iri") or {}
        _put_msg_field(body, 2, _encode_iri(iri))
    else:
        raise ValueError(f"unknown row kind {kind}")
    out = io.BytesIO()
    _put_msg_field(out, kind, body.getvalue())
    return out.getvalue()


def _decode_options(v: bytes) -> dict:
    row = {
        "kind": K_OPTIONS, "stream_name": "", "physical": 0,
        "generalized": False, "rdf_star": False, "logical": 0,
        "version": 0, "max_name": 0, "max_prefix": 0, "max_dt": 0,
    }
    for field, _fw, fv in _fields(v):
        if field == 1:
            row["stream_name"] = fv.decode("utf-8")
        elif field == 2:
            row["physical"] = fv
        elif field == 3:
            row["generalized"] = bool(fv)
        elif field == 4:
            row["rdf_star"] = bool(fv)
        elif field == 9:
            row["max_name"] = fv
        elif field == 10:
            row["max_prefix"] = fv
        elif field == 11:
            row["max_dt"] = fv
        elif field == 14:
            row["logical"] = fv
        elif field == 15:
            row["version"] = fv
    return row


def decode_row(data: bytes) -> dict:
    if not data:
        raise ValueError("empty RdfStreamRow")
    # inline first-field read (the oneof kind tag; every kind here is
    # <= 11 so the tag is one byte on conforming streams)
    tag = data[0]
    pos = 1
    if tag & 0x80:
        tag, pos = read_varint(data, 0)
    kind, wire = tag >> 3, tag & 7
    if wire == 2:
        n = data[pos]
        pos += 1
        if n & 0x80:
            n, pos = read_varint(data, pos - 1)
        v = data[pos : pos + n]
    else:
        v, _pos = (read_varint(data, pos) if wire == 0 else (data[pos:], pos))
    if kind in (K_TRIPLE, K_QUAD):
        return _decode_statement(v, quad=kind == K_QUAD)
    if kind == K_OPTIONS:
        return _decode_options(v)
    if kind == K_GRAPH_START:
        row = {"kind": K_GRAPH_START, "g": {"k": T_DEFAULT_GRAPH}}
        for field, _fw, fv in _fields(v):
            if field == 1:
                row["g"] = _decode_iri(fv)
            elif field == 2:
                row["g"] = {"k": T_BNODE, "v": fv.decode("utf-8")}
            elif field == 3:
                row["g"] = {"k": T_DEFAULT_GRAPH}
            elif field == 4:
                row["g"] = _decode_literal(fv)
        return row
    if kind == K_GRAPH_END:
        return {"kind": K_GRAPH_END}
    if kind in (K_NAME, K_PREFIX, K_DATATYPE):
        row = {"kind": kind, "id": 0, "value": ""}
        for field, _fw, fv in _fields(v):
            if field == 1:
                row["id"] = fv
            elif field == 2:
                row["value"] = fv.decode("utf-8")
        return row
    if kind == K_NAMESPACE:
        row = {"kind": K_NAMESPACE, "name": "", "iri": {"k": T_IRI, "pid": 0, "nid": 0}}
        for field, _fw, fv in _fields(v):
            if field == 1:
                row["name"] = fv.decode("utf-8")
            elif field == 2:
                row["iri"] = _decode_iri(fv)
        return row
    raise ValueError(f"unknown RdfStreamRow field {kind}")


# ---------------------------------------------------------------------------
# frame codec
# ---------------------------------------------------------------------------


def encode_frame(
    rows: Iterable[dict],
    metadata: "Iterable[tuple[str, bytes]] | dict[str, bytes] | None" = None,
) -> bytes:
    buf = io.BytesIO()
    for row in rows:
        # frame field 1 wraps each RdfStreamRow message (which itself
        # starts with its oneof kind tag)
        _put_bytes_field(buf, 1, encode_row(row))
    if metadata:
        # RdfStreamFrame.metadata: map<string, bytes> = field 15 (Jelly
        # v1.1 public proto); a protobuf map serializes as repeated
        # MetadataEntry { string key = 1; bytes value = 2; }
        items = metadata.items() if isinstance(metadata, dict) else metadata
        for k, v in items:
            entry = io.BytesIO()
            _put_bytes_field(entry, 1, k.encode("utf-8"))
            _put_bytes_field(entry, 2, bytes(v))
            _put_bytes_field(buf, 15, entry.getvalue())
    return buf.getvalue()


def decode_frame_metadata(data: bytes) -> list[tuple[str, bytes]]:
    """Frame-level metadata entries (field 15, Jelly v1.1), in wire
    order. Rows are NOT decoded — this is the cheap companion scan the
    inspect --per-frame metadata column uses (MetricsPrinter.scala:329
    prints the map hex-encoded; RdfInspectSpec 'print frame metadata in
    --per-frame')."""
    out: list[tuple[str, bytes]] = []
    for field, wire, v in _fields(data):
        if field != 15 or wire != 2:
            continue
        key, val = "", b""
        for ef, _ew, ev in _fields(v):
            if ef == 1:
                key = ev.decode("utf-8")
            elif ef == 2:
                val = bytes(ev)
        out.append((key, val))
    return out


def decode_frame(data: bytes) -> list[dict]:
    rows = []
    pos, end = 0, len(data)
    while pos < end:
        tag = data[pos]
        pos += 1
        if tag & 0x80:
            tag, pos = read_varint(data, pos - 1)
        if tag == 0x0A:  # field 1 wire 2: one RdfStreamRow
            n = data[pos]
            pos += 1
            if n & 0x80:
                n, pos = read_varint(data, pos - 1)
            rows.append(decode_row(data[pos : pos + n]))
            pos += n
        else:
            # any other frame field (e.g. v1.1 metadata) skips leniently
            pos = _skip_field(data, pos, tag & 7)
    return rows


def peek_options(data: bytes) -> list[dict]:
    """Options rows of one frame WITHOUT decoding statements: scan the
    frame's TLV structure, read only each row's oneof kind tag (one
    varint), and parse just the options bodies. O(rows) tag reads +
    O(options) parses — the W4 header-peek primitive, also backing the
    P4 physical-type guard so it never re-runs a full resolution pass."""
    out = []
    for field, wire, v in _fields(data):
        if field != 1 or wire != 2 or not v:
            continue
        tag, pos = read_varint(v, 0)
        if tag >> 3 == K_OPTIONS and tag & 7 == 2:
            ln, pos = read_varint(v, pos)
            out.append(_decode_options(v[pos:pos + ln]))
    return out


def split_delimited(data: bytes) -> tuple[bool, list[bytes]]:
    """File bytes → (delimited?, frame byte blobs). Autodetect per the
    reference (JellyUtil.scala:24-40): a non-delimited file starts with
    the frame's own first row tag 0x0A (field 1, wire 2); a delimited
    one starts with a varint frame length. 0x0A as the first byte of a
    delimited file would mean frame_len 10 followed by a row tag — the
    probe reproduces the upstream heuristic: first byte 0x0A ⇒
    non-delimited."""
    if not data:
        return True, []
    if data[0] == 0x0A:
        return False, [data]
    frames, pos = [], 0
    while pos < len(data):
        n, pos = read_varint(data, pos)
        frames.append(data[pos : pos + n])
        pos += n
    return True, frames


def read_frames(fh) -> Iterator[bytes]:
    """Frames of an open binary file, read one at a time, by the
    :func:`split_delimited` rule: a non-delimited file (first byte 0x0A)
    is one frame; a delimited one is a varint length, then that many
    bytes of frame. A length cut short by the end of the file ends the
    frames."""
    b = fh.read(1)
    if b == b"\x0a":
        yield b + fh.read()
        return
    while b:
        n = shift = 0
        while b and b[0] & 0x80:
            n |= (b[0] & 0x7F) << shift
            shift += 7
            b = fh.read(1)
        if not b:
            return
        yield fh.read(n | b[0] << shift)
        b = fh.read(1)


def write_delimited(frames: Iterable[bytes]) -> bytes:
    buf = io.BytesIO()
    for fb in frames:
        write_varint(buf, len(fb))
        buf.write(fb)
    return buf.getvalue()


# ---------------------------------------------------------------------------
# N-Triples-star rendering of resolved terms (for the "<< ... >>" quoted
# term surface used by the internal statement model)
# ---------------------------------------------------------------------------


def _escape(s: str) -> str:
    return (
        s.replace("\\", "\\\\")
        .replace('"', '\\"')
        .replace("\n", "\\n")
        .replace("\r", "\\r")
        .replace("\t", "\\t")
    )


def render_resolved_term(value, kind, dt=None, lang=None) -> str:
    """Resolved term → N-Triples-star source text (used for quoted-term
    sub-terms; top-level terms stay columnar)."""
    if kind == T_IRI:
        return f"<{value}>"
    if kind == T_BNODE:
        return f"_:{value}"
    if kind == T_QUOTED:
        return value  # already "<< ... >>" text
    lex = f'"{_escape(value or "")}"'
    if lang:
        return f"{lex}@{lang}"
    if dt:
        return f"{lex}^^<{dt}>"
    return lex


# ---------------------------------------------------------------------------
# stream resolver: raw row stream → fully-explicit, fully-resolved rows
# ---------------------------------------------------------------------------


class StreamError(ValueError):
    """A malformed or non-conformant Jelly stream."""


class StreamState:
    """Sequential state for ONE stream (= one segment / file), and the
    one place that holds the wire's sequencing rules: an implicit entry
    id is the table's previous id + 1; IRI name id 0 is the previous
    name id + 1; IRI prefix id 0 repeats the previous prefix id; an
    elided statement term repeats the previous statement's term; an
    options row resets the state (a new sub-stream — the
    concatenated-streams contract, RdfTranscodeSpec.scala:53).

    Feed rows in stream order to ONE of two walks, which share those
    rules: :meth:`resolve_row` (decode) joins ids through the tables
    into term tuples ``(value, kind, dt, lang)``, quoted triples
    rendered to ``"<< ... >>"`` text; :meth:`explicit_row` (transcode)
    stays at the id level and looks up no table.

    ``strict`` additionally enforces the declared table bounds
    (entry id must be within max size — the P8 conformance check).
    """

    # slots: faster attribute access, ~2% of resolve time
    __slots__ = (
        "strict", "options", "names", "prefixes", "datatypes", "tables",
        "last_entry", "last_iri_nid", "last_iri_pid", "prev_terms",
        "current_graph", "clock", "written", "set_at",
    )

    def __init__(self, strict: bool = False):
        self.strict = strict
        self._reset()

    def _reset(self) -> None:
        self.options: dict | None = None
        self.names: dict[int, str] = {}
        self.prefixes: dict[int, str] = {}
        self.datatypes: dict[int, str] = {}
        self.tables = {K_NAME: self.names, K_PREFIX: self.prefixes, K_DATATYPE: self.datatypes}
        self.last_entry = {K_NAME: 0, K_PREFIX: 0, K_DATATYPE: 0}
        self.last_iri_nid = 0
        self.last_iri_pid = 0
        self.prev_terms: dict[str, object] = {
            "s": None, "p": None, "o": None, "g": None
        }
        self.current_graph: tuple | None = None  # GRAPHS physical type
        # explicit walk only: statements seen, and the count when each
        # (kind, id) entry and each statement position was last written
        self.clock = 0
        self.written: dict[tuple[int, int], int] = {}
        self.set_at: dict[str, int] = {}

    # -- sequencing rules (shared by both walks) --------------------------

    def _start(self, row: dict) -> None:
        version = row.get("version") or 0
        if version > 2:
            raise StreamError(
                f"unsupported stream version {version} (this decoder "
                f"supports Jelly protocol versions 1-2)"
            )
        self._reset()
        self.options = row

    def _entry_id(self, kind: int, eid: int) -> int:
        last = self.last_entry
        eid = eid or last[kind] + 1
        last[kind] = eid
        if self.strict:
            key, label = _ENTRY_BOUND[kind]
            max_size = (self.options or {}).get(key) or 0
            if max_size and eid > max_size:
                raise StreamError(
                    f"{label} entry id {eid} exceeds declared table size {max_size}"
                )
        return eid

    def _iri_ids(self, term: dict) -> None:
        self.last_iri_nid = term.get("nid") or self.last_iri_nid + 1
        pid = term.get("pid")
        if pid:
            self.last_iri_pid = pid

    def _statement(self, row: dict, term_fn) -> dict:
        """Each present term through ``term_fn``, each elided one from
        the previous statement (unrolled: a loop cost 3-4% of resolve)."""
        kind = row["kind"]
        prev = self.prev_terms
        raw = row.get("s")
        s = prev["s"] = prev["s"] if raw is None else term_fn(raw)
        raw = row.get("p")
        p = prev["p"] = prev["p"] if raw is None else term_fn(raw)
        raw = row.get("o")
        o = prev["o"] = prev["o"] if raw is None else term_fn(raw)
        out = {"kind": kind, "s": s, "p": p, "o": o}
        g = s
        if kind == K_QUAD:
            raw = row.get("g")
            g = out["g"] = prev["g"] = prev["g"] if raw is None else term_fn(raw)
        if s is None or p is None or o is None or g is None:
            key = next(k for k, v in out.items() if v is None)
            raise StreamError(
                f"statement elides the {key} term with no previous statement"
            )
        return out

    # -- resolve walk -----------------------------------------------------

    def _resolve_term(self, term: dict) -> tuple:
        """raw term dict → (value, kind, dt, lang)."""
        k = term["k"]
        if k == T_IRI:
            self._iri_ids(term)
            local = self.names.get(self.last_iri_nid)
            if local is None:
                raise StreamError(f"IRI references undefined name id {self.last_iri_nid}")
            pid = self.last_iri_pid
            if pid:
                prefix = self.prefixes.get(pid)
                if prefix is None:
                    raise StreamError(f"IRI references undefined prefix id {pid}")
                return prefix + local, T_IRI, None, None
            return local, T_IRI, None, None
        if k == T_BNODE:
            return term.get("v") or "", T_BNODE, None, None
        if k == T_LITERAL:
            dt_id = term.get("dt")
            dt = self.datatypes.get(dt_id) if dt_id else None
            if dt_id and dt is None:
                raise StreamError(f"literal references undefined datatype id {dt_id}")
            return term.get("v") or "", T_LITERAL, dt, term.get("lang") or None
        if k == T_QUOTED:
            s, p, o = (
                render_resolved_term(*self._resolve_term(sub))
                for sub in _quoted_parts(term)
            )
            return f"<< {s} {p} {o} >>", T_QUOTED, None, None
        if k == T_DEFAULT_GRAPH:
            return None, T_DEFAULT_GRAPH, None, None
        raise StreamError(f"unknown term kind {k}")

    def resolve_row(self, row: dict) -> dict:
        """One raw row → resolved row dict: statements as {"kind",
        "s"|"p"|"o"|"g": (value, kind, dt, lang)}, GRAPHS-stream triples
        with "g" from the enclosing graph_start; entry, options and
        namespace rows pass through (namespace IRIs resolved)."""
        kind = row["kind"]
        if kind == K_TRIPLE or kind == K_QUAD:
            out = self._statement(row, self._resolve_term)
            if kind == K_TRIPLE and self.current_graph is not None:
                out["g"] = self.current_graph
            return out
        table = self.tables.get(kind)
        if table is not None:
            value = row["value"]
            eid = self._entry_id(kind, row["id"])
            table[eid] = value
            return {"kind": kind, "id": eid, "value": value}
        if kind == K_OPTIONS:
            self._start(row)
            return dict(row)
        if kind == K_GRAPH_START:
            g = self._resolve_term(row["g"])
            self.current_graph = g
            return {"kind": kind, "g": g}
        if kind == K_GRAPH_END:
            self.current_graph = None
            return {"kind": kind}
        if kind == K_NAMESPACE:
            iri = self._resolve_term(row.get("iri") or _IRI)[0]
            return {"kind": kind, "name": row.get("name") or "", "iri": iri}
        raise StreamError(f"unknown row kind {kind}")

    # -- explicit walk ----------------------------------------------------

    def _explicit_term(self, term: dict) -> dict:
        k = term["k"]
        if k == T_IRI:
            self._iri_ids(term)
            return {"k": k, "pid": self.last_iri_pid, "nid": self.last_iri_nid}
        if k == T_QUOTED:
            s, p, o = (self._explicit_term(sub) for sub in _quoted_parts(term))
            return {"k": k, "s": s, "p": p, "o": o}
        if k in (T_BNODE, T_LITERAL, T_DEFAULT_GRAPH):
            return term
        raise StreamError(f"unknown term kind {k}")

    def _overwritten(self, term: dict, since: int) -> bool:
        """Whether an entry the explicit ``term`` references was written
        at or after statement ``since``."""
        if term["k"] == T_QUOTED:
            return any(self._overwritten(term[x], since) for x in ("s", "p", "o"))
        refs = (
            ((K_NAME, term["nid"]), (K_PREFIX, term["pid"])) if term["k"] == T_IRI
            else ((K_DATATYPE, term.get("dt")),)
        )
        return any(self.written.get(r, -1) >= since for r in refs)

    def explicit_row(self, row: dict) -> dict:
        """One raw row → the same row with every id explicit and every
        elided term filled in. An IRI keeps prefix id 0 only where no
        earlier IRI of its sub-stream had a prefix; an elided term stays
        None when an entry it references was overwritten since it was
        written (its ids would name the new value)."""
        kind = row["kind"]
        if kind == K_TRIPLE or kind == K_QUAD:
            self.clock += 1
            out = self._statement(row, self._explicit_term)
            set_at = self.set_at
            for key in ("s", "p", "o", "g") if kind == K_QUAD else ("s", "p", "o"):
                if row.get(key) is not None:
                    set_at[key] = self.clock
                elif self._overwritten(out[key], set_at[key]):
                    out[key] = None
            return out
        if kind in _ENTRY_BOUND:
            eid = self._entry_id(kind, row["id"])
            self.written[kind, eid] = self.clock
            return {"kind": kind, "id": eid, "value": row["value"]}
        if kind == K_OPTIONS:
            self._start(row)
            return row
        if kind == K_GRAPH_START:
            return {"kind": kind, "g": self._explicit_term(row["g"])}
        if kind == K_GRAPH_END:
            return row
        if kind == K_NAMESPACE:
            return {**row, "iri": self._explicit_term(row.get("iri") or _IRI)}
        raise StreamError(f"unknown row kind {kind}")


_ENTRY_BOUND = {
    K_NAME: ("max_name", "name"),
    K_PREFIX: ("max_prefix", "prefix"),
    K_DATATYPE: ("max_dt", "datatype"),
}
_IRI = {"k": T_IRI}  # a namespace row's missing IRI: both ids implicit


def _quoted_parts(term: dict) -> tuple:
    parts = (term.get("s"), term.get("p"), term.get("o"))
    if None in parts:
        raise StreamError("quoted triple with elided term")
    return parts


# ---------------------------------------------------------------------------
# Jelly-text: protobuf TextFormat rendering of frames (the reference's
# jelly-text format — RdfFromJellySpec.scala:150-163 shows the expected
# output; RdfToJelly.scala:261-291 parses it back).
# ---------------------------------------------------------------------------

PHYSICAL_ENUM = {
    0: "PHYSICAL_STREAM_TYPE_UNSPECIFIED",
    1: "PHYSICAL_STREAM_TYPE_TRIPLES",
    2: "PHYSICAL_STREAM_TYPE_QUADS",
    3: "PHYSICAL_STREAM_TYPE_GRAPHS",
}
LOGICAL_ENUM = {
    0: "LOGICAL_STREAM_TYPE_UNSPECIFIED",
    1: "LOGICAL_STREAM_TYPE_FLAT_TRIPLES",
    2: "LOGICAL_STREAM_TYPE_FLAT_QUADS",
    3: "LOGICAL_STREAM_TYPE_GRAPHS",
    4: "LOGICAL_STREAM_TYPE_DATASETS",
}
_PHYSICAL_BY_NAME = {v: k for k, v in PHYSICAL_ENUM.items()}
_LOGICAL_BY_NAME = {v: k for k, v in LOGICAL_ENUM.items()}

_ROW_FIELD_NAMES = {
    K_OPTIONS: "options", K_TRIPLE: "triple", K_QUAD: "quad",
    K_GRAPH_START: "graph_start", K_GRAPH_END: "graph_end",
    K_NAMESPACE: "namespace", K_NAME: "name", K_PREFIX: "prefix",
    K_DATATYPE: "datatype",
}
_ROW_KIND_BY_NAME = {v: k for k, v in _ROW_FIELD_NAMES.items()}


def _text_quote(s: str) -> str:
    out = []
    for ch in s:
        if ch == "\\":
            out.append("\\\\")
        elif ch == '"':
            out.append('\\"')
        elif ch == "\n":
            out.append("\\n")
        elif ch == "\r":
            out.append("\\r")
        elif ch == "\t":
            out.append("\\t")
        else:
            out.append(ch)
    return '"' + "".join(out) + '"'


def _emit_term(lines, pos, term, indent):
    pad = "  " * indent
    k = term["k"]
    if k == T_IRI:
        lines.append(f"{pad}{pos}_iri {{")
        if term.get("pid"):
            lines.append(f"{pad}  prefix_id: {term['pid']}")
        if term.get("nid"):
            lines.append(f"{pad}  name_id: {term['nid']}")
        lines.append(f"{pad}}}")
    elif k == T_BNODE:
        lines.append(f"{pad}{pos}_bnode: {_text_quote(term.get('v') or '')}")
    elif k == T_LITERAL:
        lines.append(f"{pad}{pos}_literal {{")
        if term.get("v"):
            lines.append(f"{pad}  lex: {_text_quote(term['v'])}")
        if term.get("lang"):
            lines.append(f"{pad}  langtag: {_text_quote(term['lang'])}")
        if term.get("dt"):
            lines.append(f"{pad}  datatype: {term['dt']}")
        lines.append(f"{pad}}}")
    elif k == T_QUOTED:
        lines.append(f"{pad}{pos}_triple_term {{")
        for sub_pos, key in (("s", "s"), ("p", "p"), ("o", "o")):
            if term.get(key) is not None:
                _emit_term(lines, sub_pos, term[key], indent + 1)
        lines.append(f"{pad}}}")
    elif k == T_DEFAULT_GRAPH:
        lines.append(f"{pad}{pos}_default_graph {{")
        lines.append(f"{pad}}}")
    else:
        raise ValueError(f"term kind {k} not renderable")


def render_row_text(row: dict) -> str:
    """One row dict → a multi-line `rows { ... }` TextFormat block
    (2-space indent, same shape the reference's printer emits)."""
    kind = row["kind"]
    lines = ["rows {", f"  {_ROW_FIELD_NAMES[kind]} {{"]
    if kind == K_OPTIONS:
        if row.get("stream_name"):
            lines.append(f"    stream_name: {_text_quote(row['stream_name'])}")
        if row.get("physical"):
            lines.append(
                f"    physical_type: "
                f"{PHYSICAL_ENUM.get(row['physical'], row['physical'])}"
            )
        if row.get("generalized"):
            lines.append("    generalized_statements: true")
        if row.get("rdf_star"):
            lines.append("    rdf_star: true")
        if row.get("max_name"):
            lines.append(f"    max_name_table_size: {row['max_name']}")
        if row.get("max_prefix"):
            lines.append(f"    max_prefix_table_size: {row['max_prefix']}")
        if row.get("max_dt"):
            lines.append(f"    max_datatype_table_size: {row['max_dt']}")
        if row.get("logical"):
            lines.append(
                f"    logical_type: "
                f"{LOGICAL_ENUM.get(row['logical'], row['logical'])}"
            )
        if row.get("version"):
            lines.append(f"    version: {row['version']}")
    elif kind in (K_TRIPLE, K_QUAD):
        for pos in ("s", "p", "o", "g"):
            term = row.get(pos)
            if term is not None:
                _emit_term(lines, pos, term, 2)
    elif kind == K_GRAPH_START:
        _emit_term(lines, "g", row["g"], 2)
    elif kind == K_GRAPH_END:
        pass
    elif kind in (K_NAME, K_PREFIX, K_DATATYPE):
        if row.get("id"):
            lines.append(f"    id: {row['id']}")
        if row.get("value"):
            lines.append(f"    value: {_text_quote(row['value'])}")
    elif kind == K_NAMESPACE:
        if row.get("name"):
            lines.append(f"    name: {_text_quote(row['name'])}")
        iri = row.get("iri") or {}
        lines.append("    value {")
        if iri.get("pid"):
            lines.append(f"      prefix_id: {iri['pid']}")
        if iri.get("nid"):
            lines.append(f"      name_id: {iri['nid']}")
        lines.append("    }")
    lines.append("  }")
    lines.append("}")
    return "\n".join(lines)


def render_frame_text(rows: Iterable[dict]) -> str:
    return "\n".join(render_row_text(r) for r in rows)


# --- TextFormat subset parser ---------------------------------------------

# tokens of hand-wrapped input, for _relay_text: strings (escape-aware),
# punct, comments, atoms; whitespace is never matched, so findall
# skips it
_TOKEN_RX = re.compile(
    r'"(?:\\.|[^"\\])*"'      # string literal, escapes opaque here
    r"|[{}:]"                  # punctuation
    r"|#[^\n]*"                # comment (dropped below)
    r'|[^ \t\r\n{}:#"]+'       # atom (field name / number / enum)
)
_ESC_RX = re.compile(r"\\(x[0-9A-Fa-f]{2}|u[0-9A-Fa-f]{4}|[0-7]{1,3}|.)", re.S)
_ESC_ONE = {
    "n": "\n", "r": "\r", "t": "\t", "v": "\v", "a": "\a", "b": "\b",
    "f": "\f",
}


def _esc_sub(m: "re.Match[str]") -> str:
    e = m.group(1)
    if e[0] == "x":
        return chr(int(e[1:], 16))
    if e[0] == "u":
        return chr(int(e[1:], 16))
    if e[0] in "01234567":
        return chr(int(e, 8))
    return _ESC_ONE.get(e, e)


def _unquote_text(tok: str) -> str:
    raw = _ESC_RX.sub(_esc_sub, tok[1:-1])
    # TextFormat escapes non-ASCII as per-BYTE octal: re-decode
    try:
        return raw.encode("latin-1").decode("utf-8")
    except (UnicodeEncodeError, UnicodeDecodeError):
        return raw


_ENUM_BY_NAME = {**_PHYSICAL_BY_NAME, **_LOGICAL_BY_NAME}


def _term_from_msg(prefix: str, msg: dict) -> dict | None:
    m = msg.get(prefix + "_iri")
    if m is not None:
        return {"k": T_IRI, "pid": m.get("prefix_id", 0), "nid": m.get("name_id", 0)}
    v = msg.get(prefix + "_bnode")
    if v is not None:
        return {"k": T_BNODE, "v": v}
    m = msg.get(prefix + "_literal")
    if m is not None:
        return {
            "k": T_LITERAL, "v": m.get("lex", ""),
            "lang": m.get("langtag"), "dt": m.get("datatype", 0),
        }
    m = msg.get(prefix + "_triple_term")
    if m is not None:
        return {
            "k": T_QUOTED,
            "s": _term_from_msg("s", m),
            "p": _term_from_msg("p", m),
            "o": _term_from_msg("o", m),
        }
    if prefix + "_default_graph" in msg:
        return {"k": T_DEFAULT_GRAPH}
    return None


def parse_row_text_msg(name: str, msg: dict) -> dict:
    kind = _ROW_KIND_BY_NAME[name]
    if kind in (K_TRIPLE, K_QUAD):
        row = {
            "kind": kind,
            "s": _term_from_msg("s", msg),
            "p": _term_from_msg("p", msg),
            "o": _term_from_msg("o", msg),
        }
        if kind == K_QUAD:
            row["g"] = _term_from_msg("g", msg)
        return row
    if kind in (K_NAME, K_PREFIX, K_DATATYPE):
        return {"kind": kind, "id": msg.get("id", 0), "value": msg.get("value", "")}
    if kind == K_OPTIONS:
        return {
            "kind": kind,
            "stream_name": msg.get("stream_name", ""),
            "physical": msg.get("physical_type", 0),
            "generalized": bool(msg.get("generalized_statements", False)),
            "rdf_star": bool(msg.get("rdf_star", False)),
            "max_name": msg.get("max_name_table_size", 0),
            "max_prefix": msg.get("max_prefix_table_size", 0),
            "max_dt": msg.get("max_datatype_table_size", 0),
            "logical": msg.get("logical_type", 0),
            "version": msg.get("version", 0),
        }
    if kind == K_GRAPH_START:
        return {"kind": kind, "g": _term_from_msg("g", msg) or {"k": T_DEFAULT_GRAPH}}
    if kind == K_GRAPH_END:
        return {"kind": kind}
    if kind == K_NAMESPACE:
        m = msg.get("value") or {}
        return {
            "kind": kind, "name": msg.get("name", ""),
            "iri": {"k": T_IRI, "pid": m.get("prefix_id", 0), "nid": m.get("name_id", 0)},
        }
    raise ValueError(f"unknown row field {name}")


def _scalar_value(v: str):
    """Scalar TextFormat value text → python value. Check order =
    observed frequency: table/term ids (ints), then strings, then
    bools/enum names."""
    c = v[0]
    if c == '"':
        return _unquote_text(v) if "\\" in v else v[1:-1]
    if c.isdigit() or c == "-":
        try:
            return int(v)
        except ValueError:
            return v
    if v == "true":
        return True
    if v == "false":
        return False
    ev = _ENUM_BY_NAME.get(v)
    if ev is not None:
        return ev
    return v


def _parse_frame_text_lines(text: str) -> list[dict]:
    """Line-oriented fast path: TextFormat *printers* (this repo's and
    protobuf's reference one, which the jelly-cli printer wraps) emit
    exactly one field per line — `name: value`, `name [:] {`, or `}` —
    so splitting on newlines replaces the regex tokenizer wholesale
    (the tokenizer alone was ~9 us/row, a third of the r4 parse cost).
    Raises ValueError on any line that breaks the shape; the caller
    re-lays hand-wrapped input and parses it again."""
    rows: list[dict] = []
    stack: list[dict] = []
    cur: dict | None = None
    for raw in text.split("\n"):
        line = raw.strip()
        if not line:
            continue
        c0 = line[0]
        if c0 == "#":
            continue
        if c0 == "}":
            if line != "}" or not stack:
                raise ValueError(f"unbalanced or trailing tokens: {line!r}")
            top = stack.pop()
            if not stack:
                # a rows wrapper closed: exactly one row field inside
                if len(top) != 1:
                    raise ValueError(f"rows block with {len(top)} fields")
                (name, body), = top.items()
                rows.append(parse_row_text_msg(name, body))
                cur = None
            else:
                cur = stack[-1]
            continue
        if line[-1] == "{" and '"' not in line:
            name = line[:-1].strip()
            if name and name[-1] == ":":  # optional colon before a block
                name = name[:-1].rstrip()
            new: dict = {}
            if cur is None:
                if name != "rows":
                    raise ValueError(f"expected 'rows' block, got {name!r}")
            else:
                cur[name] = new
            stack.append(new)
            cur = new
            continue
        i = line.find(":")
        if i <= 0 or cur is None:
            raise ValueError(f"not a field line: {line!r}")
        key = line[:i].rstrip()
        v = line[i + 1 :].lstrip()
        # a one-line submessage ("s_iri { name_id: 5 }") is NOT the
        # printer shape: the key or an unquoted value would carry
        # braces/spaces — raise so the input is re-laid instead of
        # silently storing a bogus scalar under a bogus key
        if not key.replace("_", "").isalnum():
            raise ValueError(f"not a field line: {line!r}")
        if not v or (v[0] == '"' and (len(v) < 2 or v[-1] != '"')):
            raise ValueError(f"unsupported value layout: {line!r}")
        if v[0] != '"' and ("{" in v or "}" in v):
            raise ValueError(f"unsupported value layout: {line!r}")
        cur[key] = _scalar_value(v)
    if stack:
        raise ValueError("truncated or unbalanced jelly-text input")
    return rows


def _relay_text(text: str) -> str:
    """Hand-wrapped TextFormat (several fields on a line, one-line
    submessages, ``name: {`` blocks) → the printer's one-field-per-line
    shape, rebuilt from the tokens."""
    toks = [t for t in _TOKEN_RX.findall(text) if t[0] != "#"]
    lines = []
    i, n = 0, len(toks)
    while i < n:
        t = toks[i]
        if t == "}":
            lines.append(t)
            i += 1
            continue
        nxt = toks[i + 1] if i + 1 < n else None
        if t in "{:" or nxt not in ("{", ":") or (nxt == ":" and i + 2 == n):
            raise ValueError("truncated or unbalanced jelly-text input")
        if nxt == ":" and toks[i + 2] != "{":
            lines.append(f"{t}: {toks[i + 2]}")
            i += 3
        else:  # a block, with or without the optional colon
            lines.append(f"{t} {{")
            i += 2 if nxt == "{" else 3
    return "\n".join(lines)


def parse_frame_text(text: str) -> list[dict]:
    """TextFormat frame text (one or more `rows { ... }` blocks, comments
    allowed) → row dicts. Printer-shaped input parses line by line;
    anything else is first re-laid into that shape by
    :func:`_relay_text`. Each row dict is built in place, with no
    intermediate message tree."""
    try:
        return _parse_frame_text_lines(text)
    except ValueError:
        return _parse_frame_text_lines(_relay_text(text))


def resolve_frames(
    frame_blobs: Iterable[bytes], strict: bool = False
) -> Iterator[tuple[int, int, dict]]:
    """Sequential full decode of one stream's frames, in order: yields
    (frame_index, row_pos, resolved_row). This is the foreign-stream
    path (real jelly-cli output, the golden fixtures); streams produced
    by this repo's encoder are already fully explicit, for which the
    resolver's state tracking is a cheap passthrough."""
    state = StreamState(strict=strict)
    for frame_index, blob in enumerate(frame_blobs):
        for row_pos, row in enumerate(decode_frame(bytes(blob))):
            yield frame_index, row_pos, state.resolve_row(row)


# ---------------------------------------------------------------------------
# inspect statistics (rows-free tag-walks for rdf inspect)
# ---------------------------------------------------------------------------

_ROW_KIND_STAT = {
    K_OPTIONS: "option", K_TRIPLE: "triple", K_QUAD: "quad",
    K_GRAPH_START: "graph_start", K_GRAPH_END: "graph_end",
    K_NAMESPACE: "namespace", K_NAME: "name", K_PREFIX: "prefix",
    K_DATATYPE: "datatype",
}
STAT_NAMES = ("frame", "row") + tuple(_ROW_KIND_STAT.values())
_ROW_KIND_INDEX = {k: i + 2 for i, k in enumerate(_ROW_KIND_STAT)}


def _varint_size(v: int) -> int:
    n = 1
    while v >= 0x80:
        v >>= 7
        n += 1
    return n


def frame_stats(data: bytes) -> tuple[list, list]:
    """Both statistics of the reference's inspect printer for one frame
    (MetricsPrinter FrameInfo: CountStatistic measures 1 per message,
    SizeStatistic measures getSerializedSize) as (counts, sizes) in
    ``STAT_NAMES`` order: frame = the frame itself, row = each row
    message, per-kind = each row BODY. A pure tag-walk — no terms
    decoded, no dictionary state — so an empty frame still counts as a
    frame, an empty row message is skipped, and a row of unknown kind
    counts as a row of no kind."""
    count = [0] * len(STAT_NAMES)
    size = [0] * len(STAT_NAMES)
    count[0], size[0] = 1, len(data)
    for field, wire, v in _fields(data):
        if field != 1 or wire != 2 or not v:
            continue
        count[1] += 1
        size[1] += len(v)
        tag, pos = read_varint(v, 0)
        i = _ROW_KIND_INDEX.get(tag >> 3)
        if i is None or tag & 7 != 2:
            continue
        count[i] += 1
        size[i] += read_varint(v, pos)[0]
    return count, size


_GRAPH_TERM_KIND = {13: "iri", 14: "bnode", 15: "default_graph", 16: "literal"}


def frame_term_sizes(data: bytes) -> list:
    """(term_pos, node_kind, size) per statement term in the frame —
    the reference's detailed SizeStatistic (NodeDetailInfo.handle with
    measure = getSerializedSize for messages, computeStringSizeNoTag
    for bnode strings, i.e. varint(len)+len). Quoted-triple terms count
    as one 'triple' node of the embedded message's size, not recursed —
    exactly the reference's behavior. GraphStart terms are not detail
    terms (only triple/quad rows feed NodeDetailInfo). The walk yields
    explicitly-encoded terms only, so the count statistic of a
    (position, kind) pair is the number of tuples yielded for it."""
    out: list = []
    for field, wire, v in _fields(data):
        if field != 1 or wire != 2 or not v:
            continue
        tag, pos = read_varint(v, 0)
        kind = tag >> 3
        if kind not in (K_TRIPLE, K_QUAD) or tag & 7 != 2:
            continue
        ln, pos = read_varint(v, pos)
        for tf, tw, tv in _fields(v[pos : pos + ln]):
            if tw != 2:
                continue
            if 1 <= tf <= 12:
                pos_label = ("subject", "predicate", "object")[(tf - 1) // 4]
                sel = (tf - 1) % 4
                kind_label = ("iri", "bnode", "literal", "triple")[sel]
                size = len(tv) + _varint_size(len(tv)) if sel == 1 else len(tv)
                out.append((pos_label, kind_label, size))
            elif 13 <= tf <= 16:
                kind_label = _GRAPH_TERM_KIND[tf]
                size = (
                    len(tv) + _varint_size(len(tv)) if tf == 14 else len(tv)
                )
                out.append(("graph", kind_label, size))
    return out
