"""RDF/XML reader + writer (SURVEY.md §2.1 S4; reference format
registry RdfFormat.scala:63-68 — Jena's RDFXML, triples-only,
batch-writeable; format sweep RdfToJellySpec.scala:537-615).

Supported subset (documented — the reference delegates all RDF/XML
processing to Jena ARP): ``rdf:RDF`` root (or a bare node element),
``rdf:Description`` and typed node elements, ``rdf:about`` /
``rdf:nodeID`` / ``rdf:ID``, ``rdf:resource`` object references,
text-literal property elements with ``rdf:datatype`` / ``xml:lang``
(inherited from ancestors), nested node elements, property attributes,
``rdf:parseType="Resource"`` and ``="Collection"`` and ``="Literal"``
(XML-literal text serialized verbatim), ``rdf:li`` membership
renumbering, reification via ``rdf:ID`` on property elements,
``xml:base`` / CLI ``--base`` resolution, and internal-subset DOCTYPE
``<!ENTITY>`` expansion (bounded; external/SYSTEM/PUBLIC entities,
parameter entities, and expansion bombs raise typed errors — the XXE
rejection stays).

Design for Spark's execution model (same axes as the Turtle and
JSON-LD readers):

- **Reader** is file-parallel: an XML document is one parse unit
  (``binaryFile`` + ``mapInPandas``, one task per file); the 100 TB
  parallelism axis is the corpus of millions of documents, not bytes
  within one document. The per-document parser is stdlib
  ``xml.etree`` — pure Python is fine here because documents are the
  unit of distribution, exactly like the reference's one-Jena-model-
  per-file reads.
- **Writer** is fully columnar — zero Python in the row path. Each
  property element carries its namespace inline
  (``<n:local xmlns:n="...">``), so no driver-side namespace
  collection pass is needed; subjects group with ONE hash aggregation
  (``collect_list`` per subject); XML escaping is a JVM-side
  ``replace`` chain. The rdf:RDF envelope rides as header/footer sort
  keys in the same single text write, like the Turtle @prefix block.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .nquads import KIND_BNODE, KIND_IRI, KIND_LITERAL, KIND_QUOTED, TRIPLE_COLS
from .turtle import RDF_FIRST, RDF_NIL, RDF_REST, RDF_TYPE, standalone_parts

if TYPE_CHECKING:
    import pandas as pd

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XML_NS = "http://www.w3.org/XML/1998/namespace"
XML_LITERAL = RDF_NS + "XMLLiteral"
_RDF = "{" + RDF_NS + "}"
_XML = "{" + XML_NS + "}"

# Node-element attributes that are syntax, not property attributes
# (W3C rdf-syntax-grammar §7.2.7; Jena ARP accepts the same set).
_SYNTAX_ATTRS = {
    _RDF + "about", _RDF + "nodeID", _RDF + "ID", _RDF + "parseType",
    _RDF + "resource", _RDF + "datatype", _XML + "lang", _XML + "base",
}

_STMT = (RDF_NS + "Statement", RDF_NS + "subject", RDF_NS + "predicate",
         RDF_NS + "object")


class RdfXmlUnsupportedError(ValueError):
    """Typed error for documents outside the supported subset."""


def _expand(tag: str) -> str:
    """ElementTree '{ns}local' → full IRI ns+local."""
    if tag.startswith("{"):
        ns, local = tag[1:].split("}", 1)
        return ns + local
    return tag


_DOCTYPE_RX = re.compile(r"<!DOCTYPE\s+([^\[>]*)(\[.*?\])?\s*>", re.S)
_ENTITY_RX = re.compile(
    r"<!ENTITY\s+(%?)\s*([A-Za-z_][\w.\-]*)\s+"
    r"(?:\"([^\"]*)\"|'([^']*)'|(SYSTEM|PUBLIC)[^>]*)>",
    re.S,
)
_PREDEFINED = {"amp", "lt", "gt", "quot", "apos"}
_MAX_EXPANSION = 10_000_000  # bytes; also capped at 10× the input


def _expand_internal_entities(text: str) -> str:
    """Expand internal-subset ``<!ENTITY name "value">`` declarations and
    strip the DOCTYPE (the Jena-ARP-compatible subset). External
    entities (SYSTEM/PUBLIC, in the DOCTYPE head or any entity),
    parameter entities, and expansion blow-ups raise typed errors —
    untrusted corpus content never reaches expat's DTD machinery."""
    m = _DOCTYPE_RX.search(text)
    if not m:
        raise RdfXmlUnsupportedError("malformed DOCTYPE declaration")
    head, subset = m.group(1) or "", m.group(2) or ""
    if re.search(r"\b(SYSTEM|PUBLIC)\b", head):
        raise RdfXmlUnsupportedError(
            "external DTD subsets (SYSTEM/PUBLIC) are not supported "
            "(XXE rejection; only the internal entity subset expands)"
        )
    entities: dict[str, str] = {}
    for pct, name, dq, sq, ext in _ENTITY_RX.findall(subset):
        if pct:
            raise RdfXmlUnsupportedError("parameter entities are not supported")
        if ext:
            raise RdfXmlUnsupportedError(
                f"external entity '{name}' is not supported (XXE rejection)"
            )
        entities[name] = dq if dq else sq
    # nested entity values: bounded fixpoint, then one pass over the doc
    limit = min(_MAX_EXPANSION, max(65536, 10 * len(text)))

    def sub_known(s: str) -> str:
        return re.sub(
            r"&([A-Za-z_][\w.\-]*);",
            lambda mm: entities.get(mm.group(1), mm.group(0))
            if mm.group(1) not in _PREDEFINED
            else mm.group(0),
            s,
        )

    for _ in range(3):
        expanded = {k: sub_known(v) for k, v in entities.items()}
        if expanded == entities:
            break
        entities = expanded
        if sum(len(v) for v in entities.values()) > limit:
            raise RdfXmlUnsupportedError(
                "entity expansion exceeds the safety bound"
            )
    else:
        if any(re.search(r"&[A-Za-z_][\w.\-]*;", v) and sub_known(v) != v
               for v in entities.values()):
            raise RdfXmlUnsupportedError(
                "entity definitions nest deeper than the supported bound"
            )
    body = text[: m.start()] + text[m.end():]
    out = sub_known(body)
    if len(out) > limit:
        raise RdfXmlUnsupportedError("entity expansion exceeds the safety bound")
    return out


class _RdfXmlReader:
    """One instance per document (fresh-bnode and rdf:li counters are
    document-scoped, per the W3C grammar)."""

    def __init__(self, base: str | None):
        self.rows: list[tuple] = []
        self._genid = 0
        self._base = base

    def _fresh(self) -> str:
        self._genid += 1
        return f"genid-rx-{self._genid}"

    def _emit(self, s, s_kind, p, o_val, o_kind, dt=None, lang=None):
        self.rows.append(
            (s, s_kind, p, KIND_IRI, o_val, o_kind, dt, lang, None, None)
        )

    def _resolve(self, iri: str, base: str | None) -> str:
        """Relative-reference resolution, same rule as the Turtle
        reader (turtle.py:142-145): absolute IRIs pass through."""
        if base is None or re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*:", iri):
            return iri
        from urllib.parse import urljoin

        return urljoin(base, iri)

    def parse(self, text: str) -> list[tuple]:
        import xml.etree.ElementTree as ET

        # Bounded internal-subset DOCTYPE support: inline <!ENTITY n "v">
        # declarations expand (Jena ARP behavior for the common
        # prefix-abbreviation idiom); everything dangerous stays rejected
        # — external/SYSTEM/PUBLIC entities (XXE) and expansion blow-ups
        # (billion-laughs) raise typed errors instead of reaching expat.
        if re.search(r"<!DOCTYPE", text[:4096]):
            text = _expand_internal_entities(text)
        try:
            root = ET.fromstring(text)
        except ET.ParseError as e:
            raise RdfXmlUnsupportedError(f"not well-formed XML: {e}") from e
        base = self._effective_base(root, self._base)
        if root.tag == _RDF + "RDF":
            for child in root:
                self._node_element(child, base, root.get(_XML + "lang"))
        else:
            self._node_element(root, base, None)
        return self.rows

    def _effective_base(self, elem, inherited: str | None) -> str | None:
        xb = elem.get(_XML + "base")
        if xb is None:
            return inherited
        # xml:base itself resolves against the inherited base
        return self._resolve(xb, inherited) if inherited else xb

    def _subject_of(self, elem, base) -> tuple[str, int]:
        about = elem.get(_RDF + "about")
        node_id = elem.get(_RDF + "nodeID")
        rid = elem.get(_RDF + "ID")
        if sum(x is not None for x in (about, node_id, rid)) > 1:
            raise RdfXmlUnsupportedError(
                "at most one of rdf:about / rdf:nodeID / rdf:ID allowed "
                "on a node element"
            )
        if about is not None:
            return self._resolve(about, base), KIND_IRI
        if node_id is not None:
            return node_id, KIND_BNODE
        if rid is not None:
            return self._resolve("#" + rid, base), KIND_IRI
        return self._fresh(), KIND_BNODE

    def _node_element(self, elem, base, lang) -> tuple[str, int]:
        base = self._effective_base(elem, base)
        lang = elem.get(_XML + "lang", lang)
        s, s_kind = self._subject_of(elem, base)
        type_iri = _expand(elem.tag)
        if type_iri != RDF_NS + "Description":
            self._emit(s, s_kind, RDF_TYPE, type_iri, KIND_IRI)
        # property attributes (rdf-syntax-grammar §2.12)
        for attr, val in elem.attrib.items():
            if attr in _SYNTAX_ATTRS or attr.startswith(_XML):
                continue
            p = _expand(attr)
            if p == RDF_TYPE:
                self._emit(s, s_kind, p, self._resolve(val, base), KIND_IRI)
            else:
                self._emit(s, s_kind, p, val, KIND_LITERAL, None, lang)
        li = 0
        for prop in elem:
            li = self._property_element(s, s_kind, prop, base, lang, li)
        return s, s_kind

    def _property_element(self, s, s_kind, prop, base, lang, li) -> int:
        base = self._effective_base(prop, base)
        lang = prop.get(_XML + "lang", lang)
        p = _expand(prop.tag)
        if p == RDF_NS + "li":  # container membership renumbering
            li += 1
            p = f"{RDF_NS}_{li}"
        reify_id = prop.get(_RDF + "ID")
        parse_type = prop.get(_RDF + "parseType")
        resource = prop.get(_RDF + "resource")
        node_id = prop.get(_RDF + "nodeID")
        datatype = prop.get(_RDF + "datatype")
        children = list(prop)

        if parse_type == "Resource":
            # implicit blank node with the children as its properties
            b = self._fresh()
            self._emit(s, s_kind, p, b, KIND_BNODE)
            inner_li = 0
            for child in children:
                inner_li = self._property_element(
                    b, KIND_BNODE, child, base, lang, inner_li
                )
            o_val, o_kind, dt, ol = b, KIND_BNODE, None, None
        elif parse_type == "Collection":
            nodes = [self._fresh() for _ in children]
            for i, (cell, child) in enumerate(zip(nodes, children)):
                item, item_kind = self._node_element(child, base, lang)
                self._emit(cell, KIND_BNODE, RDF_FIRST, item, item_kind)
                if i + 1 < len(nodes):
                    self._emit(cell, KIND_BNODE, RDF_REST, nodes[i + 1],
                               KIND_BNODE)
                else:
                    self._emit(cell, KIND_BNODE, RDF_REST, RDF_NIL, KIND_IRI)
            head = nodes[0] if nodes else RDF_NIL
            head_kind = KIND_BNODE if nodes else KIND_IRI
            self._emit(s, s_kind, p, head, head_kind)
            o_val, o_kind, dt, ol = head, head_kind, None, None
        elif parse_type == "Literal":
            import xml.etree.ElementTree as ET

            text = (prop.text or "") + "".join(
                ET.tostring(c, encoding="unicode") for c in children
            )
            self._emit(s, s_kind, p, text, KIND_LITERAL, XML_LITERAL)
            o_val, o_kind, dt, ol = text, KIND_LITERAL, XML_LITERAL, None
        elif parse_type is not None:
            raise RdfXmlUnsupportedError(
                f"unsupported rdf:parseType {parse_type!r}"
            )
        elif resource is not None:
            o_val = self._resolve(resource, base)
            self._emit(s, s_kind, p, o_val, KIND_IRI)
            # property attributes on an empty property element describe
            # the object (rdf-syntax-grammar §2.13)
            self._object_attrs(prop, o_val, KIND_IRI, base, lang)
            o_kind, dt, ol = KIND_IRI, None, None
        elif node_id is not None:
            self._emit(s, s_kind, p, node_id, KIND_BNODE)
            self._object_attrs(prop, node_id, KIND_BNODE, base, lang)
            o_val, o_kind, dt, ol = node_id, KIND_BNODE, None, None
        elif children:
            if len(children) != 1:
                raise RdfXmlUnsupportedError(
                    "a property element holds at most one node element"
                )
            o_val, o_kind = self._node_element(children[0], base, lang)
            self._emit(s, s_kind, p, o_val, o_kind)
            dt, ol = None, None
        else:
            text = prop.text or ""
            prop_attrs = [
                a for a in prop.attrib
                if a not in _SYNTAX_ATTRS and not a.startswith(_XML)
            ]
            if prop_attrs and not text.strip():
                # empty property element with property attributes:
                # implicit blank-node object (§2.13)
                b = self._fresh()
                self._emit(s, s_kind, p, b, KIND_BNODE)
                self._object_attrs(prop, b, KIND_BNODE, base, lang)
                o_val, o_kind, dt, ol = b, KIND_BNODE, None, None
            else:
                dt = self._resolve(datatype, base) if datatype else None
                ol = None if dt else lang
                self._emit(s, s_kind, p, text, KIND_LITERAL, dt, ol)
                o_val, o_kind = text, KIND_LITERAL
        if reify_id is not None:  # reification (§2.17)
            r = self._resolve("#" + reify_id, base)
            self._emit(r, KIND_IRI, RDF_TYPE, _STMT[0], KIND_IRI)
            self._emit(r, KIND_IRI, _STMT[1], s, s_kind)
            self._emit(r, KIND_IRI, _STMT[2], p, KIND_IRI)
            self._emit(r, KIND_IRI, _STMT[3], o_val, o_kind, dt, ol)
        return li

    def _object_attrs(self, prop, o, o_kind, base, lang):
        for attr, val in prop.attrib.items():
            if attr in _SYNTAX_ATTRS or attr.startswith(_XML):
                continue
            pa = _expand(attr)
            if pa == RDF_TYPE:
                self._emit(o, o_kind, pa, self._resolve(val, base), KIND_IRI)
            else:
                self._emit(o, o_kind, pa, val, KIND_LITERAL, None, lang)


def parse_rdfxml_document(text: str, base: str | None = None) -> list[tuple]:
    """One RDF/XML document → rows in nquads.TRIPLE_COLS order."""
    return _RdfXmlReader(base).parse(text)


def read_rdfxml(
    spark: SparkSession, path: str, base: str | None = None
) -> DataFrame:
    """RDF/XML files → term-model triples, one task per FILE (the
    scalable unit, same as the Turtle and JSON-LD readers)."""
    raw = spark.read.format("binaryFile").load(path).select("content")
    schema = (
        "subj string, subj_kind int, pred string, pred_kind int, "
        "obj string, obj_kind int, obj_datatype string, obj_lang string, "
        "graph string, graph_kind int"
    )

    def parse(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            rows: list[tuple] = []
            for content in pdf["content"]:
                rows.extend(
                    parse_rdfxml_document(bytes(content).decode("utf-8"), base)
                )
            yield pd.DataFrame(rows, columns=TRIPLE_COLS)

    return raw.mapInPandas(parse, schema)


# ---------------------------------------------------------------------------
# writer — fully columnar
# ---------------------------------------------------------------------------

# XML NCName tail charset (simplified to the ASCII subset + unicode
# letters via the \w class); the QName split point is the longest
# NCName-valid suffix of the predicate IRI.
_LOCAL_RX = r"([A-Za-z_][A-Za-z0-9_.\-]*)$"


def _xml_escape(c: Column, attr: bool = False) -> Column:
    c = F.replace(c, F.lit("&"), F.lit("&amp;"))
    c = F.replace(c, F.lit("<"), F.lit("&lt;"))
    c = F.replace(c, F.lit(">"), F.lit("&gt;"))
    if attr:
        c = F.replace(c, F.lit('"'), F.lit("&quot;"))
    return c


def render_rdfxml(
    triples: DataFrame, group_col: str | None = None
) -> tuple[str, DataFrame, str]:
    """→ (header, body DataFrame['k','line'], footer): one
    ``<rdf:Description>`` block per subject. ``group_col`` (e.g.
    ``frame_index``) keeps that column on the body rows and scopes the
    per-subject grouping to it — the per-frame document mode.

    Fully columnar: the QName split is a regexp pair, each property
    element declares its namespace inline (``xmlns:n="..."``), and
    subjects assemble with ONE hash aggregation — no window, no driver
    collect, no global namespace pass. Predicates whose IRI has no
    NCName-valid local part raise at write time (F.raise_error), the
    same failure Jena's RDF/XML writer signals for un-QName-able
    predicates."""
    cols = set(triples.columns)
    get = lambda c: F.col(c) if c in cols else F.lit(None).cast("string")  # noqa: E731
    infer = lambda c: F.when(  # noqa: E731
        F.col(c).startswith("_:"), F.lit(KIND_BNODE)
    ).otherwise(F.lit(KIND_IRI))
    s_kind = (F.col("subj_kind") if "subj_kind" in cols else infer("subj")).cast("int")
    o_kind = F.col("obj_kind").cast("int")

    local_raw = F.regexp_extract(F.col("pred"), _LOCAL_RX, 1)
    ns = F.col("pred").substr(
        F.lit(1), F.length(F.col("pred")) - F.length(local_raw)
    )
    bad = (F.length(local_raw) == F.lit(0)) | (F.length(ns) == F.lit(0))
    local = F.when(
        bad,
        F.raise_error(F.concat(
            F.lit("predicate IRI has no XML-QName local part: "), F.col("pred")
        )),
    ).otherwise(local_raw)

    strip_bn = lambda c: F.regexp_replace(c, "^_:", "")  # noqa: E731
    # RDF/XML cannot express RDF-star quoted triples — fail the write
    # with a typed row-level error (Jena's writer signals the same;
    # use Jelly/N-Quads/Turtle-star for star data)
    qt_err = F.raise_error(
        F.lit("RDF/XML cannot serialize RDF-star quoted triples")
    )
    obj_ref = F.when(o_kind == KIND_QUOTED, qt_err).when(
        o_kind == KIND_BNODE,
        F.concat(F.lit(' rdf:nodeID="'),
                 _xml_escape(strip_bn(F.col("obj")), attr=True), F.lit('"')),
    ).otherwise(
        F.concat(F.lit(' rdf:resource="'),
                 _xml_escape(F.col("obj"), attr=True), F.lit('"'))
    )
    dt = get("obj_datatype")
    lang = get("obj_lang")
    lit_attrs = F.concat(
        F.when(dt.isNotNull(),
               F.concat(F.lit(' rdf:datatype="'), _xml_escape(dt, attr=True),
                        F.lit('"'))).otherwise(F.lit("")),
        F.when(lang.isNotNull(),
               F.concat(F.lit(' xml:lang="'), _xml_escape(lang, attr=True),
                        F.lit('"'))).otherwise(F.lit("")),
    )
    open_tag = F.concat(F.lit("    <n:"), local, F.lit(' xmlns:n="'),
                        _xml_escape(ns, attr=True), F.lit('"'))
    prop = F.when(
        o_kind == KIND_LITERAL,
        F.concat(open_tag, lit_attrs, F.lit(">"),
                 _xml_escape(F.col("obj")), F.lit("</n:"), local, F.lit(">")),
    ).otherwise(F.concat(open_tag, obj_ref, F.lit("/>")))

    subj_attr = F.when(s_kind == KIND_QUOTED, qt_err).when(
        s_kind == KIND_BNODE,
        F.concat(F.lit('rdf:nodeID="'),
                 _xml_escape(strip_bn(F.col("subj")), attr=True), F.lit('"')),
    ).otherwise(
        F.concat(F.lit('rdf:about="'),
                 _xml_escape(F.col("subj"), attr=True), F.lit('"'))
    )
    keys = ([group_col] if group_col else []) + ["subj", "sattr"]
    extra = [F.col(group_col)] if group_col else []
    node = (
        triples.select(*extra, F.col("subj"), subj_attr.alias("sattr"),
                       prop.alias("prop"))
        .groupBy(*keys)
        .agg(F.concat_ws("\n", F.collect_list("prop")).alias("props"))
        .select(
            *extra,
            F.concat(
                F.lit("  <rdf:Description "), F.col("sattr"), F.lit(">\n"),
                F.col("props"), F.lit("\n  </rdf:Description>"),
            ).alias("line"),
        )
    )
    header = ('<?xml version="1.0" encoding="UTF-8"?>\n'
              f'<rdf:RDF xmlns:rdf="{RDF_NS}">')
    return header, node, "</rdf:RDF>"


def write_rdfxml(
    triples: DataFrame, path: str, single_file: bool = False,
    per_frame: bool = False, frame_ids: DataFrame | None = None,
) -> None:
    """RDF/XML sink: the rdf:RDF envelope rides as header/footer sort
    keys in one text write (part-00000 leads, the footer part trails —
    same mechanism as the Turtle @prefix header).

    ``per_frame`` writes one complete document per ``frame_index``
    value, concatenated in frame order — the reference's default for
    batch formats without --combine (RdfFromJelly.scala:106-118).
    ``frame_ids`` (a DataFrame['frame_index']) supplies the full frame
    list so statement-free frames still emit an empty document, like
    the reference's per-frame ``finish()``. Per-frame output is
    assembled ordered (the same bounded-artifact contract as the
    reference's in-memory batch writer)."""
    if per_frame:
        header, body, footer = render_rdfxml(triples, group_col="frame_index")
        fids = (
            frame_ids if frame_ids is not None
            else triples.select("frame_index").distinct()
        ).select(F.col("frame_index"))
        hdr = fids.select("frame_index", F.lit(0).alias("k"),
                          F.lit(header).alias("line"))
        ftr = fids.select("frame_index", F.lit(2).alias("k"),
                          F.lit(footer).alias("line"))
        out = hdr.unionByName(
            body.select("frame_index", F.lit(1).alias("k"), "line")
        ).unionByName(ftr)
        (
            out.coalesce(1)
            .sortWithinPartitions("frame_index", "k", "line")
            .select("line")
            .write.mode("overwrite").text(path)
        )
        return
    header, body, footer = render_rdfxml(triples)
    out = body.select("line")
    if single_file:
        out = out.coalesce(1)

    # every non-empty part gets the full envelope, so each part file is
    # a well-formed standalone RDF/XML document (same fix as the Turtle
    # @prefix header: the old header/footer-as-union-rows design left
    # the rdf:RDF wrapper and the Descriptions in different parts — a
    # directory neither this reader nor any XML parser could consume);
    # a directory of N documents unions to the same graph, and an empty
    # graph is one empty rdf:RDF document
    standalone_parts(out, [header], [footer]).write.mode("overwrite").text(path)
