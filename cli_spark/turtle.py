"""Turtle / TriG subset reader + writer (SURVEY.md §2.1 S4/S8; reference
format registry RdfFormat.scala:48-62 — Turtle `supportsBaseIri`, TriG
adds quads).

Design for Spark's execution model:

- **Writer** is fully columnar and line-parallel: one statement per
  output line, IRIs compacted to prefixed names against a (small,
  broadcast) prefix map with a single `regexp`-free longest-prefix
  resolution, literals escaped with the shared N-Triples escaper. The
  `@prefix` header is a handful of driver-side lines.
- **Reader** is file-parallel: each input file is one task
  (`mapInPandas` over wholetext rows) running a compact recursive-
  descent statement parser. A single Turtle document is inherently
  sequential (directives scope forward), exactly like the reference's
  RIOT stream parser — the parallel unit at 100 TB is the file/object,
  of which there are millions. Line-level parallel parsing IS available
  for the writer's own line-per-statement output via
  :func:`parse_turtle_lines`.

Supported subset (documented descope — the reference delegates to Jena
RIOT): @prefix/@base + SPARQL-style PREFIX/BASE directives, IRIs,
prefixed names, blank nodes, anonymous blank-node property lists
`[ p o ; ... ]` (nested, as subject or object), collections `( ... )`
(rdf:first/rest/nil chains), `a` keyword, literals with language tags /
datatypes / numeric+boolean shorthand, single-quoted `'...'` and
triple-quoted long strings (`\"\"\"...\"\"\"` / `'''...'''`, raw
newlines allowed), `;` and `,` continuation lists, TriG
`GRAPH <g> { ... }` / `<g> { ... }` blocks, comments, and Turtle-star:
quoted-triple terms `<< s p o >>` (any nesting, subject or object
position, inner terms may be pnames/literals — normalized to canonical
N-Triples-star text in the term model, matching the N-Quads parser's
self-delimiting representation) plus annotation syntax
`o {| q v ; ... |}` (asserts the base triple AND the annotation triples
on the quoted term, per RDF-star CG §5.4 — Jena RIOT behavior).
Not supported: `@`-less bare-word booleans inside collections of mixed
directives.

Base-IRI resolution (S8, RiotParserUtil.scala:14-40): relative IRIs
resolve against the innermost @base (or a caller-supplied base), using
RFC 3986 joining.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from typing import TYPE_CHECKING
from urllib.parse import urljoin

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .nquads import (
    KIND_BNODE,
    KIND_IRI,
    KIND_LITERAL,
    KIND_QUOTED,
    TRIPLE_COLS,
    _escape,
)

if TYPE_CHECKING:
    import pandas as pd

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def _urljoin_keep_empty(base: str, ref: str) -> str:
    """RFC 3986 reference resolution, preserving a trailing empty
    fragment/query: ``urljoin`` silently drops a bare ``#``/``?`` —
    fatal for namespace IRIs, where ``<vocab#>`` is the standard shape
    (prefixed-name concatenation would then weld the local part onto
    ``...vocab``)."""
    out = urljoin(base, ref)
    if ref.endswith("#") and not out.endswith("#"):
        out += "#"
    elif ref.endswith("?") and not out.endswith("?"):
        out += "?"
    return out

_PN_LOCAL = r"[A-Za-z0-9_\-.%]*"
_TOKEN_RE = re.compile(
    r"""
      (?P<ws>\s+)
    | (?P<comment>\#[^\n]*)
    | (?P<qtmark><<|>>)
    | (?P<annmark>\{\||\|\})
    | (?P<iri><[^<>]*>)
    | (?P<longlit>\"\"\"(?:[^"\\]|\\.|"{1,2}(?!"))*\"\"\"
                 |'''(?:[^'\\]|\\.|'{1,2}(?!'))*''')
    | (?P<literal>"(?:[^"\\\n]|\\.)*"|'(?:[^'\\\n]|\\.)*')
    | (?P<bnode>_:[A-Za-z0-9_](?:[A-Za-z0-9_\-.]*[A-Za-z0-9_\-])?)
    | (?P<pname>[A-Za-z][A-Za-z0-9_\-.]*?:%s|:%s)
    | (?P<keyword>@prefix|@base|(?i:PREFIX|BASE|GRAPH)\b|\ba\b|true\b|false\b)
    | (?P<number>[+-]?(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?)
    | (?P<langtag>@[A-Za-z0-9\-]+)
    | (?P<dtmark>\^\^)
    | (?P<punct>[;,.{}\[\]()])
    """
    % (_PN_LOCAL, _PN_LOCAL),
    re.VERBOSE,
)

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_FIRST = RDF_NS + "first"
RDF_REST = RDF_NS + "rest"
RDF_NIL = RDF_NS + "nil"

_UNESC = {"t": "\t", "r": "\r", "n": "\n", '"': '"', "\\": "\\"}


def _unescape_py(lex: str) -> str:
    out, i = [], 0
    while i < len(lex):
        c = lex[i]
        if c == "\\" and i + 1 < len(lex):
            nxt = lex[i + 1]
            if nxt in _UNESC:
                out.append(_UNESC[nxt])
                i += 2
                continue
            if nxt in "uU":
                width = 4 if nxt == "u" else 8
                out.append(chr(int(lex[i + 2 : i + 2 + width], 16)))
                i += 2 + width
                continue
        out.append(c)
        i += 1
    return "".join(out)


def _escape_nt_py(s: str) -> str:
    """Python mirror of the columnar N-Triples escaper (same order)."""
    s = s.replace("\\", "\\\\")
    for raw, esc in (('"', '\\"'), ("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t")):
        s = s.replace(raw, esc)
    return s


def _nt_term_text(kind: int, value: str, dt: str | None, lang: str | None) -> str:
    """Term tuple → canonical N-Triples(-star) source text — the
    self-delimiting representation the N-Quads parser keeps for quoted
    triples (single spaces, IRIs in <>, bnodes _:label), so a quoted
    term parsed from Turtle compares/round-trips textually identical to
    one parsed from N-Quads."""
    if kind == KIND_QUOTED:
        return value  # already canonical "<< ... >>" text
    if kind == KIND_BNODE:
        return f"_:{value}"
    if kind == KIND_LITERAL:
        lex = f'"{_escape_nt_py(value)}"'
        if lang:
            return f"{lex}@{lang}"
        if dt:
            return f"{lex}^^<{dt}>"
        return lex
    return f"<{value}>"


class _TurtleParser:
    """Recursive-descent statement parser for the Turtle/TriG subset.
    One instance per document (directives are document-scoped state,
    mirroring the reference's sequential RIOT parse)."""

    def __init__(
        self, text: str, base: str | None = None, resolve_iris: bool = True
    ):
        # resolve_iris=False (the reference's rdfPerformanceOptions
        # knob, RdfPerformanceOptions.scala:7-14): skip base resolution
        # entirely — relative IRIs pass through to the output as
        # written; @base/--base still parse but are not applied
        self.resolve_iris = resolve_iris
        self.toks: list[tuple[str, str]] = [
            (m.lastgroup, m.group())
            for m in _TOKEN_RE.finditer(text)
            if m.lastgroup not in ("ws", "comment")
        ]
        # tokenizer completeness check: anything unmatched is an error
        consumed = sum(len(m.group()) for m in _TOKEN_RE.finditer(text))
        if consumed != len(text):
            residue = re.sub(_TOKEN_RE, "", text).strip()
            if residue:
                raise ValueError(f"unsupported Turtle syntax near: {residue[:40]!r}")
        self.pos = 0
        self.prefixes: dict[str, str] = {}
        # every resolved prefix directive in document order, duplicates
        # kept: the prefix events a stream parser delivers
        self.declarations: list[tuple[str, str]] = []
        self.base = base
        self.graph: str | None = None
        self.out: list[tuple] = []
        self._genid = 0  # fresh labels for [...] / (...) blank nodes

    def _peek(self):
        return self.toks[self.pos] if self.pos < len(self.toks) else (None, None)

    def _next(self):
        t = self._peek()
        self.pos += 1
        return t

    def _expect(self, value: str):
        kind, tok = self._next()
        if tok != value:
            raise ValueError(f"expected {value!r}, got {tok!r}")

    def _resolve(self, iri: str) -> str:
        if (
            self.resolve_iris
            and self.base
            and not re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*:", iri)
        ):
            return _urljoin_keep_empty(self.base, iri)
        return iri

    def _fresh_bnode(self) -> str:
        """Parser-generated label for an anonymous node. The `genid-`
        namespace mirrors Jena's convention; a document that declares
        its own `_:genid-N` labels could collide (same caveat as any
        label-generating parser without a global relabel pass)."""
        self._genid += 1
        return f"genid-{self._genid}"

    def _emit(self, s_val, s_kind, p_val, o_term):
        o_kind, o_val, o_dt, o_lang = o_term
        self.out.append(
            (
                s_val, s_kind, p_val, KIND_IRI, o_val, o_kind, o_dt, o_lang,
                self.graph, KIND_IRI if self.graph is not None else None,
            )
        )

    def _bnode_property_list(self) -> str:
        """`[ p o ; ... ]` → fresh bnode + its emitted triples."""
        self._expect("[")
        label = self._fresh_bnode()
        if self._peek()[1] != "]":
            self._pred_obj_list(label, KIND_BNODE)
        self._expect("]")
        return label

    def _collection(self):
        """`( t1 t2 ... )` → rdf:first/rdf:rest chain of fresh bnodes;
        `()` is rdf:nil (Turtle §2.8)."""
        self._expect("(")
        items = []
        while self._peek()[1] != ")":
            if self._peek()[0] is None:
                raise ValueError("unterminated collection '('")
            items.append(self._term())
        self._next()  # ')'
        if not items:
            return (KIND_IRI, RDF_NIL, None, None)
        nodes = [self._fresh_bnode() for _ in items]
        for i, (node, item) in enumerate(zip(nodes, items)):
            self._emit(node, KIND_BNODE, RDF_FIRST, item)
            rest = (
                (KIND_BNODE, nodes[i + 1], None, None)
                if i + 1 < len(nodes)
                else (KIND_IRI, RDF_NIL, None, None)
            )
            self._emit(node, KIND_BNODE, RDF_REST, rest)
        return (KIND_BNODE, nodes[0], None, None)

    def _quoted_triple(self):
        """Turtle-star `<< s p o >>` → KIND_QUOTED term holding the
        canonical N-Triples-star text (inner pnames resolved, literals
        re-escaped — whatever surface syntax the document used)."""
        self._expect("<<")
        s = self._term()
        p = self._term()
        o = self._term()
        self._expect(">>")
        text = f"<< {_nt_term_text(*s)} {_nt_term_text(*p)} {_nt_term_text(*o)} >>"
        return (KIND_QUOTED, text, None, None)

    def _term(self):
        """→ (kind, value, datatype, lang)."""
        if self._peek()[1] == "[":
            return (KIND_BNODE, self._bnode_property_list(), None, None)
        if self._peek()[1] == "(":
            return self._collection()
        if self._peek()[1] == "<<":
            return self._quoted_triple()
        kind, tok = self._next()
        if kind == "iri":
            return (KIND_IRI, self._resolve(tok[1:-1]), None, None)
        if kind == "pname":
            pfx, _, local = tok.partition(":")
            if pfx not in self.prefixes:
                raise ValueError(f"undeclared prefix {pfx!r}:")
            return (KIND_IRI, self.prefixes[pfx] + local, None, None)
        if kind == "bnode":
            return (KIND_BNODE, tok[2:], None, None)
        if kind in ("literal", "longlit"):
            width = 3 if kind == "longlit" else 1
            value = _unescape_py(tok[width:-width])
            nk, nt = self._peek()
            if nk == "langtag":
                self._next()
                return (KIND_LITERAL, value, None, nt[1:])
            if nk == "dtmark":
                self._next()
                dt_kind, dt_val, _, _ = self._term()
                if dt_kind != KIND_IRI:
                    raise ValueError("datatype must be an IRI")
                return (KIND_LITERAL, value, dt_val, None)
            return (KIND_LITERAL, value, None, None)
        if kind == "number":
            dt = (
                XSD + "integer"
                if re.fullmatch(r"[+-]?\d+", tok)
                else (XSD + "double" if "e" in tok.lower() else XSD + "decimal")
            )
            return (KIND_LITERAL, tok, dt, None)
        if kind == "keyword" and tok in ("true", "false"):
            return (KIND_LITERAL, tok, XSD + "boolean", None)
        if kind == "keyword" and tok == "a":
            return (KIND_IRI, RDF_TYPE, None, None)
        raise ValueError(f"unexpected token {tok!r} in term position")

    def _pred_obj_list(self, s_val, s_kind):
        while True:
            nk, nt = self._peek()
            if nt == "a":
                self._next()
                p_kind, p_val = KIND_IRI, RDF_TYPE
            else:
                p_kind, p_val, _, _ = self._term()
            while True:
                o_kind, o_val, o_dt, o_lang = self._term()
                self.out.append(
                    (
                        s_val, s_kind, p_val, p_kind, o_val, o_kind, o_dt, o_lang,
                        self.graph, KIND_IRI if self.graph is not None else None,
                    )
                )
                if self._peek()[1] == "{|":
                    # RDF-star annotation: the base triple stays asserted
                    # (just emitted) AND the annotation's pred-obj list
                    # attaches to the quoted form of that triple. Nested
                    # annotations recurse via this same branch.
                    self._next()
                    qt = "<< {} {} {} >>".format(
                        _nt_term_text(s_kind, s_val, None, None),
                        _nt_term_text(p_kind, p_val, None, None),
                        _nt_term_text(o_kind, o_val, o_dt, o_lang),
                    )
                    self._pred_obj_list(qt, KIND_QUOTED)
                    self._expect("|}")
                if self._peek()[1] == ",":
                    self._next()
                    continue
                break
            if self._peek()[1] == ";":
                self._next()
                # trailing ';' before '.' / block, list, or annotation
                # close is legal
                if self._peek()[1] in (".", "}", "]", "|}", None):
                    break
                continue
            break

    def _statement(self):
        was_bnode_list = self._peek()[1] == "["
        s_kind, s_val, _, _ = self._term()
        # `[ p o ] .` — a blankNodePropertyList subject may stand alone
        # (Turtle grammar: triples ::= blankNodePropertyList
        # predicateObjectList?)
        if not (was_bnode_list and self._peek()[1] in (".", "}", None)):
            self._pred_obj_list(s_val, s_kind)
        if self._peek()[1] == ".":
            self._next()

    def parse(self) -> list[tuple]:
        while True:
            kind, tok = self._peek()
            if kind is None:
                return self.out
            low = (tok or "").lower()
            if low in ("@prefix", "prefix"):
                self._next()
                _, pname = self._next()
                pfx = pname[:-1] if pname.endswith(":") else pname.partition(":")[0]
                _, iri = self._next()
                self.prefixes[pfx] = self._resolve(iri[1:-1])
                self.declarations.append((pfx, self.prefixes[pfx]))
                if self._peek()[1] == ".":
                    self._next()
            elif low in ("@base", "base"):
                self._next()
                _, iri = self._next()
                self.base = self._resolve(iri[1:-1])
                if self._peek()[1] == ".":
                    self._next()
            elif low == "graph" or (
                kind in ("iri", "pname") and self._peek_ahead_is_block()
            ):
                if low == "graph":
                    self._next()
                g_kind, g_val, _, _ = self._term()
                self._expect("{")
                prev, self.graph = self.graph, g_val
                while self._peek()[1] != "}":
                    self._statement()
                self._expect("}")
                self.graph = prev
                if self._peek()[1] == ".":
                    self._next()
            else:
                self._statement()

    def _peek_ahead_is_block(self) -> bool:
        return self.pos + 1 < len(self.toks) and self.toks[self.pos + 1][1] == "{"


def parse_turtle_document(
    text: str, base: str | None = None, resolve_iris: bool = True
) -> list[tuple]:
    """One document → rows in the shared term-model column order
    (nquads.TRIPLE_COLS)."""
    return _TurtleParser(text, base, resolve_iris=resolve_iris).parse()


def read_turtle(
    spark: SparkSession,
    path: str,
    base: str | None = None,
    resolve_iris: bool = True,
) -> DataFrame:
    """Turtle/TriG files → term-model triples, one task per FILE (the
    scalable unit: a single document is a sequential grammar, the corpus
    is not). ``base`` seeds @base resolution (S8)."""
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
                    parse_turtle_document(
                        bytes(content).decode("utf-8"), base,
                        resolve_iris=resolve_iris,
                    )
                )
            yield pd.DataFrame(rows, columns=TRIPLE_COLS)

    return raw.mapInPandas(parse, schema)


def _declarations(text: str) -> list[tuple[str, str]]:
    """(name, iri) of every prefix directive of one document, in order.
    Read from the parser, so directive-shaped text inside a literal or
    a comment is not a declaration; an in-file @base resolves relative
    prefix IRIs declared after it."""
    parser = _TurtleParser(text)
    parser.parse()
    return parser.declarations


def scan_namespaces(spark: SparkSession, path: str) -> DataFrame:
    """(name, iri) prefix declarations from Turtle/TriG documents — the
    directives Jena surfaces as StreamRDF prefix events and the
    reference forwards to the Jelly stream under
    ``--enable-namespace-declarations`` (RdfToJelly.scala:57-61).

    File-parallel: one task parses each file. The last declaration of
    a name within a file wins (Jena PrefixMap override); across files,
    ties break to the lexicographic-min IRI so the result is
    partitioning-independent. Rows come back in document order of the
    winning declarations: by (file path, position in the file)."""
    raw = spark.read.format("binaryFile").load(path).select("path", "content")

    def scan(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            rows: list[tuple] = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                seen = {
                    name: (iri, i)
                    for i, (name, iri) in enumerate(
                        _declarations(bytes(content).decode("utf-8"))
                    )
                }
                rows.extend(
                    (name, iri, fpath, i) for name, (iri, i) in seen.items()
                )
            yield pd.DataFrame(rows, columns=["name", "iri", "path", "offset"])

    decls = raw.mapInPandas(
        scan, "name string, iri string, path string, offset long"
    )
    return (
        decls.groupBy("name")
        .agg(F.min(F.struct("iri", "path", "offset")).alias("w"))
        .orderBy("w.path", "w.offset")
        .select("name", "w.iri")
    )


def scan_namespaces_ordered(path: str) -> list:
    """Ordered (name, iri) declaration sequence of ONE Turtle/TriG
    document, duplicates kept in document order — the event sequence
    Jena's StreamRDF prefix callbacks would deliver, which the
    reference's OrderedRdfCompare matches positionally
    (RdfCompareSpec "different/missing namespace declarations").
    Driver-side: the comparison target of `rdf validate` is a single
    bounded file."""
    with open(path, encoding="utf-8") as fh:
        return _declarations(fh.read())


def parse_turtle_lines(
    lines: DataFrame, prefixes: dict[str, str], text_col: str = "line"
) -> DataFrame:
    """Line-parallel parse for line-per-statement Turtle (the shape this
    module's own writer emits): every line is an independent statement
    against a broadcast prefix map — fully distributed, no file-level
    sequencing."""
    schema = (
        "subj string, subj_kind int, pred string, pred_kind int, "
        "obj string, obj_kind int, obj_datatype string, obj_lang string, "
        "graph string, graph_kind int"
    )

    def parse(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            rows: list[tuple] = []
            for line in pdf[text_col]:
                if not line or line.startswith(("@prefix", "@base", "#", "PREFIX", "BASE")):
                    continue
                p = _TurtleParser(line)
                p.prefixes = dict(prefixes)
                rows.extend(p.parse())
            yield pd.DataFrame(rows, columns=TRIPLE_COLS)

    return lines.mapInPandas(parse, schema)


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------


def derive_prefixes(triples: DataFrame, max_prefixes: int = 16) -> dict[str, str]:
    """Top-N IRI prefixes by frequency (greedy last-/# split, the q43 /
    prefix-table rule) → {p0: iri, p1: iri, ...}. Driver-side dict —
    the prefix map is broadcast state, inherently small."""
    iris = triples.select(F.col("subj").alias("iri")).unionAll(
        triples.select("pred")
    )
    if "obj_kind" in triples.columns:
        iris = iris.unionAll(
            triples.filter(F.col("obj_kind") == KIND_IRI).select("obj")
        )
    top = (
        iris.select(F.regexp_extract("iri", r"^(.*[/#])", 1).alias("prefix"))
        .filter((F.col("prefix") != "") & ~F.col("prefix").rlike(r"[{}|^`\"<>\\ ]"))
        .groupBy("prefix")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "prefix")
        .limit(max_prefixes)
        .collect()
    )
    return {f"p{i}": r.prefix for i, r in enumerate(top)}


def _compact(value: Column, kind: Column, prefixes: dict[str, str]) -> Column:
    """IRI → prefixed name when a prefix matches and the local part is
    PN_LOCAL-safe; else <IRI>. Longest prefix wins (fixed unrolled
    chain — the prefix map is bounded broadcast state)."""
    expr = F.concat(F.lit("<"), value, F.lit(">"))
    for pfx, iri in sorted(prefixes.items(), key=lambda kv: -len(kv[1])):
        local = value.substr(F.lit(len(iri) + 1), F.length(value))
        ok = value.startswith(iri) & local.rlike(r"^[A-Za-z0-9_\-.%]*$") & ~local.contains(".")
        expr = F.when(ok, F.concat(F.lit(pfx + ":"), local)).otherwise(expr)
    # flat extraction schemas store bnodes as "_:x" (kind inferred); the
    # parsed term model stores the bare label — normalize either way
    bnode = F.concat(F.lit("_:"), F.regexp_replace(value, "^_:", ""))
    return (
        F.when(kind == KIND_BNODE, bnode)
        # quoted triples carry self-delimiting "<< ... >>" source text,
        # already valid Turtle-star — never <>-wrap or compact it
        .when(kind == KIND_QUOTED, value)
        .otherwise(expr)
    )


def _render_object(triples_cols: set, prefixes: dict[str, str]) -> Column:
    dt = F.col("obj_datatype") if "obj_datatype" in triples_cols else F.lit(None).cast("string")
    lang = F.col("obj_lang") if "obj_lang" in triples_cols else F.lit(None).cast("string")
    lit_suffix = (
        F.when(lang.isNotNull(), F.concat(F.lit("@"), lang))
        .when(
            dt.isNotNull(),
            F.concat(F.lit("^^"), _compact(dt, F.lit(KIND_IRI), prefixes)),
        )
        .otherwise(F.lit(""))
    )
    return (
        F.when(
            F.col("obj_kind") == KIND_LITERAL,
            F.concat(F.lit('"'), _escape(F.col("obj")), F.lit('"'), lit_suffix),
        )
        .otherwise(_compact(F.col("obj"), F.col("obj_kind").cast("int"), prefixes))
    )


def render_turtle(
    triples: DataFrame, prefixes: dict[str, str] | None = None
) -> tuple[list[str], DataFrame]:
    """→ (header_lines, body DataFrame['line']): line-per-statement
    Turtle. Statement rendering is one columnar concat; the header is
    the @prefix block."""
    if prefixes is None:
        prefixes = derive_prefixes(triples)
    cols = set(triples.columns)
    header = [f"@prefix {p}: <{iri}> ." for p, iri in sorted(prefixes.items())]
    infer = lambda c: F.when(  # noqa: E731
        F.col(c).startswith("_:"), F.lit(KIND_BNODE)
    ).otherwise(F.lit(KIND_IRI))
    s_kind = F.col("subj_kind") if "subj_kind" in cols else infer("subj")
    s = _compact(F.col("subj"), s_kind.cast("int"), prefixes)
    p = F.when(F.col("pred") == RDF_TYPE, F.lit("a")).otherwise(
        _compact(F.col("pred"), F.lit(KIND_IRI), prefixes)
    )
    o = _render_object(cols, prefixes)
    stmt = F.concat(s, F.lit(" "), p, F.lit(" "), o, F.lit(" ."))
    if "graph" in cols:
        # TriG: named-graph statements wrap in a one-line GRAPH block
        # (the parser accepts per-line blocks — stays line-parallel)
        g = _compact(F.col("graph"), F.lit(KIND_IRI), prefixes)
        stmt = F.when(
            F.col("graph").isNotNull(),
            F.concat(F.lit("GRAPH "), g, F.lit(" { "), stmt, F.lit(" }")),
        ).otherwise(stmt)
    body = triples.select(stmt.alias("line"))
    return header, body


def write_turtle(
    triples: DataFrame,
    path: str,
    prefixes: dict[str, str] | None = None,
    single_file: bool = False,
) -> None:
    """Turtle sink: parallel text parts (or coalesce(1)). EVERY
    non-empty part, and part 0 of an empty graph, gets the @prefix
    header, so each part file is a valid standalone Turtle document —
    the property a distributed text sink needs (a header in one part
    and the statements in others is an unreadable directory).
    Repeating the block is legal Turtle (re-declaration) and
    O(prefixes) bytes per part."""
    header, body = render_turtle(triples, prefixes)
    out = body.select("line")
    if single_file:
        out = out.coalesce(1)
    if header:
        out = standalone_parts(out, header)
    out.write.mode("overwrite").text(path)


def standalone_parts(
    lines: DataFrame, header: list[str], footer: list[str] | None = None
) -> DataFrame:
    """``lines`` with ``header`` ahead of and ``footer`` after the lines of
    every non-empty partition, and of partition 0 even when it is empty:
    each part file is a standalone document, and an empty graph still
    writes one. A trailing one-partition empty input is partition 0 only
    when ``lines`` has no partitions at all (an empty local relation, or
    a plan adaptive execution found empty); otherwise it is an empty
    partition past 0, which writes no part file."""
    pad = lines.sparkSession.range(0, 1, 1, 1).filter(F.col("id") < 0).select(
        F.lit(None).cast("string").alias("line")
    )

    def wrap(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import pandas as pd
        from pyspark import TaskContext

        emitted = TaskContext.get().partitionId() == 0
        if emitted:
            yield pd.DataFrame({"line": header})
        for pdf in batches:
            if not emitted and len(pdf):
                yield pd.DataFrame({"line": header})
                emitted = True
            yield pdf
        if emitted and footer:
            yield pd.DataFrame({"line": footer})

    return lines.unionByName(pad).mapInPandas(wrap, "line string")
