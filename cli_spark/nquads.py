"""Columnar N-Triples / N-Quads text I/O (SURVEY.md §2.1 S5/S6/S12, F7).

The reference parses these formats with generalized-RDF tokenizers
(cli/util/jena/riot/LangNTriplesGeneralized.scala:11-30,
LangNQuadsGeneralized.scala:12-51) and renders via Jena stream writers.
Here both directions are pure column expressions — the parse is one
``regexp_extract_all`` (term tokenizer) + classification, the render is
one ``concat``; whole-stage codegen keeps it JVM-side end to end.

Term model (kinds per NodeDetailInfo, MetricsPrinter.scala:128-134):
  kind 0 IRI      <...>
  kind 1 bnode    _:label
  kind 2 literal  "lex"(^^<dt> | @lang)?
Generalized RDF (literal subjects, bnode predicates, literal graph
names — the reference's generalized.nq fixture) parses fine: every term
position carries (kind, value, datatype, lang).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# one term: quoted triple (RDF-star) | IRI | bnode | literal with
# optional datatype/langtag. Quoted triples nest recursively in the
# reference (OrderedRdfCompare.scala:45-51); a regular expression cannot
# count brackets, so the JVM tokenizer unrolls the recursion to
# QT_MAX_DEPTH levels; parse_lines routes deeper lines to the unbounded
# Python tokenizer (see _tokenize_terms_py).
# Downstream is depth-independent: the term value stays the
# self-delimiting "<< ... >>" source text, render passes it through,
# and compare masks bnode labels textually at any depth.
QT_MAX_DEPTH = 6
# the IRI atom is <[^<>]*> (not <[^>]*>) so it cannot swallow the
# opening "<<" of a nested quoted triple; the nested-QT alternative is
# tried first at every level
_QT_ATOM = r'[^"<>]|<[^<>]*>|"(?:[^"\\]|\\.)*"'


def _qt_rx(depth: int) -> str:
    rx = rf"<<(?:{_QT_ATOM})*>>"
    for _ in range(depth - 1):
        rx = rf"<<(?:{rx}|{_QT_ATOM})*>>"
    return rx


_QT_RX = _qt_rx(QT_MAX_DEPTH)
TERM_RX = (
    # bnode labels follow the N-Triples grammar's ASCII subset: start
    # alnum/_, may contain -_. but cannot END with '.' (that dot is the
    # statement terminator) — our own parsers emit "genid-N" labels, so
    # the '-' is load-bearing, not cosmetic
    r"(" + _QT_RX + r'|<[^>]*>|_:[A-Za-z0-9_](?:[A-Za-z0-9_\-.]*[A-Za-z0-9_\-])?|"(?:[^"\\]|\\.)*"'
    r"(?:\^\^<[^>]*>|@[A-Za-z0-9-]+)?)"
)

KIND_IRI = 0
KIND_BNODE = 1
KIND_LITERAL = 2
KIND_QUOTED = 3  # RDF-star quoted triple (StatementUtils.scala:23-25);
# the term VALUE is the self-delimiting "<< ... >>" source text

TRIPLE_COLS = [
    "subj", "subj_kind", "pred", "pred_kind",
    "obj", "obj_kind", "obj_datatype", "obj_lang",
    "graph", "graph_kind",
]
# Generalized N-Quads can carry typed/langtagged literals in ANY
# position ("lit"^^<dt> as subject/predicate/graph — generalized.nq has
# a datatyped literal GRAPH term). The full column set keeps those
# annotations; only this module (the generalized-capable text format)
# and the Jelly codec produce/consume them — the other parsers cannot
# express non-object literals and stay on the 10-column model.
TRIPLE_COLS_FULL = TRIPLE_COLS + [
    "subj_dt", "subj_lang", "pred_dt", "pred_lang", "graph_dt", "graph_lang",
]


def _unescape_segment(c: Column) -> Column:
    for esc, raw in ((r"\\t", "\t"), (r"\\r", "\r"), (r"\\n", "\n"), (r'\\"', '"')):
        c = F.regexp_replace(c, F.lit(esc), F.lit(raw))
    return c


def _unescape(c: Column) -> Column:
    # Split on escaped-backslash pairs FIRST: an ordered replace chain
    # mis-decodes '\\t' (escaped backslash + literal t) as backslash+TAB
    # because the '\t' replace fires inside the pair. Within a segment
    # no '\\' pair remains, so every '\t'/'\r'/'\n'/'\"' is a genuine
    # escape; rejoining with a single backslash restores the pairs.
    segs = F.split(c, r"\\\\", -1)
    return F.array_join(F.transform(segs, _unescape_segment), "\\")


def _escape(c: Column) -> Column:
    c = F.regexp_replace(c, F.lit(r"\\"), F.lit(r"\\\\"))
    for raw, esc in (('"', r'\\"'), ("\n", r"\\n"), ("\r", r"\\r"), ("\t", r"\\t")):
        c = F.regexp_replace(c, F.lit(raw), F.lit(esc))
    return c


def _classify(term: Column, prefix: str):
    """term string → (kind, value, datatype, lang) columns."""
    is_qt = term.startswith("<<")
    is_iri = term.startswith("<") & ~is_qt
    is_bnode = term.startswith("_:")
    kind = (
        F.when(is_qt, F.lit(KIND_QUOTED))
        .when(is_iri, F.lit(KIND_IRI))
        .when(is_bnode, F.lit(KIND_BNODE))
        .otherwise(F.lit(KIND_LITERAL))
    )
    lex = F.regexp_extract(term, r'^"((?:[^"\\]|\\.)*)"', 1)
    datatype = F.regexp_extract(term, r"\^\^<([^>]*)>$", 1)
    lang = F.regexp_extract(term, r"@([A-Za-z0-9-]+)$", 1)
    value = (
        F.when(is_qt, term)  # quoted triple: keep the "<< ... >>" source
        .when(is_iri, F.expr(f"substring({prefix}_raw, 2, length({prefix}_raw) - 2)"))
        .when(is_bnode, term.substr(F.lit(3), F.length(term)))
        .otherwise(_unescape(lex))
    )
    is_lit = ~is_qt & ~is_iri & ~is_bnode
    return (
        kind.alias(f"{prefix}_kind"),
        value.alias(prefix),
        F.when(is_lit & (datatype != ""), datatype)
        .otherwise(F.lit(None))
        .alias(f"{prefix}_datatype"),
        F.when(is_lit & (lang != ""), lang)
        .otherwise(F.lit(None))
        .alias(f"{prefix}_lang"),
    )


def _tokenize_terms_py(line: str) -> list[str]:
    """Recursive-aware term tokenizer for the rare lines whose quoted
    triples nest deeper than the unrolled regex (QT_MAX_DEPTH). Pure
    Python, bracket-counting, so nesting is unbounded — the reference's
    recursion (OrderedRdfCompare.scala:45-51) without a depth cap.
    Token grammar matches TERM_RX exactly (incl. the bnode-label
    subset: alnum/_- with non-trailing dots)."""
    terms: list[str] = []
    i, n = 0, len(line)
    while i < n:
        c = line[i]
        if c in " \t\r":
            i += 1
        elif line.startswith("<<", i):
            depth, j = 0, i
            while j < n:
                if line.startswith("<<", j):
                    depth, j = depth + 1, j + 2
                elif line.startswith(">>", j):
                    depth, j = depth - 1, j + 2
                    if depth == 0:
                        break
                elif line[j] == '"':
                    j += 1
                    while j < n and line[j] != '"':
                        j += 2 if line[j] == "\\" else 1
                    j += 1
                elif line[j] == "<":
                    j = line.index(">", j) + 1
                else:
                    j += 1
            terms.append(line[i:j])
            i = j
        elif c == "<":
            j = line.index(">", i) + 1
            terms.append(line[i:j])
            i = j
        elif c == "_" and line.startswith("_:", i):
            # same ASCII label class as TERM_RX: first char [A-Za-z0-9_],
            # body [A-Za-z0-9_.-], never ending in '.' (that dot is the
            # statement terminator). str.isalnum() would be unicode-wide
            # and accept labels the JVM regex rejects.
            j = i + 2
            if j < n and (line[j].isascii() and (line[j].isalnum() or line[j] == "_")):
                j += 1
                while j < n and line[j].isascii() and (
                    line[j].isalnum() or line[j] in "_-."
                ):
                    j += 1
                while line[j - 1] == ".":  # trailing dot = statement terminator
                    j -= 1
                terms.append(line[i:j])
                i = j
            else:
                i += 2  # '_:' with no valid label start: no term, as in TERM_RX
        elif c == '"':
            j = i + 1
            while j < n and line[j] != '"':
                j += 2 if line[j] == "\\" else 1
            j += 1
            if line.startswith("^^<", j):
                j = line.index(">", j) + 1
            elif j < n and line[j] == "@":
                j += 1
                while j < n and (line[j].isalnum() or line[j] == "-"):
                    j += 1
            terms.append(line[i:j])
            i = j
        elif c in ".#":
            break
        else:
            i += 1
    return terms


_UNESC_RX = __import__("re").compile(r"\\(.)")
_UNESC_MAP = {"t": "\t", "r": "\r", "n": "\n", '"': '"', "\\": "\\"}


def _unescape_py(s: str) -> str:
    """Python mirror of the column _unescape: one left-to-right pass, so
    '\\\\t' decodes to backslash + 't' (not backslash + TAB); unknown
    escapes pass through unchanged, matching the column version."""
    return _UNESC_RX.sub(
        lambda m: _UNESC_MAP.get(m.group(1), "\\" + m.group(1)), s
    )


def _classify_py(term: str | None):
    """Python mirror of the column _classify: term → (value, kind, dt, lang)."""
    import re as _re

    if term is None:
        return None, None, None, None
    if term.startswith("<<"):
        return term, KIND_QUOTED, None, None
    if term.startswith("<"):
        return term[1:-1], KIND_IRI, None, None
    if term.startswith("_:"):
        return term[2:], KIND_BNODE, None, None
    lex = _re.match(r'^"((?:[^"\\]|\\.)*)"', term).group(1)
    dt = _re.search(r"\^\^<([^>]*)>$", term)
    lang = _re.search(r"@([A-Za-z0-9-]+)$", term)
    return (
        _unescape_py(lex),
        KIND_LITERAL,
        dt.group(1) if dt else None,
        lang.group(1) if lang else None,
    )


def _parse_lines_py(lines: DataFrame, text_col: str) -> DataFrame:
    """mapInPandas fallback parser: unbounded quoted-triple nesting."""
    schema = (
        "subj string, subj_kind int, pred string, pred_kind int, "
        "obj string, obj_kind int, obj_datatype string, obj_lang string, "
        "graph string, graph_kind int, "
        "subj_dt string, subj_lang string, pred_dt string, pred_lang string, "
        "graph_dt string, graph_lang string"
    )

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for line in pdf[text_col]:
                try:
                    t = _tokenize_terms_py(line)
                    if len(t) not in (3, 4):
                        continue
                    sv, sk, sdt, slang = _classify_py(t[0])
                    pv, pk, pdt, plang = _classify_py(t[1])
                    ov, ok, odt, olang = _classify_py(t[2])
                    gv, gk, gdt, glang = _classify_py(
                        t[3] if len(t) == 4 else None
                    )
                except (ValueError, AttributeError, IndexError):
                    # malformed line (unterminated IRI/literal, truncated
                    # term): the JVM regex path silently drops such lines
                    # — match that, don't crash the task (divergent
                    # failure mode otherwise). AttributeError covers
                    # _classify_py's literal regex returning None.
                    continue
                rows.append(
                    (sv, sk, pv, pk, ov, ok, odt, olang, gv, gk,
                     sdt, slang, pdt, plang, gdt, glang)
                )
            yield pd.DataFrame(rows, columns=TRIPLE_COLS_FULL)

    return lines.mapInPandas(parse, schema)


def parse_lines(lines: DataFrame, text_col: str = "value") -> DataFrame:
    """N-Triples/N-Quads lines → term-model triples. Lines that are blank
    or comments are dropped; 3 terms ⇒ default graph (null), 4 ⇒ quad.

    Quoted triples nested deeper than QT_MAX_DEPTH are beyond the JVM
    regex, so lines with more than QT_MAX_DEPTH "<<" occurrences (a
    conservative JVM-side filter — breadth can trip it, depth always
    does) are parsed by the unbounded Python tokenizer and unioned after
    the rest. One JVM-side probe job looks for such lines first: an
    input without them keeps a Python-free plan, so readers that scan
    it many times (validate, the encoder) pay no Python task per scan."""
    deep = (F.size(F.split(F.col(text_col), F.lit("<<"), -1)) - 1) > QT_MAX_DEPTH
    if lines.filter(deep).isEmpty():
        return _parse_lines_jvm(lines, text_col)
    return _parse_lines_jvm(lines.filter(~deep), text_col).unionByName(
        _parse_lines_py(lines.filter(deep), text_col)
    )


def _parse_lines_jvm(lines: DataFrame, text_col: str) -> DataFrame:
    """The regex tokenizer: quoted triples up to QT_MAX_DEPTH."""
    terms = F.regexp_extract_all(F.col(text_col), F.lit(TERM_RX), F.lit(1))
    rows = (
        lines.filter(~F.col(text_col).rlike(r"^\s*(#.*)?$"))
        .select(terms.alias("t"))
        .filter(F.size("t").isin(3, 4))
        .select(
            F.element_at("t", 1).alias("s_raw"),
            F.element_at("t", 2).alias("p_raw"),
            F.element_at("t", 3).alias("o_raw"),
            F.when(F.size("t") == 4, F.element_at("t", 4)).alias("g_raw"),
        )
    )
    sk, sv, sdt, slang = _classify(F.col("s_raw"), "s")
    pk, pv, pdt, plang = _classify(F.col("p_raw"), "p")
    ok, ov, odt, olang = _classify(F.col("o_raw"), "o")
    gk, gv, gdt, glang = _classify(F.col("g_raw"), "g")
    has_g = F.col("g_raw").isNotNull()
    return rows.select(
        sv.alias("subj"), sk.alias("subj_kind"),
        pv.alias("pred"), pk.alias("pred_kind"),
        ov.alias("obj"), ok.alias("obj_kind"),
        odt.alias("obj_datatype"), olang.alias("obj_lang"),
        F.when(has_g, gv).alias("graph"),
        F.when(has_g, gk).alias("graph_kind"),
        sdt.alias("subj_dt"), slang.alias("subj_lang"),
        pdt.alias("pred_dt"), plang.alias("pred_lang"),
        F.when(has_g, gdt).alias("graph_dt"),
        F.when(has_g, glang).alias("graph_lang"),
    )


def read_nquads(spark: SparkSession, path: str) -> DataFrame:
    return parse_lines(spark.read.text(path))


def _render_term(value: Column, kind: Column, datatype: Column, lang: Column) -> Column:
    lit_suffix = (
        F.when(datatype.isNotNull(), F.concat(F.lit("^^<"), datatype, F.lit(">")))
        .when(lang.isNotNull(), F.concat(F.lit("@"), lang))
        .otherwise(F.lit(""))
    )
    return (
        F.when(kind == KIND_QUOTED, value)  # self-delimiting "<< ... >>"
        .when(kind == KIND_IRI, F.concat(F.lit("<"), value, F.lit(">")))
        # flat extraction schemas store bnodes as "_:x" (kind inferred);
        # the parsed term model stores the bare label — accept either
        .when(kind == KIND_BNODE, F.concat(F.lit("_:"), F.regexp_replace(value, "^_:", "")))
        .otherwise(F.concat(F.lit('"'), _escape(value), F.lit('"'), lit_suffix))
    )


def render_lines(triples: DataFrame) -> DataFrame:
    """Term-model triples → one N-Quads line per row (column `line`).
    Works for the flat extraction schema too: missing *_kind columns
    default to IRI (bnode-prefixed values excepted), missing datatype/
    lang to plain literals."""
    cols = set(triples.columns)

    def col_or(name: str, default: Column) -> Column:
        return F.col(name) if name in cols else default

    infer = lambda vcol: F.when(  # noqa: E731
        F.col(vcol).startswith("_:"), F.lit(KIND_BNODE)
    ).otherwise(F.lit(KIND_IRI))
    null_s = F.lit(None).cast("string")
    s = _render_term(
        F.col("subj"), col_or("subj_kind", infer("subj")),
        col_or("subj_dt", null_s), col_or("subj_lang", null_s),
    )
    p = _render_term(
        F.col("pred"), col_or("pred_kind", F.lit(KIND_IRI)),
        col_or("pred_dt", null_s), col_or("pred_lang", null_s),
    )
    o = _render_term(
        F.col("obj"),
        col_or("obj_kind", infer("obj")),
        col_or("obj_datatype", F.lit(None).cast("string")),
        col_or("obj_lang", F.lit(None).cast("string")),
    )
    g = (
        F.when(
            col_or("graph", F.lit(None).cast("string")).isNotNull(),
            F.concat(
                F.lit(" "),
                _render_term(
                    F.col("graph") if "graph" in cols else F.lit(""),
                    col_or("graph_kind", infer("graph") if "graph" in cols else F.lit(KIND_IRI)),
                    col_or("graph_dt", null_s),
                    col_or("graph_lang", null_s),
                ),
            ),
        ).otherwise(F.lit(""))
    )
    return triples.select(
        F.concat(s, F.lit(" "), p, F.lit(" "), o, g, F.lit(" .")).alias("line")
    )


def write_nquads(triples: DataFrame, path: str, single_file: bool = False) -> None:
    """Render + text sink. ``single_file=True`` mirrors the reference's
    one-output-stream CLI shape (coalesce(1) — the documented memory
    hazard of batch writers, StreamRdfBatchWriter.scala:13-16); default
    is a parallel multi-part write."""
    out = render_lines(triples)
    if single_file:
        out = out.coalesce(1)
    out.write.mode("overwrite").text(path)
