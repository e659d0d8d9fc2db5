"""RDF comparison battery — the distributed re-expression of
``rdf validate`` (SURVEY.md §2.3, §3.3). Unlike the reference, which
materializes every frame in memory (RdfValidate.scala:101, documented
OOM), every comparison here is a join or an aggregate, and each check
battery costs a fixed number of Spark actions, not one per check: the
reference's single pass over the stream (RdfValidate.scala:101-200)
becomes one aggregate over the rows.

- :func:`ordered_compare`     J1: positional equality with blank-node
  bijection (OrderedRdfCompare.scala:10-75) — sizes and per-column
  position mismatches in one aggregate over a full join on ``idx``
- :func:`unordered_compare`   J2: per-graph isomorphism via iterative
  hash-refinement canonical bnode labeling (UnorderedRdfCompare.scala:10-34)
  — both sides refined in one loop, the verdict in one aggregate
- :func:`containment`         J3: expected ⊆ actual via left-anti join
- :func:`validate_stream`     P5/P8/P10 structural checks over a rows
  table, all in one aggregate
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BNODE_PREFIX = "_:"
REFINE_ROUNDS = 5


@dataclass
class CompareResult:
    equal: bool
    detail: str


def _is_bnode(col):
    return col.startswith(BNODE_PREFIX)


def ordered_compare(
    expected: DataFrame,
    actual: DataFrame,
    cols: tuple[str, ...] = ("subj", "pred", "obj"),
) -> CompareResult:
    """Positional compare with bnode bijection (J1). Inputs must carry a
    deterministic order column ``idx`` (or be small enough for a window).

    Mirrors the reference's one-directional functional check
    (OrderedRdfCompare.scala:38-44): each expected bnode label maps to
    exactly one actual label. ``cols`` extends the positional check to
    quads (pass a 4th graph column, nulls coalesced by the caller —
    the reference compares full datasets via its AnyStatementHandler,
    RdfValidate.scala:173-181).

    Both sides' sizes and every column's count of differing positions
    come from one aggregate over a full join on ``idx`` (with unique
    1..n ranks and equal sizes, the rows present on both sides are the
    inner join); the first failing check in the order size, ``cols``,
    bijection is reported. The bijection is a second action, run only
    when the positions agree.
    """
    def with_idx(df):
        if "idx" in df.columns:
            return df
        # "stream order as given": source-layout order via the partition-
        # indexed monotonic id, ranked with the partition-offset technique
        # (parallel AND deterministic w.r.t. the source layout — the old
        # row_number-over-lit(1) fallback was a single task whose order
        # was undefined after a shuffle). Callers that shuffled upstream
        # must pass an explicit idx column.
        from .order import global_row_number

        tagged = df.withColumn("_src_pos", F.monotonically_increasing_id())
        return global_row_number(tagged, ["_src_pos"], rn_col="idx").drop("_src_pos")

    e, a = with_idx(expected).alias("e"), with_idx(actual).alias("a")
    j = e.join(a, F.col("e.idx") == F.col("a.idx"), "full")
    paired = F.col("e.idx").isNotNull() & F.col("a.idx").isNotNull()

    # Positional equality with bnode labels MASKED — this recurses into
    # RDF-star quoted-triple terms for free (OrderedRdfCompare.scala:45-51):
    # a "<< _:x <p> _:y >>" term masks to "<< _:ω <p> _:ω >>", so two
    # quoted terms are position-equal iff their non-bnode structure is
    # identical; their inner labels feed the same bijection as top-level
    # bnodes. Masking applies only to bnode terms and quoted-triple
    # terms, so literals containing the text "_:" are untouched.
    _LABEL_RX = "_:[A-Za-z0-9_](?:[A-Za-z0-9_\\-.]*[A-Za-z0-9_\\-])?"

    def masked(col):
        needs = _is_bnode(col) | col.startswith("<<")
        return F.when(
            needs, F.regexp_replace(col, _LABEL_RX, "_:ω")
        ).otherwise(col)

    counts = j.agg(
        F.count("e.idx").alias("ne"),
        F.count("a.idx").alias("na"),
        *[
            F.count(F.when(
                paired & ~masked(F.col(f"e.{c}")).eqNullSafe(masked(F.col(f"a.{c}"))),
                1,
            )).alias(f"bad{i}")
            for i, c in enumerate(cols)
        ],
    ).first()
    if counts["ne"] != counts["na"]:
        return CompareResult(
            False, f"size mismatch: expected {counts['ne']} != actual {counts['na']}"
        )
    for i, c in enumerate(cols):
        if counts[f"bad{i}"]:
            return CompareResult(False, f"{counts[f'bad{i}']} positions differ in {c}")
    # bnode bijection (functional e→a): every expected label pairs with
    # exactly one actual label across all positions, including labels
    # inside quoted triples (zipped in source order — masked equality
    # above guarantees equal counts and matching positions)
    pairs = None
    for c in cols:
        has_labels = _is_bnode(F.col(f"e.{c}")) | F.col(f"e.{c}").startswith("<<")
        p = (
            j.filter(paired & has_labels)
            .select(
                F.explode(
                    F.arrays_zip(
                        F.regexp_extract_all(F.col(f"e.{c}"), F.lit(_LABEL_RX), F.lit(0)),
                        F.regexp_extract_all(F.col(f"a.{c}"), F.lit(_LABEL_RX), F.lit(0)),
                    )
                ).alias("z")
            )
            .select(F.col("z.0").alias("e_label"), F.col("z.1").alias("a_label"))
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    if pairs is None:
        return CompareResult(True, "equal (no bnodes)")
    violations = (
        pairs.distinct()
        .groupBy("e_label")
        .agg(F.countDistinct("a_label").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    if violations:
        return CompareResult(False, f"{violations} bnode labels map to multiple targets")
    return CompareResult(True, "equal")


def _with_graph(triples: DataFrame) -> DataFrame:
    return triples.withColumn("graph", F.coalesce(F.col("graph"), F.lit("")))


def _refined_labels(g: DataFrame, scope: list[str], rounds: int) -> DataFrame:
    """(*scope, label, canon): the canonical label of every bnode label
    of ``g`` within its ``scope`` key. The scope key only partitions the
    graph — it never enters the md5 input — so refining two sides at
    once under (side, graph) gives each side the labels it gets alone
    under (graph)."""
    # edges incident to bnodes, both directions
    occ = None
    for c, d in (("subj", "s"), ("obj", "o")):
        other = "obj" if c == "subj" else "subj"
        e = g.filter(_is_bnode(F.col(c))).select(
            *scope,
            F.col(c).alias("label"),
            F.lit(d).alias("dir"),
            F.col("pred"),
            F.col(other).alias("neighbor"),
        )
        occ = e if occ is None else occ.unionByName(e)
    # occ feeds every refinement round; each round's labels are
    # checkpointed, so after the loop nothing reads occ (with rounds=0
    # the returned plan reads it once) and its cache is released here
    occ = occ.persist()

    def fold(nb):
        # hash of the sorted multiset of (dir, pred, neighbor signature)
        return nb.groupBy(*scope, "label").agg(
            F.md5(
                F.concat_ws(
                    "|", F.sort_array(F.collect_list(F.concat_ws(":", "dir", "pred", "nsig")))
                )
            ).alias("h")
        )

    # initial signature: degree-ish — bnode neighbors start as "?"
    labels = fold(occ.withColumn(
        "nsig",
        F.when(_is_bnode(F.col("neighbor")), F.lit("?")).otherwise(F.col("neighbor")),
    ))
    for _ in range(rounds):
        nb = occ.join(
            labels.select(*scope, F.col("label").alias("neighbor"), F.col("h").alias("nh")),
            [*scope, "neighbor"],
            "left",
        ).withColumn("nsig", F.coalesce(F.col("nh"), F.col("neighbor")))
        labels = fold(nb).localCheckpoint()
    occ.unpersist()
    return labels.select(
        *scope, "label", F.concat(F.lit("_:c"), F.col("h")).alias("canon")
    )


def _canonicalized(g: DataFrame, scope: list[str], keep: list[str]) -> DataFrame:
    """Rewrite ``g``'s bnode labels to their canonical refinement hashes
    within ``scope``; IRIs and literals pass through. Output:
    (*scope, subj, pred, obj, *keep)."""
    labels = _refined_labels(g, scope, REFINE_ROUNDS)
    return (
        g.join(
            labels.select(*scope, F.col("label").alias("subj"), F.col("canon").alias("sc")),
            [*scope, "subj"],
            "left",
        )
        .join(
            labels.select(*scope, F.col("label").alias("obj"), F.col("canon").alias("oc")),
            [*scope, "obj"],
            "left",
        )
        .select(
            *scope,
            F.coalesce("sc", "subj").alias("subj"),
            "pred",
            F.coalesce("oc", "obj").alias("obj"),
            *keep,
        )
    )


def canonicalize_bnodes(triples: DataFrame) -> DataFrame:
    """Rewrite bnode labels to canonical refinement hashes; IRIs and
    literals pass through. Output: (graph, subj, pred, obj, obj_kind?)."""
    keep = ["obj_kind"] if "obj_kind" in triples.columns else []
    return _canonicalized(_with_graph(triples), ["graph"], keep)


def unordered_compare(expected: DataFrame, actual: DataFrame) -> CompareResult:
    """Per-graph isomorphism check (J2): graph sets equal, each graph's
    canonicalized triple multiset equal.

    Both sides are tagged ``side`` 0/1 and refined in ONE loop scoped by
    (side, graph), each side's labels byte-identical to its
    :func:`canonicalize_bnodes` labels. The verdict is one aggregate:
    per canonical row the two sides' multiplicities, per graph
    Σ|ne − na| and which sides have rows there, then one global row with
    the number of graphs on one side only and the total difference —
    the same counts as exceptAll both ways over the graph sets and the
    triple multisets."""
    keep = [c for c in ("obj_kind",) if c in expected.columns and c in actual.columns]
    cols = ["graph", "subj", "pred", "obj", *keep]
    both = expected.select(*cols, F.lit(0).alias("side")).unionByName(
        actual.select(*cols, F.lit(1).alias("side"))
    )
    canon = _canonicalized(_with_graph(both), ["side", "graph"], keep)
    verdict = (
        canon.groupBy(*cols)
        .agg(
            F.count(F.when(F.col("side") == 0, 1)).alias("ne"),
            F.count(F.when(F.col("side") == 1, 1)).alias("na"),
        )
        .groupBy("graph")
        .agg(
            F.sum(F.abs(F.col("ne") - F.col("na"))).alias("d"),
            (F.sum("ne") > 0).alias("in_e"),
            (F.sum("na") > 0).alias("in_a"),
        )
        .agg(
            F.count(F.when(F.col("in_e") != F.col("in_a"), 1)).alias("graphs"),
            F.sum("d").alias("diff"),
        )
        .first()
    )
    if verdict["graphs"]:
        return CompareResult(False, f"graph sets differ ({verdict['graphs']} unmatched)")
    if verdict["diff"]:
        return CompareResult(False, f"{verdict['diff']} canonicalized triples unmatched")
    return CompareResult(True, "isomorphic")


def containment(expected: DataFrame, actual: DataFrame, keys=("subj", "pred", "obj")) -> int:
    """J3: # expected triples missing from actual (0 ⇒ contained)."""
    return expected.select(*keys).distinct().join(
        actual.select(*keys).distinct(), list(keys), "left_anti"
    ).count()


def validate_stream(rows: DataFrame) -> list[str]:
    """Structural validation of a decoded rows table (P5/P8/P10 analogs):
    returns a list of violation strings (empty ⇒ valid).

    - every sub-stream's first row is an options row
      (RdfValidate.scala:118-121)
    - every options row declares a supported version, a known physical
      type, a logical type that is known and compatible with it, and a
      name table of at least 8 entries (RdfValidate.scala:118-143)
    - statement rows are fully resolved (the resolver inlines every
      table ref and elided term; a NULL s/p/o value on a statement row
      means the stream was malformed)
    - dictionary entry ids stay within the table sizes their
      sub-stream's options row declares
    - P8 flag conformance (RdfValidate.scala:159-182, isGeneralized /
      isRdfStar in StatementUtils.scala:14-25): statements whose
      explicit term kinds exceed what their sub-stream's options
      declare; the first offending frame is named, like the
      reference's CriticalException
    - every later options row equals the first
      (RdfValidate.scala:192-195)

    One action whatever the number of checks: a small groupBy over the
    options rows is broadcast to the rows, and ONE aggregate computes
    every check. A failed check gives one line, naming the first
    offending row's values in (seg, frame, row) order.
    """
    from .jelly import (KIND_DATATYPE, KIND_NAME, KIND_OPTIONS, KIND_PREFIX,
                        KIND_QUAD, KIND_TRIPLE, LOGICAL_COMPAT, LOGICAL_NAMES,
                        PHYSICAL_GRAPHS, PHYSICAL_QUADS, PHYSICAL_TRIPLES,
                        VERSION_MAX)

    kind, frame, row_pos = F.col("row_kind"), F.col("frame_index"), F.col("row_pos")
    is_opts = kind == KIND_OPTIONS
    # Sub-streams: each options row starts one, so a row's sub-stream
    # index is the number of its file segment's options rows at or
    # before it, minus one (−1: before the segment's first options row).
    # Options rows are rare, so their positions, declared table sizes
    # and flags are collected per segment, sorted, and broadcast — the
    # big side never shuffles and no window serializes a single-file
    # import.
    opts = (
        rows.filter(is_opts)
        .groupBy("seg")
        .agg(F.sort_array(F.collect_list(F.struct(
            frame.alias("f"), row_pos.alias("p"),
            F.col("opt_max_name").alias("name"),
            F.col("opt_max_prefix").alias("prefix"),
            F.col("opt_max_dt").alias("dt"),
            F.col("opt_flags").alias("flags"),
        ))).alias("_opts"))
    )
    with_opts = rows.join(F.broadcast(opts), "seg", "left").withColumn(
        "_opts", F.coalesce("_opts", F.array().cast(opts.schema["_opts"].dataType))
    )
    sub = F.size(F.filter(
        "_opts", lambda o: (o["f"] < frame) | ((o["f"] == frame) & (o["p"] <= row_pos))
    )) - 1
    # a sub-stream's own options row, null before the first one
    declared = F.get(F.col("_opts"), sub)
    # Re-assigning a previously-used entry id is LEGAL Jelly (bounded
    # tables overwrite slots once full), so id reuse is not a problem.
    # What IS a violation: an entry id above the table size the stream's
    # own options declared — no decoder can store it.
    entry_limit = (
        F.when(kind == KIND_NAME, declared["name"])
        .when(kind == KIND_PREFIX, declared["prefix"])
        .when(kind == KIND_DATATYPE, declared["dt"])
    )
    # a flag bit the row's own sub-stream does not declare
    undeclared = lambda bit: (  # noqa: E731
        F.coalesce(declared["flags"], F.lit(0)).bitwiseAND(bit) == 0
    )
    is_stmt = kind.isin(KIND_TRIPLE, KIND_QUAD)
    s_kind, p_kind = F.col("subj_kind"), F.col("pred_kind")
    o_kind, g_kind = F.col("obj_kind"), F.col("graph_kind")
    version, physical = F.col("opt_version"), F.col("opt_physical")
    logical = F.col("opt_logical")
    compatible = F.lit(False)
    for lt, phys in LOGICAL_COMPAT.items():
        compatible = compatible | ((logical == lt) & physical.isin(*sorted(phys)))
    # the first offending row in stream order, with the values named
    first = lambda pred, *vals: F.min(F.when(pred, F.struct(  # noqa: E731
        F.col("seg"), frame, row_pos, *vals,
    )))
    # an options row whose field check is false or null
    fails = lambda ok: is_opts & ~F.coalesce(ok, F.lit(False))  # noqa: E731
    options = F.when(is_opts, F.struct(
        version, physical, logical, F.col("opt_flags"), F.col("opt_max_name"),
        F.col("opt_max_prefix"), F.col("opt_max_dt"), F.col("aux"),
    ))
    checks = with_opts.agg(
        # for every sub-stream ≥ 0 the first row is its own options row,
        # so only the rows ahead of a segment's first one can fail
        F.count_distinct(F.when(sub < 0, F.col("seg"))).alias("unstarted"),
        first(fails(version.between(1, VERSION_MAX)), version).alias("bad_version"),
        first(
            fails(physical.isin(PHYSICAL_TRIPLES, PHYSICAL_QUADS, PHYSICAL_GRAPHS)),
            physical,
        ).alias("bad_physical"),
        # UNSPECIFIED (0 or absent) fits every physical type
        first(
            fails((F.coalesce(logical, F.lit(0)) == 0) | compatible), logical, physical,
        ).alias("bad_logical"),
        first(is_opts & (F.col("opt_max_name") < 8), F.col("opt_max_name")).alias(
            "small_name_table"
        ),
        # fully-resolved contract: IRI/bnode/literal/quoted terms carry a
        # value; only a default-graph term is legitimately NULL
        F.count(F.when(is_stmt & (
            F.col("subj").isNull()
            | F.col("pred").isNull()
            | F.col("obj").isNull()
            | ((kind == KIND_QUAD) & F.col("graph").isNull() & (g_kind != 4))
        ), 1)).alias("unresolved"),
        F.count(F.when(
            entry_limit.isNotNull() & (entry_limit > 0) & (F.col("name_id") > entry_limit),
            1,
        )).alias("oob"),
        # isGeneralized: literal subject, non-IRI predicate, or (quad)
        # literal graph name (StatementUtils.scala:14-21)
        first(is_stmt & undeclared(1) & (
            (s_kind == 2) | (p_kind != 0) | ((kind == KIND_QUAD) & (g_kind == 2))
        )).alias("first_generalized"),
        # isRdfStar: any quoted-triple term (StatementUtils.scala:23-25)
        first(is_stmt & undeclared(2) & (
            (o_kind == 3) | (s_kind == 3) | (p_kind == 3) | (g_kind == 3)
        )).alias("first_rdf_star"),
        F.min(options).alias("options_lo"),
        F.max(options).alias("options_hi"),
    ).first()

    problems: list[str] = []
    if checks["unstarted"]:
        problems.append(f"{checks['unstarted']} segment(s) do not start with an options row")
    if checks["bad_version"] is not None:
        v = checks["bad_version"]["opt_version"]
        problems.append(
            f"options row declares invalid version {v}" if not v or v < 1
            else f"unsupported stream version {v} (max {VERSION_MAX})"
        )
    if checks["bad_physical"] is not None:
        problems.append(
            f"unknown physical stream type {checks['bad_physical']['opt_physical']}"
        )
    if checks["bad_logical"] is not None:
        lt, pt = checks["bad_logical"]["opt_logical"], checks["bad_logical"]["opt_physical"]
        problems.append(
            f"logical type {LOGICAL_NAMES[lt]} is incompatible with physical type {pt}"
            if lt in LOGICAL_COMPAT
            else f"unknown logical stream type {lt}"
        )
    if checks["small_name_table"] is not None:
        problems.append(
            f"name table size {checks['small_name_table']['opt_max_name']} "
            f"below the minimum of 8"
        )
    if checks["unresolved"]:
        problems.append(f"{checks['unresolved']} statement(s) with unresolved terms")
    if checks["oob"]:
        problems.append(
            f"{checks['oob']} dictionary entry id(s) exceed the declared "
            f"lookup-table size"
        )
    if checks["first_generalized"] is not None:
        problems.append(
            f"generalized statement in frame "
            f"{checks['first_generalized']['frame_index']} but the "
            f"stream options do not declare the generalized-RDF flag"
        )
    if checks["first_rdf_star"] is not None:
        problems.append(
            f"RDF-star statement in frame {checks['first_rdf_star']['frame_index']} "
            f"but the stream options do not declare the rdf-star flag"
        )
    if checks["options_lo"] != checks["options_hi"]:
        problems.append(
            "options changed mid-stream (later options rows must equal "
            "the first — RdfValidate.scala:192-195)"
        )
    return problems


# ---------------------------------------------------------------------------
# Eager term validation (--validate-terms)
#
# The reference's RdfPerformanceOptions.validateTerms
# (cli/command/rdf/util/RdfPerformanceOptions.scala:15-18) re-enables
# Jena's eager literal/IRI checking, which every command disables by
# default for speed (JenaSystemOptions.scala:14-37) except `rdf
# validate` (RdfValidate.scala:95: default TRUE there).  The Spark
# re-expression is one codegen-only filter pass over the statements
# table — no shuffle, no UDF:
#
#   - IRI terms must be absolute (scheme prefix) and free of the
#     characters N-Triples forbids inside <>: space/control, <>"{}|^`\
#   - language tags must be well-formed BCP47 subtags
#   - literals with a known XSD datatype must match that datatype's
#     lexical space (the integer family, decimal, float/double,
#     boolean, date, time, dateTime) — lexical-form checking, the same
#     layer Jena's EAGER LiteralLabel mode enforces
# ---------------------------------------------------------------------------

XSD_NS = "http://www.w3.org/2001/XMLSchema#"

_IRI_RX = r'^[A-Za-z][A-Za-z0-9+.\-]*:[^\x00-\x20<>"{}|^`\\]*$'
_LANG_RX = r"^[A-Za-z]{1,8}(-[A-Za-z0-9]{1,8})*$"
_INT_RX = r"^[+-]?[0-9]+$"
_UNSIGNED_RX = r"^\+?[0-9]+$"
_DEC_RX = r"^[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)$"
_FLOAT_RX = (
    r"^([+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?|[+-]?INF|NaN)$"
)
_TZ = r"(Z|[+-](0[0-9]|1[0-3]):[0-5][0-9]|[+-]14:00)?"
_DATE_BODY = r"-?[0-9]{4,}-(0[1-9]|1[0-2])-(0[1-9]|[12][0-9]|3[01])"
_TIME_BODY = r"([01][0-9]|2[0-3]):[0-5][0-9]:[0-5][0-9](\.[0-9]+)?"

XSD_LEXICAL_RX: dict[str, str] = {
    **{XSD_NS + t: _INT_RX for t in ("integer", "long", "int", "short", "byte",
                                     "negativeInteger", "nonPositiveInteger")},
    **{XSD_NS + t: _UNSIGNED_RX
       for t in ("nonNegativeInteger", "positiveInteger", "unsignedLong",
                 "unsignedInt", "unsignedShort", "unsignedByte")},
    XSD_NS + "decimal": _DEC_RX,
    XSD_NS + "float": _FLOAT_RX,
    XSD_NS + "double": _FLOAT_RX,
    XSD_NS + "boolean": r"^(true|false|0|1)$",
    XSD_NS + "date": f"^{_DATE_BODY}{_TZ}$",
    XSD_NS + "time": f"^{_TIME_BODY}{_TZ}$",
    XSD_NS + "dateTime": f"^{_DATE_BODY}T{_TIME_BODY}{_TZ}$",
}

# term-kind bytes shared with the statement model (jelly.py:112)
_K_IRI, _K_BNODE, _K_LITERAL = 0, 1, 2


def term_violations(stmts: DataFrame) -> DataFrame:
    """→ DataFrame['position','value','reason'] of term-validation
    failures in a statements table (triples or quads, annotated or
    flat — missing kind/datatype/langtag columns are inferred/ignored
    the same way the renderers do).  Empty ⇒ all terms valid."""
    cols = set(stmts.columns)
    get = lambda c: (  # noqa: E731
        F.col(c) if c in cols else F.lit(None).cast("string")
    )

    def infer_kind(c: str) -> "F.Column":
        return F.when(
            F.col(c).startswith(BNODE_PREFIX), F.lit(_K_BNODE)
        ).otherwise(F.lit(_K_IRI))

    positions = [
        ("subj", "subj_kind", "subj_dt", "subj_lang"),
        ("pred", "pred_kind", "pred_dt", "pred_lang"),
        ("obj", "obj_kind", "obj_datatype", "obj_lang"),
    ]
    if "graph" in cols:
        positions.append(("graph", "graph_kind", "graph_dt", "graph_lang"))

    stack_args: list = []
    for pos, kind_c, dt_c, lang_c in positions:
        value = F.col(pos)
        kind = (
            F.col(kind_c).cast("int") if kind_c in cols else infer_kind(pos)
        )
        dt, lang = get(dt_c), get(lang_c)
        lexical_ok = F.lit(True)
        for dt_iri, rx in XSD_LEXICAL_RX.items():
            lexical_ok = F.when(dt == dt_iri, value.rlike(rx)).otherwise(
                lexical_ok
            )
        reason = (
            F.when(
                value.isNotNull() & (kind == _K_IRI) & ~value.rlike(_IRI_RX),
                F.lit("invalid IRI"),
            )
            .when(
                lang.isNotNull() & ~lang.rlike(_LANG_RX),
                F.lit("invalid language tag"),
            )
            .when(
                value.isNotNull() & (kind == _K_LITERAL) & ~lexical_ok,
                F.concat(F.lit("invalid lexical form for <"), dt, F.lit(">")),
            )
        )
        stack_args += [F.lit(pos), value, reason]

    n = len(positions)
    return (
        stmts.select(
            F.stack(F.lit(n), *stack_args).alias("position", "value", "reason")
        )
        .filter(F.col("reason").isNotNull())
    )


def ensure_valid_terms(stmts: DataFrame, context: str = "input") -> None:
    """Raise ``ValueError`` naming the first invalid term (the typed
    CLI error the reference signals when --validate-terms is on and a
    term fails Jena's eager checks)."""
    hit = term_violations(stmts).limit(1).collect()
    if hit:
        r = hit[0]
        raise ValueError(
            f"term validation failed in {context}: {r['reason']} at "
            f"{r['position']}: {r['value']!r}"
        )
