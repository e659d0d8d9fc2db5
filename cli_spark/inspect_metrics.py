"""``rdf inspect`` as Spark jobs (SURVEY.md §2.4 A1-A6): per-frame and
aggregate row-kind metrics over a frames/rows table, term×node-kind
detail with the three report granularities, YAML rendering driver-side
(the reference prints YAML — MetricsPrinter.scala:258-293)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .jelly import (
    KIND_DATATYPE,
    KIND_GRAPH_END,
    KIND_GRAPH_START,
    KIND_NAME,
    KIND_NAMESPACE,
    KIND_OPTIONS,
    KIND_PREFIX,
    KIND_QUAD,
    KIND_TRIPLE,
)

# the reference's full counter battery, in FrameInfo.format() order
# (MetricsPrinter.scala:99-112); frame_ and row_ are handled separately
_FULL_COUNTERS = (
    ("option", KIND_OPTIONS),
    ("triple", KIND_TRIPLE),
    ("quad", KIND_QUAD),
    ("graph_start", KIND_GRAPH_START),
    ("graph_end", KIND_GRAPH_END),
    ("namespace", KIND_NAMESPACE),
    ("name", KIND_NAME),
    ("prefix", KIND_PREFIX),
    ("datatype", KIND_DATATYPE),
)


def per_frame_metrics_full(rows: DataFrame) -> DataFrame:
    """(seg, frame_index, frame_count, row_count, option_count, ...,
    datatype_count) — the reference's FULL 11-counter battery in its
    printer order (FrameInfo.format, MetricsPrinter.scala:35-112),
    CountStatistic strategy. The CLI count-report path; the SizeStatistic
    path is the exact wire tag-walk `jelly.frame_wire_size_stats`."""
    aggs = [
        F.sum(
            F.when(F.col("row_kind") == kind, 1).otherwise(0)
        ).alias(f"{name}_count")
        for name, kind in _FULL_COUNTERS
    ]
    # frame_ statistic: measure(frame) = 1 per frame in count mode
    frame_stat = F.lit(1).cast("long").alias("frame_count")
    return (
        rows.groupBy("seg", "frame_index")
        .agg(frame_stat, F.count(F.lit(1)).alias("row_count"), *aggs)
    )


def stream_totals(per_frame: DataFrame) -> DataFrame:
    """One-row roll-up of a per-frame table (count or size statistic):
    every counter column summed under its own name, led by
    ``frame_count``. The count table already carries ``frame_count`` (1
    per frame), so it is summed like the rest; the size table leads with
    ``frame_size``, so the frame count is counted in front of it."""
    cols = [c for c in per_frame.columns if c not in ("seg", "frame_index")]
    lead = [] if "frame_count" in cols else [F.count(F.lit(1)).alias("frame_count")]
    return per_frame.agg(*lead, *[F.sum(c).alias(c) for c in cols])


def per_frame_metrics(rows: DataFrame) -> DataFrame:
    """(seg, frame_index, option_count, name_count, triple_count,
    row_count) — the A1 counters the battery and oracle pin (q51), a
    projection of :func:`per_frame_metrics_full`."""
    return per_frame_metrics_full(rows).select(
        "seg", "frame_index", "option_count", "name_count", "triple_count",
        "row_count",
    )


# NodeDetailInfo taxonomy (MetricsPrinter.scala:123-147): wire term
# kinds 0-4 map 1:1 onto the reference's five node classes
_NODE_KIND_NAMES = {
    0: "iri", 1: "bnode", 2: "literal", 3: "triple", 4: "default_graph",
}
_TERM_POSITIONS = (
    # (name, term_mask bit, kind column) — mask bit set iff the term was
    # EXPLICIT on the wire (repeated-term guards, MetricsPrinter:186-199)
    ("subject", 1, "subj_kind"),
    ("predicate", 2, "pred_kind"),
    ("object", 4, "obj_kind"),
    ("graph", 8, "graph_kind"),
)


def wire_term_detail(rows: DataFrame, per_frame: bool = False) -> DataFrame:
    """(seg?, frame_index?, term_pos, node_kind, n) — node-kind counts
    per term position over EXPLICITLY-encoded statement terms, the data
    behind the reference's ``--detail`` formatters (MetricsPrinter.scala
    :201-255). One melt + one groupBy; the result is ≤ 4×5 rows (per
    frame when ``per_frame``), a bounded driver artifact."""
    keys = ["seg", "frame_index"] if per_frame else []
    stmts = rows.filter(F.col("row_kind").isin(KIND_TRIPLE, KIND_QUAD))
    melted = None
    for pos, bit, kcol in _TERM_POSITIONS:
        part = stmts.filter(
            F.col("term_mask").bitwiseAND(F.lit(bit)) != 0
        ).select(
            *keys,
            F.lit(pos).alias("term_pos"),
            F.col(kcol).cast("int").alias("node_kind"),
        )
        melted = part if melted is None else melted.unionByName(part)
    return melted.groupBy(*keys, "term_pos", "node_kind").agg(
        F.count(F.lit(1)).alias("n")
    )


def _kind_name(v) -> str:
    """node_kind → label; accepts the int taxonomy (resolver counts)
    or the wire-size rows' string labels."""
    return v if isinstance(v, str) else _NODE_KIND_NAMES[int(v)]


def format_detail(counts: list, mode: str, sfx: str = "count") -> dict:
    """Rows of (term_pos, node_kind, n) → the reference's three report
    shapes: 'all' = per-position node maps (subject/predicate/object/
    graph), 'node' = node_details summed across positions, 'term' =
    term_details totals per position (MetricsPrinter.scala:237-255).
    ``sfx`` follows statCollector.name(): 'count' or 'size'.
    Driver-side on the tiny counts."""
    if mode == "term":
        tot = {pos: 0 for pos, _, _ in _TERM_POSITIONS}
        for r in counts:
            tot[r["term_pos"]] += int(r["n"])
        return {
            "term_details": {f"{p}_{sfx}": tot[p] for p, _, _ in _TERM_POSITIONS}
        }
    if mode == "node":
        tot = {name: 0 for name in _NODE_KIND_NAMES.values()}
        for r in counts:
            tot[_kind_name(r["node_kind"])] += int(r["n"])
        # zero counts are omitted (NodeDetailInfo.format's `.filter(_._2
        # > 0)`; RdfInspectSpec asserts bnode_count is absent) — only
        # the term_details totals above always print all four positions
        return {
            "node_details": {f"{k}_{sfx}": v for k, v in tot.items() if v > 0}
        }
    out = {
        pos: {f"{k}_{sfx}": 0 for k in _NODE_KIND_NAMES.values()}
        for pos, _, _ in _TERM_POSITIONS
    }
    for r in counts:
        out[r["term_pos"]][
            f"{_kind_name(r['node_kind'])}_{sfx}"
        ] += int(r["n"])
    return {
        pos: {k: v for k, v in m.items() if v > 0}
        for pos, m in out.items()
        if any(v > 0 for v in m.values())
    }


def term_detail(triples: DataFrame) -> DataFrame:
    """(term_pos, node_kind, n) with GROUPING SETS — A4 node-kind detail
    × A5 granularities (all / by node / by term). node_kind follows the
    NodeDetailInfo taxonomy (0=iri, 1=bnode, 2=literal)."""
    kind_of = lambda c: F.when(F.col(c).startswith("_:"), F.lit(1)).otherwise(F.lit(0))  # noqa: E731
    terms = (
        triples.select(F.lit("subject").alias("term_pos"), kind_of("subj").alias("node_kind"))
        .unionAll(triples.select(F.lit("predicate"), kind_of("pred")))
        .unionAll(
            triples.select(
                F.lit("object"),
                F.coalesce(F.col("obj_kind").cast("int"), kind_of("obj")).alias("k"),
            )
        )
    )
    terms.createOrReplaceTempView("_term_detail")
    return triples.sparkSession.sql(
        """
        SELECT term_pos, node_kind, COUNT(*) AS n FROM _term_detail
        GROUP BY GROUPING SETS ((term_pos, node_kind), (term_pos), (node_kind))
        """
    )


def render_yaml(metrics: dict) -> str:
    """Tiny YAML renderer (scalars + nested dicts/lists) mirroring
    YamlDocBuilder (cli/util/io/YamlDocBuilder.scala:5-89) — driver-side,
    metrics are small aggregates."""

    def esc(s: str) -> str:
        if any(ch in s for ch in '\\"\n\r\t') or s != s.strip():
            return '"' + s.replace("\\", "\\\\").replace('"', '\\"').replace(
                "\n", "\\n"
            ).replace("\r", "\\r").replace("\t", "\\t") + '"'
        return s

    def scalar(v) -> str:
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, str):
            # empty string must render as "" (a bare empty value is
            # YAML null) — the reference's YamlString always quotes
            return '""' if v == "" else esc(v)
        return str(v)

    def walk(v, indent: int) -> str:
        pad = "  " * indent
        if isinstance(v, dict):
            lines = []
            for k, x in v.items():
                if isinstance(x, (dict, list)) and x:
                    lines.append(f"{pad}{k}:")
                    lines.append(walk(x, indent + 1))
                else:
                    inline = "{}" if isinstance(x, dict) else (
                        "[]" if isinstance(x, list) else scalar(x)
                    )
                    lines.append(f"{pad}{k}: {inline}")
            return "\n".join(lines)
        if isinstance(v, list):
            lines = []
            for x in v:
                if isinstance(x, (dict, list)) and x:
                    # block item: "- " replaces the first line's extra
                    # indent; continuation lines stay one level deeper,
                    # aligned with the content after the dash
                    block = walk(x, indent + 1)
                    first, _, rest = block.partition("\n")
                    lines.append(f"{pad}- {first.strip()}")
                    if rest:
                        lines.append(rest)
                else:
                    inline = "{}" if isinstance(x, dict) else (
                        "[]" if isinstance(x, list) else scalar(x)
                    )
                    lines.append(f"{pad}- {inline}")
            return "\n".join(lines)
        return scalar(v)

    return walk(metrics, 0) + "\n"
