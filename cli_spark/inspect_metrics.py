"""``rdf inspect`` reporting (SURVEY.md §2.4 A1-A6): the aggregate
roll-up of the per-frame statistics table, term×node-kind detail in
the three report granularities, and YAML rendering driver-side (the
reference prints YAML — MetricsPrinter.scala:258-293). The statistics
themselves come from one wire walk, ``jelly.frame_wire_size_stats`` and
``jelly.frame_wire_term_sizes``, for the count and size statistic
alike."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_totals(per_frame: DataFrame) -> DataFrame:
    """One-row roll-up of a per-frame table (count or size statistic):
    ``frame_count`` first (the number of frames), then every other
    counter column summed under its own name."""
    keys = ("seg", "frame_index", "frame_count")
    cols = [c for c in per_frame.columns if c not in keys]
    return per_frame.agg(
        F.count(F.lit(1)).alias("frame_count"),
        *[F.sum(c).alias(c) for c in cols],
    )


# NodeDetailInfo taxonomy (MetricsPrinter.scala:123-147): the wire's
# term kinds map 1:1 onto the reference's five node classes
_NODE_KINDS = ("iri", "bnode", "literal", "triple", "default_graph")
_TERM_POSITIONS = ("subject", "predicate", "object", "graph")


def format_detail(counts: list, mode: str, sfx: str = "count") -> dict:
    """Rows of (term_pos, node_kind, n) → the reference's three report
    shapes: 'all' = per-position node maps (subject/predicate/object/
    graph), 'node' = node_details summed across positions, 'term' =
    term_details totals per position (MetricsPrinter.scala:237-255).
    ``sfx`` follows statCollector.name(): 'count' or 'size'.
    Driver-side on the tiny counts."""
    if mode == "term":
        tot = dict.fromkeys(_TERM_POSITIONS, 0)
        for r in counts:
            tot[r["term_pos"]] += int(r["n"])
        return {
            "term_details": {f"{p}_{sfx}": tot[p] for p in _TERM_POSITIONS}
        }
    if mode == "node":
        tot = dict.fromkeys(_NODE_KINDS, 0)
        for r in counts:
            tot[r["node_kind"]] += int(r["n"])
        # zero counts are omitted (NodeDetailInfo.format's `.filter(_._2
        # > 0)`; RdfInspectSpec asserts bnode_count is absent) — only
        # the term_details totals above always print all four positions
        return {
            "node_details": {f"{k}_{sfx}": v for k, v in tot.items() if v > 0}
        }
    out = {
        pos: {f"{k}_{sfx}": 0 for k in _NODE_KINDS} for pos in _TERM_POSITIONS
    }
    for r in counts:
        out[r["term_pos"]][f"{r['node_kind']}_{sfx}"] += int(r["n"])
    return {
        pos: {k: v for k, v in m.items() if v > 0}
        for pos, m in out.items()
        if any(v > 0 for v in m.values())
    }


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
