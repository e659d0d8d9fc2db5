"""Driver-contract query battery: every operator from SURVEY.md §2 as a
(Spark DataFrame query, equivalent DuckDB oracle SQL) pair over the
driver-provided tables (region nation customer supplier part orders
lineitem events documents embeddings).

Design rules for oracle-exact parity (the driver hash-compares values):

- **No nondeterministic float arithmetic.** Money-ish sums are computed
  in DECIMAL (exact in both engines) and cast to double at the end;
  ratios divide exact intermediates; cosine similarities are rounded to
  4 decimals after a fixed-order fold.
- **Shared hash function.** Where the reference uses dictionary /
  MinHash hashing, both sides hash via ``md5`` (same hex in Spark and
  DuckDB) reduced to a 60-bit int — Spark ``conv(substr(md5(x),1,15),16,10)``,
  DuckDB ``('0x' || substr(md5(x),1,15))::BIGINT``.
- **Stable orderings.** Every window ``ORDER BY`` carries a unique
  tiebreaker column.
- **Matching column names.** Every computed column is aliased
  identically on both sides.

Each entry cites the reference operator it re-expresses (SURVEY.md §2
ids). Queries callable as ``fn(spark, sf_dir)``.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, doc: str = ""):
    def deco(fn):
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


# 60-bit md5-derived integer hash, identical in Spark and DuckDB.
def md5_int(col):
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


MD5_INT_SQL = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"


# ---------------------------------------------------------------------------
# Relational core (headline bench queries; exercise scan/filter/agg/join/
# window/sort/top-k — the Catalyst-covered rows of SURVEY.md §4).
# ---------------------------------------------------------------------------


@query(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 analog: scan→filter→hash-agg (partial+final, A3).",
)
def q01_pricing_summary(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q02_revenue_topk",
    oracle="""
    SELECT o.o_orderkey, c.c_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, c.c_name
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 analog: 3-way join (broadcast dim) + agg + top-k.",
)
def q02_revenue_topk(spark, sf_dir):
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice").cast("decimal(18,4)")
           * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "c_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


@query(
    "q06_sessionize_events",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sess AS (
      SELECT user_id, ts,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, COUNT(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
    doc="Gaps-and-islands sessionization = the reference's graph run-length "
    "state machine W3 (JellyStreamWriterGraphs.scala:57-72) as lag+cumsum.",
)
def q06_sessionize_events(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp").cast("long")  # NTZ → UTC seconds
    gap = epoch - F.lag(epoch).over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 30 * 60), F.lit(1)).otherwise(F.lit(0)),
    )
    wc = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    sess = flagged.withColumn("session_id", F.sum("new_session").over(wc))
    return (
        sess.groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id", "session_id")
    )


@query(
    "q08_asof_join",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts, o.o_orderkey AS last_orderkey
    FROM events e
    ASOF LEFT JOIN (
        SELECT DISTINCT ON (o_custkey, o_orderdate) o_custkey, o_orderdate, o_orderkey
        FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey DESC
    ) o
    ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    ORDER BY e.event_id
    """,
    doc="As-of join (Spark lacks a native one): union + last_value window "
    "composition — scales as one shuffle + one window, no UDF.",
)
def q08_asof_join(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    o = load(spark, sf_dir, "orders")
    # Deduplicate the right side per (custkey, orderdate): keep max orderkey
    # (mirrors DISTINCT ON ... ORDER BY o_orderkey DESC).
    wdedup = W.partitionBy("o_custkey", "o_orderdate").orderBy(F.desc("o_orderkey"))
    o1 = (
        o.withColumn("rn", F.row_number().over(wdedup))
        .filter("rn = 1")
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("ts"),
            F.col("o_orderkey"),
        )
    )
    # Union trick: tag sides, sort by (user, ts, side), carry last order fwd.
    left = ev.select(
        "event_id", "user_id", "ts", F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(1).alias("side"),
    )
    right = o1.select(
        F.lit(None).cast("long").alias("event_id"), "user_id", "ts", "o_orderkey",
        F.lit(0).alias("side"),
    )
    unioned = left.unionByName(right)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "side", F.desc_nulls_last("o_orderkey"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    filled = unioned.withColumn(
        "last_orderkey", F.last("o_orderkey", ignorenulls=True).over(w)
    )
    return (
        filled.filter(F.col("side") == 1)
        .select("event_id", "user_id", "ts", "last_orderkey")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# KG / reference-operator analogs over `documents` (the driver-table proxy
# for the source-file corpus). Shared shape: tokens = whitespace-split text,
# triples = (kg:doc/{id}, pred, obj) with the corpus obj_kind taxonomy.
# ---------------------------------------------------------------------------

# Token CTE reused by the DuckDB oracles (1-based pos in both engines).
TOKENS_SQL = """
    SELECT doc_id, lang, source, tok AS token, CAST(pos AS BIGINT) AS pos
    FROM (
      SELECT doc_id, lang, source,
             unnest(string_split_regex(text, '\\s+')) AS tok,
             generate_subscripts(string_split_regex(text, '\\s+'), 1) AS pos
      FROM documents
    ) WHERE tok <> ''
"""


def doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, source, token, pos) — S5-style tokenizer, columnar."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            "lang",
            "source",
            F.posexplode(F.split(F.col("text"), r"\s+")).alias("pos0", "token"),
        )
        .filter(F.col("token") != "")
        .select("doc_id", "lang", "source", "token", (F.col("pos0") + 1).alias("pos"))
    )


TRIPLES_SQL = f"""
    WITH toks AS ({TOKENS_SQL})
    SELECT 'kg:doc/' || doc_id AS subj, 'kg:hasToken' AS pred, token AS obj,
           2 AS obj_kind
    FROM (SELECT DISTINCT doc_id, token FROM toks)
    UNION ALL
    SELECT DISTINCT 'kg:doc/' || doc_id, 'kg:inLang', 'kg:lang/' || lang, 0
    FROM documents
    UNION ALL
    SELECT DISTINCT 'kg:doc/' || doc_id, 'kg:fromSource', 'kg:src/' || source, 0
    FROM documents
"""


def doc_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction analog of cli_spark.extract over the documents table:
    token mentions → literal-object triples, metadata → IRI triples."""
    toks = doc_tokens(spark, sf_dir)
    d = load(spark, sf_dir, "documents")
    tok_triples = toks.select(
        F.format_string("kg:doc/%d", F.col("doc_id")).alias("subj"),
        F.lit("kg:hasToken").alias("pred"),
        F.col("token").alias("obj"),
        F.lit(2).alias("obj_kind"),
    ).distinct()
    meta = d.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("kg:inLang").alias("pred"),
                    F.concat(F.lit("kg:lang/"), F.col("lang")).alias("obj"),
                ),
                F.struct(
                    F.lit("kg:fromSource").alias("pred"),
                    F.concat(F.lit("kg:src/"), F.col("source")).alias("obj"),
                ),
            )
        ).alias("t"),
        F.format_string("kg:doc/%d", F.col("doc_id")).alias("subj"),
    ).select("subj", "t.pred", "t.obj", F.lit(0).alias("obj_kind")).distinct()
    return tok_triples.unionByName(meta)


@query(
    "q10_kg_doc_triples",
    oracle=TRIPLES_SQL,
    doc="Mention extraction → (subj,pred,obj,obj_kind) triples; UDTF-shaped "
    "explode (SURVEY §2.10) done with posexplode, set semantics (U2).",
)
def q10_kg_doc_triples(spark, sf_dir):
    return doc_triples(spark, sf_dir)


# N-Quads rendering (F7): IRIs in <>, literals quoted with minimal escaping.
_NQ_RENDER_SQL = f"""
    WITH triples AS ({TRIPLES_SQL})
    SELECT '<' || subj || '> <' || pred || '> ' ||
           CASE WHEN obj_kind = 0 THEN '<' || obj || '>'
                ELSE '"' || replace(replace(obj, '\\', '\\\\'), '"', '\\"') || '"'
           END || ' .' AS line
    FROM triples
"""


def _nq_line_col() -> "F.Column":
    obj_rendered = F.when(
        F.col("obj_kind") == 0, F.concat(F.lit("<"), F.col("obj"), F.lit(">"))
    ).otherwise(
        F.concat(
            F.lit('"'),
            F.regexp_replace(
                F.regexp_replace(F.col("obj"), F.lit(r"\\"), F.lit(r"\\\\")),
                F.lit('"'),
                F.lit('\\"'),
            ),
            F.lit('"'),
        )
    )
    return F.concat(
        F.lit("<"), F.col("subj"), F.lit("> <"), F.col("pred"), F.lit("> "),
        obj_rendered, F.lit(" ."),
    ).alias("line")


@query(
    "q12_nquads_roundtrip",
    oracle=TRIPLES_SQL,
    doc="S5/S6 parse ∘ F7 render = identity: render triples to N-Triples "
    "lines, parse back with regexp_extract, unescape. Oracle is the "
    "original triple set — a true round-trip gate (SURVEY §5 pillar 2).",
)
def q12_nquads_roundtrip(spark, sf_dir):
    lines = doc_triples(spark, sf_dir).select(_nq_line_col())
    parsed = lines.select(
        F.regexp_extract(F.col("line"), r"^<([^>]*)> <([^>]*)> (.*) \.$", 1).alias("subj"),
        F.regexp_extract(F.col("line"), r"^<([^>]*)> <([^>]*)> (.*) \.$", 2).alias("pred"),
        F.regexp_extract(F.col("line"), r"^<([^>]*)> <([^>]*)> (.*) \.$", 3).alias("objterm"),
    )
    is_iri = F.col("objterm").startswith("<")
    obj = F.when(
        is_iri, F.expr("substring(objterm, 2, length(objterm) - 2)")
    ).otherwise(
        F.regexp_replace(
            F.regexp_replace(
                F.expr("substring(objterm, 2, length(objterm) - 2)"),
                F.lit(r'\\"'),
                F.lit('"'),
            ),
            F.lit(r"\\\\"),
            F.lit(r"\\"),
        )
    )
    return parsed.select(
        "subj",
        "pred",
        obj.alias("obj"),
        F.when(is_iri, F.lit(0)).otherwise(F.lit(2)).alias("obj_kind"),
    )


FRAME_SIZE = 256

_FRAMES_SQL = f"""
    WITH triples AS ({TRIPLES_SQL}),
    numbered AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY subj, pred, obj, obj_kind) AS rn FROM triples
    )
    SELECT ((rn - 1) // {FRAME_SIZE}) AS frame_index,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN obj_kind = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_literals,
           CAST(SUM(length(subj) + length(pred) + length(obj)) AS BIGINT) AS frame_bytes,
           MAX(length(obj)) AS max_term_bytes
    FROM numbered GROUP BY 1
"""


def framed_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W2: deterministic global order → rank → tumbling count window of
    FRAME_SIZE rows = Jelly frame assignment (RdfToJelly rowsPerFrame=256,
    RdfToJelly.scala:53-56). Rank comes from the partition-offset technique
    (cli_spark.order.global_row_number), not a single-task global window —
    the same plan survives a 100× scale-up."""
    from cli_spark.order import global_row_number

    t = doc_triples(spark, sf_dir)
    return global_row_number(t, ["subj", "pred", "obj", "obj_kind"]).withColumn(
        "frame_index", F.floor((F.col("rn") - 1) / FRAME_SIZE).cast("long")
    )


@query(
    "q13_frame_assign",
    oracle=_FRAMES_SQL,
    doc="Frame assignment + per-frame row counts AND serialized sizes "
    "(W1/W2/A1/A2, MetricsPrinter.scala:13-27 count-vs-size statistic "
    "pair): the `rdf inspect` per-frame metrics table with --size.",
)
def q13_frame_assign(spark, sf_dir):
    return framed_triples(spark, sf_dir).groupBy("frame_index").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("obj_kind") == 2, 1).otherwise(0)).alias("n_literals"),
        F.sum(
            F.length("subj") + F.length("pred") + F.length("obj")
        ).alias("frame_bytes"),
        F.max(F.length("obj")).alias("max_term_bytes"),
    )


@query(
    "q14_frame_slice",
    oracle=f"""
    WITH triples AS ({TRIPLES_SQL}),
    numbered AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY subj, pred, obj, obj_kind) AS rn FROM triples
    )
    SELECT subj, pred, obj, obj_kind,
           ((rn - 1) // {FRAME_SIZE}) AS frame_index
    FROM numbered
    WHERE ((rn - 1) // {FRAME_SIZE}) BETWEEN 2 AND 5
    """,
    doc="--take-frames index-range slice (P1, IndexRange.scala:13-58) as a "
    "pushed-down BETWEEN filter on frame_index.",
)
def q14_frame_slice(spark, sf_dir):
    return framed_triples(spark, sf_dir).filter(
        F.col("frame_index").between(2, 5)
    ).select("subj", "pred", "obj", "obj_kind", "frame_index")


DICT_MAX = 1024

@query(
    "q15_dict_encode",
    oracle=f"""
    WITH toks AS ({TOKENS_SQL}),
    firsts AS (
      SELECT token, MIN(doc_id * 1000000 + pos) AS first_pos
      FROM toks GROUP BY token
    ),
    ranked AS (
      SELECT token, first_pos,
             DENSE_RANK() OVER (ORDER BY first_pos, token) AS dict_id
      FROM firsts
    )
    SELECT token, CASE WHEN dict_id <= {DICT_MAX} THEN dict_id END AS dict_id
    FROM ranked
    """,
    doc="Bounded ordered lookup-table assignment (W5, Jelly name table with "
    "maxNameTableSize): dense_rank over first-occurrence order, capped; "
    "entries past the cap stay unencoded (NULL).",
)
def q15_dict_encode(spark, sf_dir):
    from cli_spark.order import global_row_number

    toks = doc_tokens(spark, sf_dir)
    firsts = toks.groupBy("token").agg(
        F.min(F.col("doc_id") * 1000000 + F.col("pos")).alias("first_pos")
    )
    # rows are unique per (first_pos, token) ⇒ dense_rank ≡ row_number;
    # partition-offset rank instead of an unpartitioned window
    ranked = global_row_number(firsts, ["first_pos", "token"], rn_col="dict_id")
    return ranked.select(
        "token",
        F.when(F.col("dict_id") <= DICT_MAX, F.col("dict_id")).alias("dict_id"),
    )


@query(
    "q16_inspect_detail",
    oracle=f"""
    WITH triples AS ({TRIPLES_SQL}),
    terms AS (
      SELECT 'subject' AS term_pos, 0 AS node_kind FROM triples
      UNION ALL SELECT 'predicate', 0 FROM triples
      UNION ALL SELECT 'object', obj_kind FROM triples
    )
    SELECT term_pos, node_kind, COUNT(*) AS n
    FROM terms
    GROUP BY GROUPING SETS ((term_pos, node_kind), (term_pos), (node_kind))
    """,
    doc="`rdf inspect --detail` term×kind matrix (A4) + the three report "
    "granularities as GROUPING SETS (A5, MetricsPrinter.scala:201-255).",
)
def q16_inspect_detail(spark, sf_dir):
    t = doc_triples(spark, sf_dir)
    terms = (
        t.select(F.lit("subject").alias("term_pos"), F.lit(0).alias("node_kind"))
        .unionAll(t.select(F.lit("predicate"), F.lit(0)))
        .unionAll(t.select(F.lit("object"), F.col("obj_kind")))
    )
    terms.createOrReplaceTempView("v_terms")
    return spark.sql(
        """
        SELECT term_pos, node_kind, COUNT(*) AS n FROM v_terms
        GROUP BY GROUPING SETS ((term_pos, node_kind), (term_pos), (node_kind))
        """
    )


@query(
    "q17_inspect_aggregate",
    oracle=f"""
    WITH triples AS ({TRIPLES_SQL})
    SELECT COUNT(*) AS triple_count,
           COUNT(DISTINCT subj) AS distinct_subjects,
           COUNT(DISTINCT pred) AS distinct_predicates,
           COUNT(DISTINCT obj) AS distinct_objects,
           CAST(SUM(CASE WHEN obj_kind = 2 THEN 1 ELSE 0 END) AS BIGINT) AS literal_count,
           CAST(SUM(CASE WHEN obj_kind = 0 THEN 1 ELSE 0 END) AS BIGINT) AS iri_count,
           CAST(SUM(LENGTH(subj) + LENGTH(pred) + LENGTH(obj)) AS BIGINT) AS serialized_size
    FROM triples
    """,
    doc="Global aggregate across frames (A3: partial+final combine = "
    "FrameInfo.+= merge) + SizeStatistic (A2: sum of serialized sizes).",
)
def q17_inspect_aggregate(spark, sf_dir):
    t = doc_triples(spark, sf_dir)
    return t.agg(
        F.count(F.lit(1)).alias("triple_count"),
        F.countDistinct("subj").alias("distinct_subjects"),
        F.countDistinct("pred").alias("distinct_predicates"),
        F.countDistinct("obj").alias("distinct_objects"),
        F.sum(F.when(F.col("obj_kind") == 2, 1).otherwise(0)).alias("literal_count"),
        F.sum(F.when(F.col("obj_kind") == 0, 1).otherwise(0)).alias("iri_count"),
        F.sum(F.length("subj") + F.length("pred") + F.length("obj")).alias(
            "serialized_size"
        ),
    )


@query(
    "q18_compare_battery",
    oracle=f"""
    WITH toks AS ({TOKENS_SQL}),
    a AS (SELECT token, ROW_NUMBER() OVER (ORDER BY doc_id, pos) AS idx
          FROM toks WHERE doc_id % 2 = 0),
    b AS (SELECT CASE WHEN LENGTH(token) < 3 THEN 'X' ELSE token END AS token,
                 ROW_NUMBER() OVER (ORDER BY doc_id, pos) AS idx
          FROM toks WHERE doc_id % 2 = 0),
    ordered AS (
      SELECT COUNT(*) AS n_positions,
             CAST(SUM(CASE WHEN a.token = b.token THEN 1 ELSE 0 END) AS BIGINT) AS n_equal,
             CAST(SUM(CASE WHEN a.token <> b.token THEN 1 ELSE 0 END) AS BIGINT) AS n_diff
      FROM a JOIN b USING (idx)
    ),
    triples AS ({TRIPLES_SQL}),
    expected AS (SELECT DISTINCT subj, pred, obj FROM triples WHERE obj_kind = 2),
    actual   AS (SELECT DISTINCT subj, pred, obj FROM triples),
    containment AS (
      SELECT (SELECT COUNT(*) FROM expected) AS n_expected,
             (SELECT COUNT(*) FROM expected e
               WHERE NOT EXISTS (SELECT 1 FROM actual a
                                 WHERE a.subj=e.subj AND a.pred=e.pred AND a.obj=e.obj))
             AS n_missing
    ),
    g_expected AS (
      SELECT DISTINCT 'kg:graph/' || source AS graph FROM documents
    ),
    g_actual AS (
      SELECT DISTINCT 'kg:graph/' || source AS graph FROM documents WHERE lang <> 'fr'
    ),
    graphset AS (
      SELECT (SELECT COUNT(*) FROM g_expected) AS n_graphs_expected,
             (SELECT COUNT(*) FROM g_actual) AS n_graphs_actual,
             (SELECT COUNT(*) FROM g_expected e
               WHERE NOT EXISTS (SELECT 1 FROM g_actual a WHERE a.graph = e.graph))
             AS n_graphs_missing
    )
    SELECT * FROM ordered CROSS JOIN containment CROSS JOIN graphset
    """,
    doc="Compare battery: ordered positional compare (J1, "
    "OrderedRdfCompare.scala:10-75) — one partition-offset rank shared by "
    "both sides → zip join on idx → per-position equality — plus model "
    "containment (J3, RdfToJellySpec containsAll) as a left-anti count, "
    "plus graph-set difference for dataset validation (U3, "
    "UnorderedRdfCompare.scala:26-30: full-outer-join null flags, "
    "'named graph missing in actual' as a count, not a driver-side "
    "set op; formerly its own entry q55, merged under the 50-query cap).",
)
def q18_compare_battery(spark, sf_dir):
    from cli_spark.order import global_row_number

    toks = doc_tokens(spark, sf_dir).filter(F.col("doc_id") % 2 == 0)
    # one deterministic idx (partition-offset rank, no single-task window)
    # shared by both compare sides — 'stream order as given' J1 contract
    idxed = global_row_number(toks, ["doc_id", "pos"], rn_col="idx")
    a = idxed.select("idx", "token")
    b = idxed.select(
        "idx",
        F.when(F.length("token") < 3, F.lit("X")).otherwise(F.col("token")).alias("tokenb"),
    )
    j = a.join(b, "idx")
    ordered = j.agg(
        F.count(F.lit(1)).alias("n_positions"),
        F.sum(F.when(F.col("token") == F.col("tokenb"), 1).otherwise(0)).alias("n_equal"),
        F.sum(F.when(F.col("token") != F.col("tokenb"), 1).otherwise(0)).alias("n_diff"),
    )
    t = doc_triples(spark, sf_dir)
    expected = t.filter(F.col("obj_kind") == 2).select("subj", "pred", "obj").distinct()
    actual = t.select("subj", "pred", "obj").distinct()
    missing = expected.join(actual, ["subj", "pred", "obj"], "left_anti")
    containment = expected.agg(F.count(F.lit(1)).alias("n_expected")).crossJoin(
        missing.agg(F.count(F.lit(1)).alias("n_missing"))
    )
    # graph-set difference leg (U3): expected vs actual named-graph sets
    d = load(spark, sf_dir, "documents")
    graph = F.concat(F.lit("kg:graph/"), F.col("source")).alias("graph")
    g_expected = d.select(graph).distinct()
    g_actual = d.filter(F.col("lang") != "fr").select(graph).distinct()
    g_missing = g_expected.join(g_actual, "graph", "left_anti")
    graphset = (
        g_expected.agg(F.count(F.lit(1)).alias("n_graphs_expected"))
        .crossJoin(g_actual.agg(F.count(F.lit(1)).alias("n_graphs_actual")))
        .crossJoin(g_missing.agg(F.count(F.lit(1)).alias("n_graphs_missing")))
    )
    return ordered.crossJoin(containment).crossJoin(graphset)


@query(
    "q20_pr_score",
    oracle=f"""
    WITH toks AS ({TOKENS_SQL}),
    expected AS (SELECT DISTINCT doc_id, token FROM toks),
    actual   AS (SELECT DISTINCT doc_id, token FROM toks WHERE LENGTH(token) >= 3)
    SELECT (SELECT COUNT(*) FROM expected) AS n_expected,
           (SELECT COUNT(*) FROM actual) AS n_actual,
           (SELECT COUNT(*) FROM expected e JOIN actual a USING (doc_id, token))
             AS n_inter,
           CAST((SELECT COUNT(*) FROM expected e JOIN actual a USING (doc_id, token)) AS DOUBLE)
             / (SELECT COUNT(*) FROM actual) AS precision_score,
           CAST((SELECT COUNT(*) FROM expected e JOIN actual a USING (doc_id, token)) AS DOUBLE)
             / (SELECT COUNT(*) FROM expected) AS recall_score
    """,
    doc="P/R scorer (north rule ≥0.95 gate): |E∩A|/|A| and /|E| via inner "
    "joins — generalizes J2's boolean isomorphism verdict.",
)
def q20_pr_score(spark, sf_dir):
    toks = doc_tokens(spark, sf_dir)
    expected = toks.select("doc_id", "token").distinct()
    actual = expected.filter(F.length("token") >= 3)
    n_e = expected.count()
    n_a = actual.count()
    n_i = expected.join(actual, ["doc_id", "token"]).count()
    return spark.createDataFrame(
        [(n_e, n_a, n_i, n_i / n_a, n_i / n_e)],
        "n_expected long, n_actual long, n_inter long, precision_score double, recall_score double",
    )


@query(
    "q21_transcode_remap",
    oracle=f"""
    WITH toks AS ({TOKENS_SQL}),
    streams AS (
      SELECT doc_id % 2 AS stream, token, MIN(doc_id * 1000000 + pos) AS first_pos
      FROM toks GROUP BY 1, 2
    ),
    local_ids AS (
      SELECT stream, token,
             DENSE_RANK() OVER (PARTITION BY stream ORDER BY first_pos, token) AS old_id
      FROM streams
    ),
    merged AS (
      SELECT token, MIN(first_pos) AS merged_first FROM streams GROUP BY token
    ),
    new_ids AS (
      SELECT token, DENSE_RANK() OVER (ORDER BY merged_first, token) AS new_id
      FROM merged
    )
    SELECT l.stream, l.token, l.old_id, n.new_id
    FROM local_ids l JOIN new_ids n USING (token)
    """,
    doc="Transcode dictionary remap (§2.11, RdfTranscode.scala:57-82): "
    "per-stream local ids joined to one merged output dictionary — pure "
    "integer remap, no term re-parsing.",
)
def q21_transcode_remap(spark, sf_dir):
    toks = doc_tokens(spark, sf_dir)
    streams = (
        toks.withColumn("stream", F.col("doc_id") % 2)
        .groupBy("stream", "token")
        .agg(F.min(F.col("doc_id") * 1000000 + F.col("pos")).alias("first_pos"))
    )
    wl = W.partitionBy("stream").orderBy("first_pos", "token")
    local_ids = streams.select(
        "stream", "token", F.dense_rank().over(wl).alias("old_id")
    )
    merged = streams.groupBy("token").agg(F.min("first_pos").alias("merged_first"))
    # merged rows unique per (merged_first, token) ⇒ dense_rank ≡ rank;
    # partition-offset rank replaces the unpartitioned window
    from cli_spark.order import global_row_number

    new_ids = global_row_number(
        merged, ["merged_first", "token"], rn_col="new_id"
    ).select("token", "new_id")
    return local_ids.join(new_ids, "token").select("stream", "token", "old_id", "new_id")


@query(
    "q22_union_streams",
    oracle=f"""
    WITH a AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
         b AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1),
         u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS global_pos
    FROM u
    """,
    doc="Stream concatenation (U1, RdfTranscodeSpec merge-100-streams): "
    "unionByName + global re-numbering.",
)
def q22_union_streams(spark, sf_dir):
    from cli_spark.order import global_row_number

    d = load(spark, sf_dir, "documents")
    a = d.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    b = d.filter(F.col("doc_id") % 3 == 1).select("doc_id", "text")
    u = a.unionByName(b)
    return global_row_number(u, ["doc_id"], rn_col="global_pos").select(
        "doc_id", "global_pos"
    )


@query(
    "q23_lineage_sha",
    oracle="""
    SELECT doc_id, sha256(text) AS content_sha, LENGTH(text) AS n_bytes
    FROM documents
    """,
    doc="Lineage invariant (F8/J5, BASELINE.json input_hint): per-row "
    "sha256(content) — the cross-stage equality anchor.",
)
def q23_lineage_sha(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.sha2(F.col("text"), 256).alias("content_sha"),
        F.length("text").alias("n_bytes"),
    )


@query(
    "q24_graph_runs",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN event_type <> LAG(event_type) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id)
                  OR LAG(event_type) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS boundary
      FROM events
    ),
    runs AS (
      SELECT user_id, event_type,
             CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
      FROM flagged
    )
    SELECT user_id, run_id, event_type, COUNT(*) AS run_length
    FROM runs GROUP BY user_id, run_id, event_type
    """,
    doc="Graph-boundary run-length detection (W3/S16, JellyStreamWriter"
    "Graphs.scala:57-72): lag → boundary flag → cumulative sum = run id.",
)
def q24_graph_runs(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    boundary = F.when(
        F.lag("event_type").over(w).isNull()
        | (F.col("event_type") != F.lag("event_type").over(w)),
        1,
    ).otherwise(0)
    flagged = ev.withColumn("boundary", boundary)
    wc = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    runs = flagged.withColumn("run_id", F.sum("boundary").over(wc))
    return runs.groupBy("user_id", "run_id", "event_type").agg(
        F.count(F.lit(1)).alias("run_length")
    )


# ---------------------------------------------------------------------------
# Training-data operators (dedup / similarity / text analysis / multimodal)
# — the large-scale pipeline ops beyond the reference's RDF surface.
# Oracle-parity variants use shared md5-derived hashing (engine-grade
# xxhash64 variants live in cli_spark.ops.*).
# ---------------------------------------------------------------------------

P31 = (1 << 31) - 1
N_MINHASH = 8
MINHASH_PARAMS = [
    (962579125, 1889126816),
    (1366716349, 1573929625),
    (1236264148, 1919247517),
    (300237148, 1424182207),
    (1974581482, 1102097286),
    (410309878, 982940697),
    (477094559, 511985204),
    (1553528366, 1035525961),
]

# Word 3-gram shingles via LEAD (docs with <3 tokens drop) — identical
# semantics in both engines; h on the full Mersenne-31 domain.
SHINGLES_SQL = f"""
    SELECT DISTINCT doc_id,
           (('0x' || substr(md5(g), 1, 15))::BIGINT % {P31}) AS h
    FROM (
      SELECT doc_id,
             token || ' ' || LEAD(token, 1) OVER w || ' ' || LEAD(token, 2) OVER w AS g
      FROM ({{toks}}) toks
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ) WHERE g IS NOT NULL
""".replace("{toks}", TOKENS_SQL)


def doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h): md5-hashed word 3-grams (oracle-parity flavor)."""
    toks = doc_tokens(spark, sf_dir)
    w = W.partitionBy("doc_id").orderBy("pos")
    grams = toks.select(
        "doc_id",
        F.concat_ws(
            " ", F.col("token"), F.lead("token", 1).over(w), F.lead("token", 2).over(w)
        ).alias("g"),
        (F.lead("token", 2).over(w)).alias("_t2"),
    ).filter(F.col("_t2").isNotNull())
    return grams.select(
        "doc_id", F.pmod(md5_int(F.col("g")), F.lit(P31)).alias("h")
    ).distinct()


def minhash_sig_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = doc_shingles(spark, sf_dir)
    aggs = [
        F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(P31))).alias(f"s{i}")
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


MINHASH_SQL = (
    f"WITH sh AS ({SHINGLES_SQL}) SELECT doc_id, "
    + ", ".join(
        f"MIN((h * {a} + {b}) % {P31}) AS s{i}"
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    )
    + " FROM sh GROUP BY doc_id"
)

SIMHASH_BITS = 16
_SIMHASH_TOKH = f"(('0x' || substr(md5(token), 1, 15))::BIGINT % {P31})"
SIMHASH_SQL = (
    f"""SELECT doc_id, ("""
    + " + ".join(
        f"(CASE WHEN SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    + f") AS simhash FROM (SELECT doc_id, {_SIMHASH_TOKH} AS h FROM "
    + f"(SELECT DISTINCT doc_id, token FROM ({TOKENS_SQL}))) GROUP BY doc_id"
)


def _simhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint: per-bit sign aggregation of token hashes
    (16-bit oracle flavor; 64-bit engine flavor in ops.dedup.simhash)."""
    toks = doc_tokens(spark, sf_dir).select("doc_id", "token").distinct()
    h = F.pmod(md5_int(F.col("token")), F.lit(P31))
    sums = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy("doc_id").agg(*sums)
    fp = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return agg.select("doc_id", fp.cast("long").alias("simhash"))


@query(
    "q30_minhash_signatures",
    oracle=f"""
    WITH sig AS ({MINHASH_SQL}), sh AS ({SIMHASH_SQL})
    SELECT sig.*, sh.simhash FROM sig JOIN sh USING (doc_id)
    """,
    doc="MinHash signatures (dedup sketch, north-star J4: shingle → "
    "K universal-hash min-aggregates, one shuffle) joined with the "
    "SimHash fingerprint (per-bit sign aggregation of token hashes; "
    "16-bit oracle flavor, 64-bit engine flavor in ops.dedup.simhash) — "
    "the two per-document near-dup sketches in one row, both "
    "value-checked.",
)
def q30_minhash_signatures(spark, sf_dir):
    return minhash_sig_df(spark, sf_dir).join(
        _simhash_df(spark, sf_dir), "doc_id"
    )


_BAND_EXPRS = [
    (b, f"s{2*b} || ',' || s{2*b+1}") for b in range(4)
]
LSH_PAIRS_SQL = (
    f"WITH sig AS ({MINHASH_SQL}), bands AS ("
    + " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, {expr} AS band_val FROM sig"
        for b, expr in _BAND_EXPRS
    )
    + """)
    SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
    FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_val = r.band_val
    WHERE l.doc_id < r.doc_id
    """
)


# LSH banding (4 bands × 2 rows): band-bucket equi-self-join → candidate
# near-dup pairs (J4 banding step). Not registered on its own — the
# driver battery is capped at 50 queries, and q34_ngram_jaccard runs this
# exact pipeline as its candidate stage (its oracle embeds
# LSH_PAIRS_SQL), so the banding join stays fully oracle-evidenced there.
def q31_lsh_candidate_pairs(spark, sf_dir):
    sig = minhash_sig_df(spark, sf_dir)
    bands = None
    for b in range(4):
        part = sig.select(
            "doc_id",
            F.lit(b).alias("band_id"),
            F.concat_ws(",", F.col(f"s{2*b}"), F.col(f"s{2*b+1}")).alias("band_val"),
        )
        bands = part if bands is None else bands.unionByName(part)
    l = bands.select(F.col("doc_id").alias("left_id"), "band_id", "band_val")
    r = bands.select(F.col("doc_id").alias("right_id"), "band_id", "band_val")
    return (
        l.join(r, ["band_id", "band_val"])
        .filter(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id")
        .distinct()
    )


@query(
    "q32_dedup_exact",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS arr
      FROM documents
    ),
    g AS (
      SELECT doc_id, unnest(generate_series(1, len(arr) - 7)) AS idx, arr
      FROM base
    ),
    grams AS (
      SELECT doc_id, idx, array_to_string(arr[idx : idx + 7], ' ') AS gram FROM g
    ),
    dup AS (SELECT gram FROM grams GROUP BY gram HAVING MIN(doc_id) <> MAX(doc_id)),
    hits AS (SELECT grams.doc_id, grams.idx FROM grams JOIN dup USING (gram)),
    marked AS (
      SELECT doc_id, idx,
             CASE WHEN lag(idx) OVER w IS NULL OR idx > lag(idx) OVER w + 7
                  THEN 1 ELSE 0 END AS brk
      FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY idx)
    ),
    isl AS (
      SELECT doc_id, idx, SUM(brk) OVER (PARTITION BY doc_id ORDER BY idx) AS span_id
      FROM marked
    ),
    spans AS (
      SELECT doc_id, span_id, MAX(idx) - MIN(idx) + 8 AS covered
      FROM isl GROUP BY doc_id, span_id
    ),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS dup_spans,
             CAST(SUM(covered) AS BIGINT) AS dup_tokens
      FROM spans GROUP BY doc_id
    )
    SELECT d.doc_id,
           MIN(d.doc_id) OVER (PARTITION BY md5(d.text)) AS survivor_id,
           COUNT(*) OVER (PARTITION BY md5(d.text)) AS n_copies,
           CAST(len(b.arr) AS BIGINT) AS n_tokens,
           COALESCE(p.dup_spans, 0) AS dup_spans,
           COALESCE(p.dup_tokens, 0) AS dup_tokens,
           CASE WHEN len(b.arr) > 0
                THEN CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE)
                     / CAST(len(b.arr) AS DOUBLE)
                ELSE 0.0 END AS dup_ratio
    FROM documents d
    JOIN base b ON b.doc_id = d.doc_id
    LEFT JOIN per_doc p ON p.doc_id = d.doc_id
    """,
    doc="Exact dedup, whole-doc + span-level: hash-groupBy survivor "
    "selection (one shuffle) joined with cross-doc duplicated 8-gram "
    "spans (Lee et al. 2022 style; ops.dedup.duplicate_spans — row-local "
    "gram build, min!=max dup test, columnar interval merge).",
)
def q32_dedup_exact(spark, sf_dir):
    from .ops.dedup import duplicate_spans

    d = load(spark, sf_dir, "documents")
    w = W.partitionBy(F.md5("text"))
    exact = d.select(
        "doc_id",
        F.min("doc_id").over(w).alias("survivor_id"),
        F.count(F.lit(1)).over(w).alias("n_copies"),
    )
    spans = duplicate_spans(d, "doc_id", "text", k=8).withColumnRenamed(
        "id", "doc_id"
    )
    return exact.join(spans, "doc_id")


@query(
    "q34_ngram_jaccard",
    oracle=f"""
    WITH sh AS ({SHINGLES_SQL}),
    cands AS ({LSH_PAIRS_SQL}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.left_id, c.right_id, COUNT(*) AS n_inter
      FROM cands c JOIN sh a ON a.doc_id = c.left_id
                   JOIN sh b ON b.doc_id = c.right_id AND b.h = a.h
      GROUP BY c.left_id, c.right_id
    )
    SELECT c.left_id, c.right_id,
           COALESCE(i.n_inter, 0) AS n_inter,
           CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
             / (sl.n_sh + sr.n_sh - COALESCE(i.n_inter, 0)) AS jaccard
    FROM cands c
      LEFT JOIN inter i ON i.left_id = c.left_id AND i.right_id = c.right_id
      JOIN sizes sl ON sl.doc_id = c.left_id
      JOIN sizes sr ON sr.doc_id = c.right_id
    """,
    doc="Exact n-gram Jaccard verification of LSH candidates: semi-join "
    "pruned shingle intersection (candidate-bounded explosion).",
)
def q34_ngram_jaccard(spark, sf_dir):
    # no persist: the battery runs 50 queries back-to-back and a cached
    # plan with no unpersist point is a storage leak; the shingle scan
    # recomputes (cheap, columnar) in each of its three uses
    sh = doc_shingles(spark, sf_dir)
    cands = q31_lsh_candidate_pairs(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        cands.join(sh.select(F.col("doc_id").alias("left_id"), "h"), "left_id")
        .join(sh.select(F.col("doc_id").alias("right_id"), "h"), ["right_id", "h"])
        .groupBy("left_id", "right_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        cands.join(inter, ["left_id", "right_id"], "left")
        .join(
            sizes.select(F.col("doc_id").alias("left_id"), F.col("n_sh").alias("nl")),
            "left_id",
        )
        .join(
            sizes.select(F.col("doc_id").alias("right_id"), F.col("n_sh").alias("nr")),
            "right_id",
        )
        .withColumn("n_inter", F.coalesce(F.col("n_inter"), F.lit(0)))
        .select(
            "left_id",
            "right_id",
            "n_inter",
            (
                F.col("n_inter").cast("double")
                / (F.col("nl") + F.col("nr") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Train/test decontamination: scrub benchmark n-gram overlap out of the
# training corpus (the standard eval-suite hygiene pass of a web-scale
# training-data pipeline; 5-grams — long-span matches are contamination,
# short spans are just language). doc_id % 10 == 7 plays the benchmark
# suite; everything else is the training split.
# ---------------------------------------------------------------------------

DECON_N = 5


def doc_ngram_hashes(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    """(doc_id, h): md5-hashed word n-grams (oracle-parity flavor of
    ops.dedup.shingles; docs with <n tokens drop, mirrored in SQL by the
    NULL-propagating LEAD concat). Full 60-bit hash — NOT folded into
    the Mersenne-31 domain like the MinHash shingles: a decontamination
    join must not manufacture false hits from hash collisions (already
    observable at sf0.01 in 31 bits)."""
    toks = doc_tokens(spark, sf_dir)
    w = W.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("token")] + [F.lead("token", i).over(w) for i in range(1, n)]
    return (
        toks.select(
            "doc_id",
            F.concat_ws(" ", *parts).alias("g"),
            F.lead("token", n - 1).over(w).alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .select("doc_id", md5_int(F.col("g")).alias("h"))
    )


_DECON_GRAM_SQL = " || ' ' || ".join(
    ["token"] + [f"LEAD(token, {i}) OVER w" for i in range(1, DECON_N)]
)

DECON_SQL = f"""
    WITH toks AS ({TOKENS_SQL}),
    grams AS (
      SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
      FROM (
        SELECT doc_id, {_DECON_GRAM_SQL} AS g
        FROM toks
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
      ) WHERE g IS NOT NULL
    ),
    bench AS (SELECT doc_id AS bench_id, h FROM grams WHERE doc_id % 10 = 7),
    train AS (SELECT doc_id, h FROM grams WHERE doc_id % 10 <> 7)
    SELECT train.doc_id AS doc_id,
           COUNT(DISTINCT train.h) AS n_hit_grams,
           COUNT(DISTINCT bench.bench_id) AS n_bench_docs
    FROM train JOIN bench ON train.h = bench.h
    GROUP BY train.doc_id ORDER BY doc_id
"""


@query(
    "q64_decontaminate",
    oracle=DECON_SQL,
    doc="Train/test decontamination: training docs sharing any word "
    "5-gram with the benchmark split — broadcast the (tiny) benchmark "
    "gram set against a zero-pre-shuffle train-side explode; the only "
    "full shuffle is the final per-doc agg over the (rare) hits. "
    "Library form: ops.dedup.decontaminate.",
)
def q64_decontaminate(spark, sf_dir):
    grams = doc_ngram_hashes(spark, sf_dir, DECON_N)
    bench = grams.filter(F.col("doc_id") % 10 == 7).select(
        F.col("doc_id").alias("bench_id"), "h"
    )
    train = grams.filter(F.col("doc_id") % 10 != 7)
    return (
        train.join(F.broadcast(bench), "h")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("h").alias("n_hit_grams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
        .orderBy("doc_id")
    )


@query(
    "q35_ann_topk",
    oracle=None,  # assigned below: needs _CELLS_SQL, defined later in the file
    doc="ANN top-k, exact baseline + scale path in one tagged battery: "
    "the 'brute' leg is the brute-force cosine top-k (broadcast query "
    "set × corpus scan, fixed-order double fold, bit-identical to the "
    "oracle); the 'ivf' leg is the corpus-scan-free IVF probe "
    "(ops.simsearch.ivf_topk: fixed deterministic centroids → argmax "
    "cell assignment → each query probes its 2 nearest cells → exact "
    "re-rank inside the probed cells only). Recall of IVF vs the exact "
    "leg is asserted in tests/test_ops.py.",
)
def q35_ann_topk(spark, sf_dir):
    from cli_spark.ops.simsearch import cosine_topk, ivf_topk

    emb = load(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    brute = cosine_topk(queries_df, emb, k=5).withColumn("leg", F.lit("brute"))
    cents = _sqrt_centroids(emb)
    ivf = ivf_topk(
        queries_df, emb, k=5, n_probe=2, centroids=cents, exact_fold=True
    ).withColumn("leg", F.lit("ivf"))
    return brute.unionByName(ivf)


_STOP_EN = "'the','of','and','to','in','is','that','for','with','on'"
_STOP_ES = "'el','la','de','que','y','en','los','del','se','las'"
_STOP_FR = "'le','la','de','et','les','des','en','un','du','une'"

# q36's BPE leg: the oracle replays the seed merge table (learned at
# import time from a fixed literal, ops/bpe.py) with one replace() per
# merge rank inside a recursive CTE, over a per-BYTE hex encoding with
# '||' token boundaries (see merges_to_sql_values for why: replace is
# non-overlapping, so single-pipe boundaries missed adjacent pairs, and
# raw text can contain the delimiter bytes). Token count per doc =
# pipes/2 - words: each word is '||tok||tok||' (2(n+1) pipes for n
# tokens), words concatenate directly ('||||' at boundaries, which no
# pattern can cross).
from cli_spark.ops.bpe import SEED_MERGES as _BPE_MERGES
from cli_spark.ops.bpe import SEED_N_MERGES as _BPE_N
from cli_spark.ops.bpe import merges_to_sql_values as _bpe_values

_BPE_SQL = _bpe_values(_BPE_MERGES)


@query(
    "q36_text_stats",
    oracle=f"""
    WITH RECURSIVE base AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks,
             list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS ltoks
      FROM documents
    ),
    fp AS (
      SELECT doc_id,
             CAST(SUM(('0x' || substr(md5(token || '@' || pos), 1, 8))::BIGINT) % {P31} AS BIGINT)
               AS fingerprint
      FROM ({TOKENS_SQL}) GROUP BY doc_id
    ),
    bpe_m(rnk, pat, rep) AS (
      SELECT * FROM (VALUES {_BPE_SQL}) v(rnk, pat, rep)
    ),
    bpe0 AS (
      SELECT doc_id,
             array_to_string(list_transform(string_split(text, ' '),
               w -> '||' || regexp_replace(hex(encode(w)), '([0-9A-F]{{2}})', '\\1||', 'g')), '') AS seq,
             len(string_split(text, ' ')) AS n_words
      FROM documents
    ),
    bpe_rec AS (
      SELECT doc_id, seq, n_words, 0 AS i FROM bpe0
      UNION ALL
      SELECT r.doc_id, replace(r.seq, m.pat, m.rep), r.n_words, r.i + 1
      FROM bpe_rec r JOIN bpe_m m ON m.rnk = r.i
    ),
    bpe AS (
      SELECT doc_id,
             CAST((length(seq) - length(replace(seq, '|', ''))) / 2
                  - n_words AS BIGINT) AS bpe64_tokens
      FROM bpe_rec WHERE i = {_BPE_N}
    )
    SELECT b.doc_id AS id,
           len(list_filter(b.ltoks, t -> t IN ({_STOP_EN}))) AS en_hits,
           len(list_filter(b.ltoks, t -> t IN ({_STOP_ES}))) AS es_hits,
           len(list_filter(b.ltoks, t -> t IN ({_STOP_FR}))) AS fr_hits,
           len(b.toks) AS n_tokens,
           length(b.text) AS n_chars,
           CAST(list_sum(list_transform(b.toks, t -> length(t))) AS DOUBLE) / len(b.toks) AS avg_token_len,
           CAST(length(b.text) - length(regexp_replace(b.text, '[.!?,;:]', '', 'g')) AS DOUBLE) / length(b.text) AS punct_ratio,
           CAST(len(list_filter(b.ltoks, t -> t IN ({_STOP_EN},{_STOP_ES},{_STOP_FR}))) AS DOUBLE) / len(b.toks) AS stopword_ratio,
           CAST(length(b.text) - length(regexp_replace(b.text, '[A-Z]', '', 'g')) AS DOUBLE) / length(b.text) AS upper_ratio,
           len(b.toks) AS n_ws_tokens,
           len(regexp_extract_all(b.text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n]')) AS n_bpe_tokens,
           COALESCE(f.fingerprint, 0) AS fingerprint,
           p.bpe64_tokens,
           CASE
             WHEN len(list_filter(b.ltoks, t -> t IN ({_STOP_EN}))) >= len(list_filter(b.ltoks, t -> t IN ({_STOP_ES})))
              AND len(list_filter(b.ltoks, t -> t IN ({_STOP_EN}))) >= len(list_filter(b.ltoks, t -> t IN ({_STOP_FR}))) THEN 'en'
             WHEN len(list_filter(b.ltoks, t -> t IN ({_STOP_ES}))) > len(list_filter(b.ltoks, t -> t IN ({_STOP_EN})))
              AND len(list_filter(b.ltoks, t -> t IN ({_STOP_ES}))) >= len(list_filter(b.ltoks, t -> t IN ({_STOP_FR}))) THEN 'es'
             ELSE 'fr'
           END AS guessed_lang
    FROM base b LEFT JOIN fp f ON f.doc_id = b.doc_id
    JOIN bpe p ON p.doc_id = b.doc_id
    """,
    doc="Text-analysis battery in one zero-shuffle pass "
    "(ops.textstats.text_stats): language-ID stopword hits + argmax "
    "guess, quality ratios (length/punct/stopword/case), whitespace + "
    "BPE-ish token counts, the order-sensitive position-salted "
    "fingerprint as an in-row array fold, and the REAL byte-level BPE "
    "subword count (ops.bpe: fixed seed merge table, Arrow kernel; "
    "oracle replays the merge table rank-by-rank in a recursive CTE).",
)
def q36_text_stats(spark, sf_dir):
    from cli_spark.ops.bpe import SEED_MERGES, bpe_count_col
    from cli_spark.ops.textstats import text_stats

    d = load(spark, sf_dir, "documents")
    return text_stats(
        d,
        "doc_id",
        "text",
        extra={"bpe64_tokens": lambda t: bpe_count_col(t, SEED_MERGES)},
    )


@query(
    "q40_binary_metadata",
    oracle="""
    WITH m AS (
      SELECT doc_id AS id,
             octet_length(encode(text)) AS n_bytes,
             sha256(text) AS sha256,
             upper(hex(encode(substr(text, 1, 3)))) AS magic,
             CAST(2 + doc_id % 4 AS BIGINT) AS h,
             CAST(3 + doc_id % 5 AS BIGINT) AS w,
             CAST(8 + doc_id % 9 AS BIGINT) AS n
      FROM documents
    ),
    px AS (
      SELECT m.id,
             CAST(SUM(3 * m.w * ((m.id + g.i) % 256)) AS BIGINT) AS px_sum,
             CAST(SUM(3 * m.w * ((m.id + g.i + 17) % 256)) AS BIGINT) AS fr_sum
      FROM m, generate_series(0, 4) AS g(i) WHERE g.i < m.h GROUP BY m.id
    ),
    wv AS (
      SELECT m.id,
             CAST(SUM((m.id * 5 + g.i * 3) % 512 - 256) AS BIGINT) AS wav_sum
      FROM m, generate_series(0, 16) AS g(i) WHERE g.i < m.n GROUP BY m.id
    )
    SELECT m.id, m.n_bytes, m.sha256, m.magic,
           m.w AS img_w, m.h AS img_h,
           px.px_sum AS png_sum, px.px_sum AS bmp_sum, px.px_sum AS ppm_sum,
           CAST(6 * (((m.id + m.h // 4) % 256)
                     + ((m.id + (3 * m.h) // 4) % 256)) AS BIGINT) AS rs_sum,
           px.fr_sum, m.n AS wav_n, wv.wav_sum
    FROM m JOIN px ON px.id = m.id JOIN wv ON wv.id = m.id
    """,
    doc="Multimodal binary plumbing + REAL decode gate: opaque blob → "
    "typed metadata (byte length, sha256, magic sniff — all columnar "
    "even on binary, ops.multimodal.attach_metadata), joined with the "
    "media decode battery (ops.multimodal.media_decode_battery): "
    "synthesized closed-form PNG/BMP/PPM images, a 3-frame P6 video, "
    "and PCM WAV are encoded, decoded by the pure-numpy codecs, "
    "resized, frame-sampled — and the decoded pixel/sample sums are "
    "recomputed by the oracle from the generating arithmetic.",
)
def q40_binary_metadata(spark, sf_dir):
    from cli_spark.ops.multimodal import (
        attach_metadata,
        binarize,
        media_decode_battery,
    )

    d = load(spark, sf_dir, "documents")
    meta = attach_metadata(binarize(d, "doc_id", "text"))
    dec = media_decode_battery(d, "doc_id")
    return meta.join(dec, "id")


@query(
    "q41_event_type_pivot",
    oracle="""
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
    FROM events GROUP BY user_id
    """,
    doc="Pivot (A1 per-frame row-type counts shape: groupBy + pivot on "
    "kind = the 9-counter FrameInfo table).",
)
def q41_event_type_pivot(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
    )
    cols = ["click", "error", "purchase", "signup", "view"]
    return out.select(
        "user_id", *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in cols]
    )


@query(
    "q42_semi_anti_join",
    oracle="""
    SELECT o_orderstatus,
           COUNT(CASE WHEN has_line THEN 1 END) AS n_with_lines,
           COUNT(CASE WHEN NOT has_line THEN 1 END) AS n_without_lines
    FROM (
      SELECT o.o_orderkey, o.o_orderstatus,
             EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey) AS has_line
      FROM orders o
    ) GROUP BY o_orderstatus
    """,
    doc="Semi/anti join (J3 containment machinery as EXISTS / NOT EXISTS).",
)
def q42_semi_anti_join(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey").distinct()
    with_l = (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_with_lines"))
    )
    without_l = (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_anti")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_without_lines"))
    )
    return (
        o.select("o_orderstatus")
        .distinct()
        .join(with_l, "o_orderstatus", "left")
        .join(without_l, "o_orderstatus", "left")
        .select(
            "o_orderstatus",
            F.coalesce("n_with_lines", F.lit(0)).alias("n_with_lines"),
            F.coalesce("n_without_lines", F.lit(0)).alias("n_without_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Jelly codec queries: the binary encode→decode pipeline checked against a
# pure-SQL oracle (frame/segment arithmetic is deterministic given the
# canonical triple order).
# ---------------------------------------------------------------------------

JELLY_SEG_ROWS = 1280  # default: (4096 // 3) // 256 * 256


@query(
    "q50_jelly_roundtrip",
    oracle=TRIPLES_SQL,
    doc="Jelly frames round-trip (S15→S9, to-jelly ∘ from-jelly = id): "
    "triples → varint frames (applyInPandas) → decode (mapInPandas) → "
    "dictionary joins, WITH the prefix lookup table on (F1, "
    "RdfJellySerializationOptions.scala:33-35 three-table contract; "
    "name entries store (prefix_id, local)); oracle is the original "
    "triple set.",
)
def q50_jelly_roundtrip(spark, sf_dir):
    from cli_spark.jelly import roundtrip

    t = doc_triples(spark, sf_dir)
    return roundtrip(spark, t, prefix_table=True).select(
        "subj", "pred", "obj", "obj_kind"
    )


@query(
    "q51_jelly_frame_metrics",
    oracle=f"""
    WITH triples AS ({TRIPLES_SQL}),
    numbered AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY subj, pred, obj, obj_kind) AS rn
      FROM (SELECT DISTINCT subj, pred, obj, obj_kind FROM triples)
    ),
    terms AS (
      -- the REAL-wire name table holds IRI terms only: literal objects
      -- ride inline in the statement rows
      SELECT ((rn - 1) // {JELLY_SEG_ROWS}) AS seg, term, rn FROM (
        SELECT rn, subj AS term FROM numbered
        UNION ALL SELECT rn, pred FROM numbered
        UNION ALL SELECT rn, obj FROM numbered WHERE obj_kind = 0
      )
    ),
    firsts AS (SELECT seg, term, MIN(rn) AS first_rn FROM terms GROUP BY seg, term),
    name_rows AS (
      SELECT seg, ((first_rn - 1) // 256) AS frame_index, COUNT(*) AS name_count
      FROM firsts GROUP BY 1, 2
    ),
    trip_rows AS (
      SELECT ((rn - 1) // {JELLY_SEG_ROWS}) AS seg, ((rn - 1) // 256) AS frame_index,
             COUNT(*) AS triple_count
      FROM numbered GROUP BY 1, 2
    ),
    opt_rows AS (
      SELECT DISTINCT ((rn - 1) // {JELLY_SEG_ROWS}) AS seg,
             (((rn - 1) // {JELLY_SEG_ROWS}) * {JELLY_SEG_ROWS} // 256) AS frame_index,
             1 AS option_count
      FROM numbered
    )
    SELECT t.seg, t.frame_index,
           COALESCE(o.option_count, 0) AS option_count,
           COALESCE(n.name_count, 0) AS name_count,
           t.triple_count,
           COALESCE(o.option_count, 0) + COALESCE(n.name_count, 0) + t.triple_count AS row_count
    FROM trip_rows t
      LEFT JOIN name_rows n ON n.seg = t.seg AND n.frame_index = t.frame_index
      LEFT JOIN opt_rows o ON o.seg = t.seg AND o.frame_index = t.frame_index
    """,
    doc="`rdf inspect` per-frame counters (A1) computed from the REAL "
    "binary frames (encode → wire walk → count) and checked against pure "
    "frame arithmetic in SQL — validates frame assignment (W1/W2), "
    "per-segment dictionaries (W5), and options placement (P10) at once.",
)
def q51_jelly_frame_metrics(spark, sf_dir):
    from cli_spark.jelly import encode_triples, frame_wire_size_stats

    t = doc_triples(spark, sf_dir)
    return frame_wire_size_stats(encode_triples(spark, t)).select(
        "seg", "frame_index", "option_count", "name_count", "triple_count",
        "row_count",
    )


# ---------------------------------------------------------------------------
# Coverage extension: remaining SURVEY §2 rows (S10, P5-P7, W4, F1) plus
# the deeper relational/analytic surface a 100 TB training-data pipeline
# needs (multi-way broadcast joins, rollup, ranking windows, range join,
# salted skew aggregation, JSON/date scalar batteries, embedding near-dup
# and IVF ANN with exact oracles).
# ---------------------------------------------------------------------------


@query(
    "q09_product_profit",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS o_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                    * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS DOUBLE) AS profit,
           COUNT(*) AS n_lines
    FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
    doc="TPC-H Q9 analog: 4-way star join (fact × 3 broadcast dims), "
    "string filter pushed to the dim scan, exact-decimal profit agg. "
    "At scale: part/supplier/nation broadcast; lineitem never shuffles "
    "before the partial agg.",
)
def q09_product_profit(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    dec = lambda c: F.col(c).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").alias("o_year"),
        )
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)"))
            .cast("double")
            .alias("profit"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q25_jellytext_roundtrip",
    oracle=TRIPLES_SQL,
    doc="Jelly-text format (S10, RdfToJelly.scala:207-228,261-291 / "
    "RdfFromJelly.scala:182-203): binary frames → REAL protobuf "
    "TextFormat blocks (frame-parallel) → parse back to frames → decode "
    "= identity; oracle is the original triple set.",
)
def q25_jellytext_roundtrip(spark, sf_dir):
    from cli_spark.jelly import (
        decode_frames,
        decode_triples,
        encode_triples,
        parse_jelly_text,
        render_jelly_text,
    )

    t = doc_triples(spark, sf_dir)
    text = render_jelly_text(encode_triples(spark, t, prefix_table=True))
    return decode_triples(decode_frames(parse_jelly_text(text))).select(
        "subj", "pred", "obj", "obj_kind"
    )


@query(
    "q26_statement_flags",
    oracle="""
    SELECT event_id,
           event_id % 5 AS s_kind,
           user_id % 3 AS p_kind,
           event_id % 4 AS o_kind,
           (event_id // 7) % 5 AS g_kind,
           (event_id % 5 NOT IN (0, 1, 3))
             OR (user_id % 3 <> 0)
             OR ((event_id // 7) % 5 NOT IN (0, 1, 4)) AS is_generalized,
           (event_id % 5 = 3) OR (event_id % 4 = 3)
             OR ((event_id // 7) % 5 = 3) AS is_rdf_star
    FROM events
    """,
    doc="Generalized-RDF predicate (P6, StatementUtils.scala:14-21) and "
    "RDF-star predicate (P7, :23-25) as pure boolean column exprs over "
    "term-kind bytes (0=iri,1=bnode,2=literal,3=quoted,4=default-graph); "
    "the flag-conformance filter of `rdf validate` (P8).",
)
def q26_statement_flags(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    s_kind = F.col("event_id") % 5
    p_kind = F.col("user_id") % 3
    o_kind = F.col("event_id") % 4
    g_kind = F.floor(F.col("event_id") / 7) % 5
    return ev.select(
        "event_id",
        s_kind.alias("s_kind"),
        p_kind.alias("p_kind"),
        o_kind.alias("o_kind"),
        g_kind.alias("g_kind"),
        (
            ~s_kind.isin(0, 1, 3) | (p_kind != 0) | ~g_kind.isin(0, 1, 4)
        ).alias("is_generalized"),
        ((s_kind == 3) | (o_kind == 3) | (g_kind == 3)).alias("is_rdf_star"),
    )


@query(
    "q27_empty_frame_skip",
    oracle=f"""
    WITH counts AS ({_FRAMES_SQL}),
    full_range AS (
      SELECT UNNEST(generate_series(0, (SELECT MAX(frame_index) + 3 FROM counts))) AS frame_index
    ),
    padded AS (
      SELECT f.frame_index, COALESCE(c.n_rows, 0) AS n_rows
      FROM full_range f LEFT JOIN counts c ON c.frame_index = f.frame_index
    )
    SELECT frame_index, n_rows,
           frame_index = (SELECT MIN(frame_index) FROM padded WHERE n_rows > 0) AS is_first
    FROM padded WHERE n_rows > 0
    """,
    doc="Empty-frame skip (P5, RdfValidate.scala:217-226) + header peek "
    "(W4): pad the frame axis with synthetic empty frames, drop them "
    "with a size filter, and mark the first surviving frame (the one "
    "whose options row stage-2 validation reads).",
)
def q27_empty_frame_skip(spark, sf_dir):
    counts = q13_frame_assign(spark, sf_dir).select("frame_index", "n_rows")
    max_f = counts.agg(F.max("frame_index")).first()[0]  # W4 driver-side peek
    full = spark.range(0, int(max_f) + 4).select(F.col("id").alias("frame_index"))
    padded = full.join(counts, "frame_index", "left").select(
        "frame_index", F.coalesce(F.col("n_rows"), F.lit(0)).alias("n_rows")
    )
    nonempty = padded.filter(F.col("n_rows") > 0)
    first_f = nonempty.agg(F.min("frame_index")).first()[0]
    return nonempty.withColumn("is_first", F.col("frame_index") == F.lit(first_f))


_IRIS_SQL = f"""
    WITH triples AS ({TRIPLES_SQL}),
    iris AS (
      SELECT DISTINCT iri FROM (
        SELECT subj AS iri FROM triples
        UNION ALL SELECT pred FROM triples
        UNION ALL SELECT obj FROM triples WHERE obj_kind = 0
      )
    )
"""


@query(
    "q43_prefix_split",
    oracle=_IRIS_SQL
    + """
    SELECT iri,
           regexp_extract(iri, '^(.*[/#])', 1) AS prefix,
           regexp_replace(iri, '^(.*[/#])', '') AS local_name,
           DENSE_RANK() OVER (ORDER BY regexp_extract(iri, '^(.*[/#])', 1)) AS prefix_id
    FROM iris
    """,
    doc="IRI prefix-splitting for the Jelly prefix lookup table (F1, "
    "RdfJellySerializationOptions.scala:33-35): greedy split at the last "
    "/ or #, dense_rank dictionary id per distinct prefix.",
)
def q43_prefix_split(spark, sf_dir):
    from cli_spark.order import global_row_number

    t = doc_triples(spark, sf_dir)
    iris = (
        t.select(F.col("subj").alias("iri"))
        .unionAll(t.select("pred"))
        .unionAll(t.filter(F.col("obj_kind") == 0).select("obj"))
        .distinct()
    )
    prefix = F.regexp_extract(F.col("iri"), r"^(.*[/#])", 1)
    split = iris.select(
        "iri",
        prefix.alias("prefix"),
        F.regexp_replace(F.col("iri"), r"^(.*[/#])", "").alias("local_name"),
    )
    # dense_rank over a non-unique key = row_number over its distinct
    # values joined back — a broadcastable dictionary, no global window
    prefix_ids = global_row_number(
        split.select("prefix").distinct(), ["prefix"], rn_col="prefix_id"
    )
    return split.join(F.broadcast(prefix_ids), "prefix").select(
        "iri", "prefix", "local_name", "prefix_id"
    )


_CENTROIDS_SQL = """
      SELECT vec_id AS cell_id, embedding AS cv FROM embeddings
      ORDER BY md5(vec_id::VARCHAR), vec_id
      LIMIT (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)
"""


def _sqrt_centroids(emb: DataFrame) -> DataFrame:
    """ceil(√n) seeded centroids, md5-ordered for DuckDB parity.

    |cells| grows as √corpus (not ∝ n as the old `vec_id % 100` rule
    did), so the assign cross-score is O(n^1.5) and a within-cell
    self-join is O(n^1.5) too — survives a 100× scale-up. The one
    driver `.count()` sizes the TakeOrdered limit (parquet counts are
    metadata-cheap)."""
    import math

    from cli_spark.ops.simsearch import seeded_centroids

    n_cells = int(math.ceil(math.sqrt(emb.count())))
    return seeded_centroids(emb, n_cells, oracle_parity=True)


_CELLS_SQL = f"""
    centroids AS (
{_CENTROIDS_SQL}
    ),
    cell_assign AS (
      SELECT e.vec_id, c.cell_id,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cv::DOUBLE[]) DESC,
                        c.cell_id) AS arnk
      FROM embeddings e CROSS JOIN centroids c
    ),
    cells AS (SELECT vec_id, cell_id FROM cell_assign WHERE arnk = 1)
"""


@query(
    "q44_embedding_neardup",
    oracle=f"""
    WITH {_CELLS_SQL},
    pairs AS (
      SELECT cl.cell_id, l.vec_id AS left_id, r.vec_id AS right_id,
             list_cosine_similarity(l.embedding::DOUBLE[], r.embedding::DOUBLE[]) AS cosine
      FROM cells cl JOIN cells cr ON cl.cell_id = cr.cell_id AND cl.vec_id < cr.vec_id
        JOIN embeddings l ON l.vec_id = cl.vec_id
        JOIN embeddings r ON r.vec_id = cr.vec_id
      WHERE list_cosine_similarity(l.embedding::DOUBLE[], r.embedding::DOUBLE[]) >= 0.4
    )
    SELECT 'pair' AS leg, cell_id, left_id, right_id, cosine FROM pairs
    UNION ALL
    SELECT 'dup' AS leg, cell_id, right_id AS left_id,
           CAST(NULL AS BIGINT) AS right_id, MAX(cosine) AS cosine
    FROM pairs WHERE cosine >= 0.43 GROUP BY cell_id, right_id
    """,
    doc="Embedding-cosine near-duplicate pairs blocked by IVF CELL (the "
    "scale-correct blocking key: a hot label is O(B²), a centroid cell "
    "is load-bounded and semantically 'near'): argmax-cosine cell "
    "assignment (ops.simsearch.assign_cells) → within-cell self-join → "
    "fixed-order double fold ≥ threshold. The 'dup' leg is SemDeDup-"
    "style semantic dedup at tau=0.43 (the battery embeddings are "
    "near-orthogonal synthetics; tau sits inside their observed cosine "
    "range so the leg carries rows at every SF) — a vector is a dup iff an "
    "EARLIER same-cell member reaches tau (drop-set + max evidence "
    "cosine per dropped id); ops.simsearch.semantic_dedup implements "
    "the same rule as one Arrow matmul kernel per cell (the 100 TB "
    "path, differentially tested in test_ops), this leg derives it "
    "from the already-verified pair table so the oracle comparison is "
    "float-exact.",
)
def q44_embedding_neardup(spark, sf_dir):
    from cli_spark.ops.simsearch import _dot, assign_cells, with_norm

    emb = load(spark, sf_dir, "embeddings")
    cents = _sqrt_centroids(emb)
    cells = assign_cells(emb, cents).select("vec_id", "cell_id")
    l = with_norm(
        emb.join(cells, "vec_id").select(
            F.col("vec_id").alias("left_id"), "cell_id", F.col("embedding").alias("lv")
        ),
        "lv",
    ).withColumnRenamed("_norm", "lnorm")
    r = with_norm(
        emb.join(cells, "vec_id").select(
            F.col("vec_id").alias("right_id"),
            F.col("cell_id").alias("rcell"),
            F.col("embedding").alias("rv"),
        ),
        "rv",
    ).withColumnRenamed("_norm", "rnorm")
    # both legs consume the pair table; checkpoint so the cell join +
    # fold runs once, not once per leg (the candidate set is tiny —
    # bounded by the ≥ 0.4 filter — while its parent join is the
    # expensive part)
    pairs = (
        l.join(
            r,
            (F.col("cell_id") == F.col("rcell")) & (F.col("left_id") < F.col("right_id")),
        )
        .withColumn("cosine", _dot(F.col("lv"), F.col("rv")) / (F.col("lnorm") * F.col("rnorm")))
        .filter(F.col("cosine") >= 0.4)
        .select("cell_id", "left_id", "right_id", "cosine")
        .localCheckpoint()
    )
    # SemDeDup keep-rule on the pair table: left < right, so "an earlier
    # member reaches tau" ≡ the id appears as right_id of a ≥ tau pair;
    # one map-side-combinable groupBy, no second pass over embeddings
    dups = (
        pairs.filter(F.col("cosine") >= 0.43)
        .groupBy("cell_id", "right_id")
        .agg(F.max("cosine").alias("cosine"))
        .select(
            "cell_id",
            F.col("right_id").alias("left_id"),
            F.lit(None).cast("long").alias("right_id"),
            "cosine",
        )
    )
    return (
        pairs.withColumn("leg", F.lit("pair"))
        .unionByName(dups.withColumn("leg", F.lit("dup")))
        .select("leg", "cell_id", "left_id", "right_id", "cosine")
    )


_IVF_SQL = f"""
    WITH centroids AS (
{_CENTROIDS_SQL}
    ),
    assign AS (
      SELECT e.vec_id, c.cell_id,
             list_cosine_similarity(e.embedding::DOUBLE[], c.cv::DOUBLE[]) AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cv::DOUBLE[]) DESC,
                        c.cell_id) AS rnk
      FROM embeddings e CROSS JOIN centroids c
    )
    SELECT vec_id, cell_id, cosine FROM assign WHERE rnk = 1
"""


@query(
    "q45_ivf_assign",
    oracle=_IVF_SQL,
    doc="IVF index build: assign every vector to its nearest centroid "
    "(deterministic centroid set, broadcast cross-score, argmax via "
    "ranking window). The probe step re-ranks only inside the cell "
    "(ops.simsearch.ivf_topk) — the corpus-scan-free ANN scale path.",
)
def q45_ivf_assign(spark, sf_dir):
    from cli_spark.ops.simsearch import assign_cells

    emb = load(spark, sf_dir, "embeddings")
    cents = _sqrt_centroids(emb)
    # assign_cells clamps cosines like DuckDB's list_cosine_similarity
    # (the self-pair's sqrt(n)*sqrt(n) can exceed the dot by 1 ulp)
    return assign_cells(emb, cents).select(
        "vec_id", "cell_id", F.col("cell_cos").alias("cosine")
    )


# q35_ann_topk registered earlier; its IVF-leg oracle needs _CELLS_SQL
# (just above), so the merged tagged oracle is assembled and attached
# here. Same battery-cap consolidation as q30/q34: two queries with one
# output shape become two legs of one driver-checked row set.
REGISTRY["q35_ann_topk"].oracle = f"""
    WITH {_CELLS_SQL},
    q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    bscored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cosine
      FROM q JOIN embeddings c ON q.vec_id <> c.vec_id
    ),
    brute AS (
      SELECT query_id, neighbor_id, cosine, rnk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM bscored
      ) WHERE rnk <= 5
    ),
    probes AS (
      SELECT q.vec_id AS query_id, c.cell_id,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.cv::DOUBLE[]) DESC,
                        c.cell_id) AS prnk
      FROM embeddings q CROSS JOIN centroids c
      WHERE q.vec_id < 5
    ),
    cand AS (
      SELECT p.query_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(qe.embedding::DOUBLE[], e.embedding::DOUBLE[]) AS cosine
      FROM probes p
        JOIN cells ce ON ce.cell_id = p.cell_id
        JOIN embeddings e ON e.vec_id = ce.vec_id AND e.vec_id <> p.query_id
        JOIN embeddings qe ON qe.vec_id = p.query_id
      WHERE p.prnk <= 2
    ),
    ivf AS (
      SELECT query_id, neighbor_id, cosine, rnk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM cand
      ) WHERE rnk <= 5
    )
    SELECT 'brute' AS leg, query_id, neighbor_id, cosine, rnk FROM brute
    UNION ALL
    SELECT 'ivf' AS leg, query_id, neighbor_id, cosine, rnk FROM ivf
"""


@query(
    "q46_rank_windows",
    oracle="""
    SELECT o_orderkey, o_orderpriority, rnk, drnk, qtile, prank FROM (
      SELECT o_orderkey, o_orderpriority,
             RANK() OVER w AS rnk,
             DENSE_RANK() OVER w AS drnk,
             NTILE(4) OVER w AS qtile,
             PERCENT_RANK() OVER w AS prank
      FROM orders
      WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
    ) WHERE rnk <= 10
    """,
    doc="Ranking-window battery (rank/dense_rank/ntile/percent_rank) with "
    "deterministic tiebreak — the §2.6 top-k surface beyond row_number.",
)
def q46_rank_windows(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("qtile"),
            F.percent_rank().over(w).alias("prank"),
        )
        .filter(F.col("rnk") <= 10)
    )


@query(
    "q47_rollup_revenue",
    oracle="""
    SELECT COALESCE(r_name, 'ALL') AS region,
           COALESCE(n_name, 'ALL') AS nation,
           CASE WHEN n_name IS NULL AND r_name IS NULL THEN 2
                WHEN n_name IS NULL THEN 1 ELSE 0 END AS lvl,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    doc="Hierarchical rollup (region → nation → grand total) over a "
    "broadcast snowflake join; the A5 grouping-sets machinery on the "
    "relational side. Partial aggregation keeps the fact-table shuffle "
    "at |groups|, not |rows|.",
)
def q47_rollup_revenue(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    rolled = joined.rollup("r_name", "n_name").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return rolled.select(
        F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region"),
        F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
        F.when(F.col("n_name").isNull() & F.col("r_name").isNull(), 2)
        .when(F.col("n_name").isNull(), 1)
        .otherwise(0)
        .alias("lvl"),
        "revenue",
        "n_orders",
    )


@query(
    "q48_range_join",
    oracle="""
    SELECT l.event_id,
           COUNT(r.event_id) AS n_prior_10m,
           COALESCE(CAST(SUM(CAST(r.value AS DECIMAL(18,6))) AS DOUBLE), 0.0) AS prior_value
    FROM events l
      LEFT JOIN events r
        ON r.user_id = l.user_id
       AND r.ts >= l.ts - INTERVAL 10 MINUTE
       AND r.ts < l.ts
    GROUP BY l.event_id
    """,
    doc="Time-range self-join: events within a trailing 10-minute window "
    "per user. Equi-key (user_id) carries the shuffle; the range predicate "
    "filters inside the partition — at scale this is a bucketed/sorted "
    "merge join, never a cross product.",
)
def q48_range_join(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    l = ev.select(F.col("event_id"), F.col("user_id"), F.col("ts"))
    r = ev.select(
        F.col("event_id").alias("r_event_id"),
        F.col("user_id").alias("r_user_id"),
        F.col("ts").alias("r_ts"),
        F.col("value").alias("r_value"),
    )
    joined = l.join(
        r,
        (F.col("user_id") == F.col("r_user_id"))
        & (F.col("r_ts") >= F.col("ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("r_ts") < F.col("ts")),
        "left",
    )
    return joined.groupBy("event_id").agg(
        F.count("r_event_id").alias("n_prior_10m"),
        F.coalesce(
            F.sum(F.col("r_value").cast("decimal(18,6)")).cast("double"), F.lit(0.0)
        ).alias("prior_value"),
    )


@query(
    "q49_salted_agg",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
    doc="Skew-salted two-stage aggregation: groupBy(key, salt) partial → "
    "groupBy(key) final, provably equal to the plain groupBy (the oracle). "
    "The mega-repo skew treatment from the north rule (J4/A7): a hot key "
    "fans out over 16 salts before the final 5-row combine.",
)
def q49_salted_agg(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    partial = (
        ev.withColumn("salt", F.pmod(F.col("event_id"), F.lit(16)))
        .groupBy("event_type", "salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("pv"),
        )
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n_events"),
        F.sum("pv").cast("double").alias("total_value"),
    )


@query(
    "q52_scalar_battery",
    oracle="""
    SELECT 'json' AS family, event_id AS id, 'k_val' AS metric,
           CAST(CAST(json_extract_string(props, '$.k') AS INT) AS VARCHAR) AS val
    FROM events
    UNION ALL
    SELECT 'json', event_id, 'k_bucket',
           CAST(CAST(json_extract_string(props, '$.k') AS INT) % 10 AS VARCHAR)
    FROM events
    UNION ALL
    SELECT 'json', event_id, 'props_len', CAST(length(props) AS VARCHAR)
    FROM events
    UNION ALL
    SELECT 'date', o_orderkey, 'y',
           CAST(CAST(EXTRACT(year FROM o_orderdate) AS INT) AS VARCHAR) FROM orders
    UNION ALL
    SELECT 'date', o_orderkey, 'm',
           CAST(CAST(EXTRACT(month FROM o_orderdate) AS INT) AS VARCHAR) FROM orders
    UNION ALL
    SELECT 'date', o_orderkey, 'd',
           CAST(CAST(EXTRACT(day FROM o_orderdate) AS INT) AS VARCHAR) FROM orders
    UNION ALL
    SELECT 'date', o_orderkey, 'q',
           CAST(CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS VARCHAR) FROM orders
    UNION ALL
    SELECT 'date', o_orderkey, 'month_start',
           CAST(CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS VARCHAR) FROM orders
    UNION ALL
    SELECT 'date', o_orderkey, 'days_to_y2k',
           CAST(date_diff('day', o_orderdate, TIMESTAMP '2000-01-01 00:00:00') AS VARCHAR)
    FROM orders
    """,
    doc="F9 scalar battery, long format (family, id, metric, val): JSON "
    "path extraction (get_json_object, JVM-side) over events + date "
    "extract/trunc/diff over orders — the former q52_json_extract and "
    "q53_date_battery merged into one driver row (the battery cap is 50).",
)
def q52_scalar_battery(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    mk = lambda name, col: F.struct(  # noqa: E731
        F.lit(name).alias("metric"), col.cast("string").alias("val")
    )
    jsonb = ev.select(
        F.lit("json").alias("family"),
        F.col("event_id").cast("long").alias("id"),
        F.explode(
            F.array(
                mk("k_val", k),
                mk("k_bucket", k % 10),
                mk("props_len", F.length("props")),
            )
        ).alias("x"),
    ).select("family", "id", "x.metric", "x.val")
    o = load(spark, sf_dir, "orders")
    dateb = o.select(
        F.lit("date").alias("family"),
        F.col("o_orderkey").cast("long").alias("id"),
        F.explode(
            F.array(
                mk("y", F.year("o_orderdate")),
                mk("m", F.month("o_orderdate")),
                mk("d", F.dayofmonth("o_orderdate")),
                mk("q", F.quarter("o_orderdate")),
                mk("month_start", F.date_trunc("month", F.col("o_orderdate"))),
                mk(
                    "days_to_y2k",
                    F.datediff(
                        F.lit("2000-01-01").cast("timestamp"), F.col("o_orderdate")
                    ),
                ),
            )
        ).alias("x"),
    ).select("family", "id", "x.metric", "x.val")
    return jsonb.unionByName(dateb)


def _codec_roundtrip(df: DataFrame, encode_batch, parse_stream) -> DataFrame:
    """Batch-local encode→parse identity through a binary RDF codec
    (the same functions the file sink/source use), evidencing the codec
    on the driver battery without touching disk. Zero shuffle: each
    Arrow batch encodes to one blob (memoized batch encoder — the same
    fast path the sinks use) and parses straight back."""
    from cli_spark.nquads import TRIPLE_COLS

    schema = (
        "subj string, subj_kind int, pred string, pred_kind int, "
        "obj string, obj_kind int, obj_datatype string, obj_lang string, "
        "graph string, graph_kind int"
    )

    def rt(batches):
        import pandas as pd

        for pdf in batches:
            blob = encode_batch(
                tuple(None if pd.isna(v) else v for v in row)
                for row in pdf.itertuples(index=False, name=None)
            )
            yield pd.DataFrame(parse_stream(blob), columns=TRIPLE_COLS)

    return df.select(*TRIPLE_COLS).mapInPandas(rt, schema)


def _rdfxml_roundtrip(df: DataFrame) -> DataFrame:
    """RDF/XML render ∘ parse identity, distributed: the COLUMNAR writer
    (render_rdfxml — one hash agg, zero Python in the row path) emits
    one <rdf:Description> block per subject; each Arrow batch of blocks
    is then wrapped in the rdf:RDF envelope and re-parsed as a complete
    document with the real file-path parser. Parallelism unit = batch,
    exactly like the file reader's one-task-per-document."""
    from cli_spark.nquads import TRIPLE_COLS
    from cli_spark.rdfxml import parse_rdfxml_document, render_rdfxml

    header, body, footer = render_rdfxml(df)
    schema = (
        "subj string, subj_kind int, pred string, pred_kind int, "
        "obj string, obj_kind int, obj_datatype string, obj_lang string, "
        "graph string, graph_kind int"
    )

    def rt(batches):
        import pandas as pd

        for pdf in batches:
            doc = "\n".join([header, *pdf["line"], footer])
            yield pd.DataFrame(parse_rdfxml_document(doc), columns=TRIPLE_COLS)

    return body.mapInPandas(rt, schema)


@query(
    "q53_format_roundtrips",
    oracle=TRIPLES_SQL,
    doc="S4 format registry, text + binary legs (RdfFormat.scala:48-105; "
    "the reference's parametrized format sweep RdfToJellySpec.scala:"
    "537-615): flat-expanded JSON-LD render (columnar to_json assembly) "
    "∘ parse, then RDF Protobuf encode ∘ parse, then RDF Thrift (compact "
    "protocol) encode ∘ parse, then RDF/XML columnar render ∘ parse, "
    "then prefix-compacted Turtle render (derived prefix map) ∘ "
    "line-parallel parse — five distinct wire formats chained, identity "
    "overall; oracle is the original triple set, same gate shape as q12.",
)
def q53_format_roundtrips(spark, sf_dir):
    from cli_spark import rdfproto, rdfthrift
    from cli_spark.jsonld import parse_jsonld_lines, render_jsonld
    from cli_spark.turtle import derive_prefixes, parse_turtle_lines, render_turtle

    t = doc_triples(spark, sf_dir)
    lines = render_jsonld(t)
    back = parse_jsonld_lines(lines)
    back = _codec_roundtrip(back, rdfproto.encode_batch, rdfproto.parse_stream)
    back = _codec_roundtrip(back, rdfthrift.encode_batch, rdfthrift.parse_stream)
    back = _rdfxml_roundtrip(back)
    # Turtle leg (formerly its own battery entry q63; merged under the
    # driver's 50-query cap): literal objects are obj_kind 2, IRIs 0
    model = back.select(
        "subj", "pred", "obj", F.col("obj_kind").cast("int").alias("obj_kind")
    )
    prefixes = derive_prefixes(model)
    _, body = render_turtle(model, prefixes)
    parsed = parse_turtle_lines(body, prefixes)
    return parsed.select(
        "subj", "pred", "obj",
        F.when(F.col("obj_kind") == 2, F.lit(2)).otherwise(F.lit(0)).alias("obj_kind"),
    )


def _q56_oracle() -> str:
    """Unroll the fixed-k hash refinement of compare.canonical_bnode_labels
    in DuckDB SQL: per round, label = md5 of the '|'-joined sorted multiset
    of dir:pred:neighbor-signature strings (string_agg ORDER BY == Spark's
    sort_array(collect_list)); round 0 masks bnode neighbors as '?'."""
    from cli_spark.compare import REFINE_ROUNDS

    sig0 = (
        "dir || ':' || pred || ':' || "
        "(CASE WHEN starts_with(neighbor, '_:') THEN '?' ELSE neighbor END)"
    )
    parts = [
        f"""
    WITH t AS (
      SELECT '' AS graph, '_:d' || doc_id::VARCHAR AS subj,
             'kg:inLang' AS pred, lang AS obj, 2 AS obj_kind
      FROM documents
      UNION ALL
      SELECT '' AS graph, '_:d' || doc_id::VARCHAR AS subj,
             'kg:near' AS pred, '_:d' || (doc_id + 1)::VARCHAR AS obj,
             0 AS obj_kind
      FROM documents WHERE doc_id % 7 = 0
    ),
    occ AS (
      SELECT graph, subj AS label, 's' AS dir, pred, obj AS neighbor
      FROM t WHERE starts_with(subj, '_:')
      UNION ALL
      SELECT graph, obj AS label, 'o' AS dir, pred, subj AS neighbor
      FROM t WHERE starts_with(obj, '_:')
    ),
    l0 AS (
      SELECT graph, label,
             md5(string_agg({sig0}, '|' ORDER BY {sig0})) AS h
      FROM occ GROUP BY graph, label
    )"""
    ]
    sig = "o.dir || ':' || o.pred || ':' || coalesce(n.h, o.neighbor)"
    for i in range(1, REFINE_ROUNDS + 1):
        parts.append(
            f""",
    l{i} AS (
      SELECT o.graph, o.label,
             md5(string_agg({sig}, '|' ORDER BY {sig})) AS h
      FROM occ o
      LEFT JOIN l{i - 1} n ON n.graph = o.graph AND n.label = o.neighbor
      GROUP BY o.graph, o.label
    )"""
        )
    parts.append(
        f""",
    canon AS (
      SELECT graph, label, '_:c' || h AS canon FROM l{REFINE_ROUNDS}
    )
    SELECT t.graph,
           coalesce(sc.canon, t.subj) AS subj,
           t.pred,
           coalesce(oc.canon, t.obj) AS obj,
           t.obj_kind
    FROM t
    LEFT JOIN canon sc ON sc.graph = t.graph AND sc.label = t.subj
    LEFT JOIN canon oc ON oc.graph = t.graph AND oc.label = t.obj
    """
    )
    return "".join(parts)


@query(
    "q56_bnode_canonical",
    oracle=_q56_oracle(),
    doc="Canonical blank-node labeling by iterative hash refinement (J2, "
    "UnorderedRdfCompare.scala:10-34): synthesize bnode-subject triples "
    "from the documents table, run the refinement, return stable labels. "
    "The isomorphism-aware compare of `rdf validate`.",
)
def q56_bnode_canonical(spark, sf_dir):
    from cli_spark.compare import canonicalize_bnodes

    d = load(spark, sf_dir, "documents")
    # bnode graph: _:doc<id> --kg:inLang--> lang literal; _:doc<id>
    # --kg:near--> _:doc<id+1> chains give refinement something to do
    t1 = d.select(
        F.format_string("_:d%d", F.col("doc_id")).alias("subj"),
        F.lit("kg:inLang").alias("pred"),
        F.col("lang").alias("obj"),
        F.lit(2).alias("obj_kind"),
    )
    t2 = d.filter(F.col("doc_id") % 7 == 0).select(
        F.format_string("_:d%d", F.col("doc_id")).alias("subj"),
        F.lit("kg:near").alias("pred"),
        F.format_string("_:d%d", F.col("doc_id") + 1).alias("obj"),
        F.lit(0).alias("obj_kind"),
    )
    triples = t1.unionByName(t2).withColumn("graph", F.lit(None).cast("string"))
    return canonicalize_bnodes(triples)


@query(
    "q57_tumbling_windows",
    oracle="""
    SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS win_start,
           event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling event-time windows (§2.9): the batch twin of the "
    "Structured Streaming path (cli_spark.streaming.windowed_event_counts "
    "runs the same plan over readStream with a watermark).",
)
def q57_tumbling_windows(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events", "n_users", "total_value")
    )


@query(
    "q59_above_avg_balance",
    oracle="""
    SELECT s_suppkey, s_name, n_name,
           CAST(s_acctbal AS DOUBLE) AS acctbal,
           nation_avg
    FROM (
      SELECT s.*, n.n_name,
             CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) OVER w AS DOUBLE)
               / COUNT(*) OVER w AS nation_avg
      FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
      WINDOW w AS (PARTITION BY s_nationkey)
    )
    WHERE CAST(s_acctbal AS DOUBLE) > nation_avg
    """,
    doc="Correlated 'above group average' filter decorrelated into an "
    "analytic window — the subquery-decorrelation pattern Catalyst "
    "applies, written explicitly; exact-decimal average.",
)
def q59_above_avg_balance(spark, sf_dir):
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    w = W.partitionBy("s_nationkey")
    # exact-decimal sum cast to double, then one double division —
    # bit-identical in both engines (decimal AVG rounds differently)
    nation_avg = (
        F.sum(F.col("s_acctbal").cast("decimal(18,2)")).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    joined = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).withColumn(
        "nation_avg", nation_avg
    )
    return joined.filter(
        F.col("s_acctbal").cast("double") > F.col("nation_avg")
    ).select(
        "s_suppkey",
        "s_name",
        "n_name",
        F.col("s_acctbal").cast("double").alias("acctbal"),
        "nation_avg",
    )


_QUADS_SQL = """
    SELECT DISTINCT 'kg:doc/' || doc_id AS subj,
           'kg:inLang' AS pred,
           lang AS obj,
           2 AS obj_kind,
           CASE WHEN source = 'web' THEN NULL ELSE 'kg:graph/' || source END AS graph
    FROM documents
"""


_QUADS2_SQL = """
    SELECT DISTINCT 'kg:doc/' || doc_id AS subj,
           'kg:fromSource' AS pred,
           'kg:src/' || source AS obj,
           0 AS obj_kind,
           CASE WHEN lang = 'en' THEN NULL ELSE 'kg:graph/' || lang END AS graph
    FROM documents
"""


@query(
    "q60_quads_graphs_roundtrip",
    oracle=f"""
    SELECT 'graphs' AS leg, * FROM ({_QUADS_SQL})
    UNION ALL
    SELECT 'quads' AS leg, * FROM ({_QUADS2_SQL})
    """,
    doc="Both quad-bearing Jelly physical types round-tripped in one "
    "tagged battery (merged q60+q61 under the 50-query cap). 'graphs' "
    "leg (S16, JellyStreamWriterGraphs.scala:19-95): quads → graph-run "
    "frames (GraphStart/GraphEnd boundary rows from a groupBy over "
    "contiguous runs) → stateful decode via last-marker window. 'quads' "
    "leg (S15 QUADS + P4 machinery, RdfToJelly.scala:158,182-191): "
    "every statement row carries its own graph reference (g_id 0 = "
    "default graph), prefix table on, decode via 4-way dictionary "
    "join. Oracle legs are the original quad sets, NULL = default "
    "graph.",
)
def q60_quads_graphs_roundtrip(spark, sf_dir):
    from cli_spark.jelly import (
        decode_frames,
        decode_quads_graphs,
        encode_quads_graphs,
        roundtrip_quads,
    )

    d = load(spark, sf_dir, "documents")
    g_quads = d.select(
        F.format_string("kg:doc/%d", F.col("doc_id")).alias("subj"),
        F.lit("kg:inLang").alias("pred"),
        F.col("lang").alias("obj"),
        F.lit(2).alias("obj_kind"),
        F.when(F.col("source") == "web", F.lit(None)).otherwise(
            F.concat(F.lit("kg:graph/"), F.col("source"))
        ).alias("graph"),
    ).distinct()
    frames = encode_quads_graphs(spark, g_quads, rows_per_frame=64)
    graphs_leg = decode_quads_graphs(decode_frames(frames)).select(
        F.lit("graphs").alias("leg"), "subj", "pred", "obj", "obj_kind", "graph"
    )
    q_quads = d.select(
        F.format_string("kg:doc/%d", F.col("doc_id")).alias("subj"),
        F.lit("kg:fromSource").alias("pred"),
        F.concat(F.lit("kg:src/"), F.col("source")).alias("obj"),
        F.lit(0).alias("obj_kind"),
        F.when(F.col("lang") == "en", F.lit(None)).otherwise(
            F.concat(F.lit("kg:graph/"), F.col("lang"))
        ).alias("graph"),
    ).distinct()
    quads_leg = roundtrip_quads(
        spark, q_quads, rows_per_frame=64, prefix_table=True
    ).select(
        F.lit("quads").alias("leg"), "subj", "pred", "obj", "obj_kind", "graph"
    )
    return graphs_leg.unionByName(quads_leg)


# ---------------------------------------------------------------------------
# Corpus-curation battery (ops.curation): the training-data stages between
# extraction and training — repetition quality signals, PII scrubbing,
# deterministic splits/shards, sequence packing, vocabulary stats. Extends
# the reference's per-record inspect/aggregate surface (RdfInspect.scala:84-122)
# to document curation.
# ---------------------------------------------------------------------------

_REPETITION_SQL = (
    "WITH toks AS (" + TOKENS_SQL + "),\n"
    """
    lines AS (
      SELECT doc_id, unnest(list_filter(string_split(text, chr(10)), l -> l <> '')) AS line
      FROM documents
    ),
    lc AS (SELECT doc_id, line, COUNT(*) AS cnt FROM lines GROUP BY doc_id, line),
    ls AS (
      SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_lines,
             CAST(SUM(cnt) - COUNT(*) AS DOUBLE) / SUM(cnt) AS dup_line_frac,
             CAST(SUM(CASE WHEN cnt > 1 THEN cnt * length(line) ELSE 0 END) AS DOUBLE)
               / SUM(cnt * length(line)) AS dup_line_char_frac
      FROM lc GROUP BY doc_id
    ),
    tc AS (SELECT doc_id, token, COUNT(*) AS cnt FROM toks GROUP BY doc_id, token),
    ts AS (
      SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
             CAST(SUM(cnt) - COUNT(*) AS DOUBLE) / SUM(cnt) AS dup_token_frac
      FROM tc GROUP BY doc_id
    ),
    grams AS (
      SELECT doc_id, g FROM (
        SELECT doc_id, token || ' ' || LEAD(token) OVER (PARTITION BY doc_id ORDER BY pos) AS g
        FROM toks
      ) WHERE g IS NOT NULL
    ),
    gc AS (SELECT doc_id, g, COUNT(*) AS cnt FROM grams GROUP BY doc_id, g),
    gs AS (
      SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
             CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) AS top_bigram_frac
      FROM gc GROUP BY doc_id
    )
    SELECT COALESCE(ls.doc_id, ts.doc_id) AS id,
           COALESCE(n_lines, 0) AS n_lines,
           COALESCE(dup_line_frac, 0.0) AS dup_line_frac,
           COALESCE(dup_line_char_frac, 0.0) AS dup_line_char_frac,
           COALESCE(n_tokens, 0) AS n_tokens,
           COALESCE(dup_token_frac, 0.0) AS dup_token_frac,
           COALESCE(n_bigrams, 0) AS n_bigrams,
           COALESCE(top_bigram_frac, 0.0) AS top_bigram_frac
    FROM ls FULL JOIN ts ON ls.doc_id = ts.doc_id
    LEFT JOIN gs ON COALESCE(ls.doc_id, ts.doc_id) = gs.doc_id
    ORDER BY id
    """
)


@query(
    "q65_repetition_stats",
    oracle=_REPETITION_SQL,
    doc="Gopher-style repetition quality signals per document "
    "(ops.curation.repetition_stats): duplicate-line count/char "
    "fractions, duplicate-token fraction, top-bigram coverage. Two "
    "shuffles keyed by (doc, unit) with map-side combine; extends the "
    "reference's per-record inspect stats (A1-A4) to curation filters.",
)
def q65_repetition_stats(spark, sf_dir):
    from cli_spark.ops.curation import repetition_stats

    d = load(spark, sf_dir, "documents")
    return repetition_stats(d, "doc_id", "text").orderBy("id")


# Deterministic PII planting: the synthetic corpus carries no PII, so the
# battery query appends md5-free arithmetic-derived spans (email, IPv4,
# phone) to every document before scrubbing — the operator itself is
# general (ops.curation.PII_PATTERNS).
from cli_spark.ops.curation import EMAIL_RX as _EMAIL_RX  # noqa: E402
from cli_spark.ops.curation import IPV4_RX as _IPV4_RX  # noqa: E402
from cli_spark.ops.curation import PHONE_RX as _PHONE_RX  # noqa: E402

_PLANT_SQL = (
    "SELECT doc_id, text || ' contact user' || doc_id || '@ex' || (doc_id % 7)"
    " || '.org via 10.0.' || (doc_id % 256) || '.' || (doc_id % 100)"
    " || ' call +1-555 ' || (100 + doc_id % 900) || '-' || (1000 + doc_id % 9000)"
    " AS t FROM documents"
)

_PII_SQL = (
    "WITH planted AS (" + _PLANT_SQL + "),\n"
    "red AS (SELECT doc_id, t, regexp_replace(regexp_replace(regexp_replace(t, '"
    + _EMAIL_RX
    + "', '[EMAIL]', 'g'), '"
    + _IPV4_RX
    + "', '[IPV4]', 'g'), '"
    + _PHONE_RX
    + "', '[PHONE]', 'g') AS redacted FROM planted)\n"
    "SELECT doc_id AS id,\n"
    "  len(regexp_extract_all(t, '" + _EMAIL_RX + "')) AS n_email,\n"
    "  len(regexp_extract_all(t, '" + _IPV4_RX + "')) AS n_ipv4,\n"
    "  len(regexp_extract_all(t, '" + _PHONE_RX + "')) AS n_phone,\n"
    "  length(redacted) AS n_redacted_chars, md5(redacted) AS redacted_sha\n"
    "FROM red ORDER BY id"
)


@query(
    "q66_pii_scrub",
    oracle=_PII_SQL,
    doc="PII scrubbing (ops.curation.pii_scrub): per-pattern match "
    "counts + chained redaction, verified via redacted-text md5. "
    "Zero-shuffle whole-stage-codegen columnar map (regexp_extract_all "
    "+ regexp_replace; RE2/Java-regex-portable patterns). The corpus "
    "has no PII, so deterministic spans are planted first.",
)
def q66_pii_scrub(spark, sf_dir):
    from cli_spark.ops.curation import pii_scrub

    d = load(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@ex"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".org via 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            (F.col("doc_id") % 100).cast("string"),
            F.lit(" call +1-555 "),
            (F.lit(100) + F.col("doc_id") % 900).cast("string"),
            F.lit("-"),
            (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        ).alias("t"),
    )
    return pii_scrub(planted, "doc_id", "t").orderBy("id")


_SPLIT_SQL = """
    SELECT doc_id AS id,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket,
           CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80 THEN 'train'
                WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90 THEN 'val'
                ELSE 'test' END AS split,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8))::BIGINT % 16 AS shard,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 17, 8))::BIGINT AS ord
    FROM documents
"""

_PACK_SQL = """
    WITH keyed AS (
      SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS n_tokens,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8))::BIGINT % 8 AS shard,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 17, 8))::BIGINT AS ord
      FROM documents
    ),
    cum AS (
      SELECT id, shard, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY ord, id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
      FROM keyed
    )
    SELECT id, shard, n_tokens, cum_before,
           CAST(FLOOR(cum_before / 2048) AS BIGINT) AS bin
    FROM cum
"""


@query(
    "q67_split_pack",
    oracle=f"""
    WITH s AS ({_SPLIT_SQL}), p AS ({_PACK_SQL})
    SELECT s.id, s.bucket, s.split, s.shard AS split_shard, s.ord,
           p.shard AS pack_shard, p.n_tokens, p.cum_before, p.bin
    FROM s JOIN p USING (id) ORDER BY s.id
    """,
    doc="Deterministic split + sequence packing, one per-document row "
    "(merged q67+q68 under the 50-query cap). Split leg "
    "(ops.curation.deterministic_split): train/val/test + shard + "
    "shuffle-order from md5(id) — engine-, partitioning- and "
    "rerun-stable, the property a decontamination-safe split needs; "
    "pure projection, zero shuffle. Packing leg (ops.curation."
    "pack_bins): contiguous-fill bins via window cumsum per md5 shard, "
    "bin = floor(cum_before/max_len); window parallelism = shard count "
    "(never a single-task global sort; plan-audited). The strict-"
    "capacity next-fit variant is pack_sequences_nextfit (applyInPandas "
    "per shard, invariant-tested in tests/test_curation).",
)
def q67_split_pack(spark, sf_dir):
    from cli_spark.ops.curation import deterministic_split, pack_bins

    d = load(spark, sf_dir, "documents")
    s = deterministic_split(d, "doc_id").withColumnRenamed("shard", "split_shard")
    p = pack_bins(d, "doc_id", "n_chars", max_len=2048, n_shards=8).withColumnRenamed(
        "shard", "pack_shard"
    )
    return s.join(p, "id").select(
        "id", "bucket", "split", "split_shard", "ord",
        "pack_shard", "n_tokens", "cum_before", "bin",
    ).orderBy("id")


_DOCFREQ_SQL = (
    "WITH toks AS (" + TOKENS_SQL + "),\n"
    """
    dfreq AS (
      SELECT token, COUNT(*) AS doc_freq
      FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY token
    ),
    tfreq AS (SELECT token, COUNT(*) AS term_freq FROM toks GROUP BY token)
    SELECT dfreq.token AS token, doc_freq, term_freq
    FROM dfreq JOIN tfreq USING (token) ORDER BY token
    """
)


@query(
    "q69_doc_frequency",
    oracle=_DOCFREQ_SQL,
    doc="Corpus vocabulary statistics (ops.curation.doc_frequency): "
    "per-token document frequency (distinct-per-doc explode) + total "
    "term frequency, one partial-aggregated groupBy each. Integer "
    "outputs only; IDF is a client-side transform of exact counts.",
)
def q69_doc_frequency(spark, sf_dir):
    from cli_spark.ops.curation import doc_frequency

    d = load(spark, sf_dir, "documents")
    return doc_frequency(d, "doc_id", "text").orderBy("token")


_SAMPLE_SQL = """
    SELECT * FROM documents
    WHERE ('0x' || substr(md5(doc_id || ':s0'), 1, 8))::BIGINT % 1000000 <
      CASE source WHEN 'src0' THEN 100000 WHEN 'src1' THEN 500000
                  WHEN 'src2' THEN 900000 ELSE 700000 END
"""


@query(
    "q70_sample_quantiles",
    oracle=f"""
    WITH sampled AS ({_SAMPLE_SQL})
    SELECT source, quantile_cont(n_chars, 0.5) AS p50,
           quantile_cont(n_chars, 0.9) AS p90,
           COUNT(*) AS n
    FROM sampled GROUP BY source ORDER BY source
    """,
    doc="Quality-weighted deterministic downsampling composed with "
    "per-stratum exact quantiles (merged q70+q71 under the 50-query "
    "cap). Sample leg (ops.curation.deterministic_sample): per-source "
    "keep rates via a pure md5(id:salt) membership function — rerun/"
    "partitioning/engine stable, zero shuffle, filter pushes onto the "
    "scan; the corpus-mixing stage of a pretraining pipeline. Quantile "
    "leg (ops.curation.grouped_quantiles): sort-based percentile, "
    "linear interpolation bit-identical to DuckDB quantile_cont "
    "(verified incl. ulp-sensitive cases); exact=False switches to the "
    "mergeable approx_percentile sketch for the 100 TB path. Any "
    "membership drift shifts the exact per-source quantiles and count, "
    "so both operators stay value-checked.",
)
def q70_sample_quantiles(spark, sf_dir):
    from cli_spark.ops.curation import deterministic_sample, grouped_quantiles

    d = load(spark, sf_dir, "documents")
    sampled = deterministic_sample(
        d,
        "doc_id",
        rates={"src0": 0.1, "src1": 0.5, "src2": 0.9},
        strata_col="source",
        default_rate=0.7,
    )
    return grouped_quantiles(sampled, "source", "n_chars").orderBy("source")
