"""S4-S8 + D3/D4 + Q1-Q3 — graph materialization and read-side analytics
(SURVEY.md §2.1, §2.5, §2.8; reference graph_db.py).

Neo4j MERGE semantics re-expressed relationally:

* node MERGE on (name, type) — last-writer SET wins (graph_db.py:81-88):
  window keep-last per key.
* edge MERGE on (src, type, dst): window keep-last per key. The
  reference's silent MATCH-miss on an endpoint that is not a node
  (graph_db.py:131-134) cannot happen within a run, so no join
  reproduces it: every endpoint is an entity text (V2, event
  participants) and every entity text is a node name (D3).
* event nodes MERGE on (name, type) + one INVOLVES edge per participant
  (graph_db.py:96-119): window keep-last + explode. INVOLVES edges share
  the triple edges' keep-last window, so their ``document_id`` does not
  depend on partitioning.
* session clear (graph_db.py:147-151) = a ``session_id`` predicate.

The build-side frames are SQL text (``selectExpr``/``filter`` strings):
a few py4j calls per operator instead of several per Column. The tables are
written by the caller (the CLI's parquet directories, or
``sources/graph_store.GraphStore``'s manifest commits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _sql_string(value: str) -> str:
    """``value`` as a Spark SQL string literal. Hex bytes need no escaping
    whatever ``value`` holds or how the parser treats backslashes; the
    optimizer folds the cast to a plain literal."""
    return f"CAST(X'{value.encode().hex()}' AS STRING)"


def _keep_last(df: DataFrame, keys: str, order: str, *columns: str) -> DataFrame:
    """One row per ``keys``: the first by ``order``, projected to ``columns``."""
    return (
        df.selectExpr("*", f"row_number() OVER (PARTITION BY {keys} ORDER BY {order}) AS _rn")
        .filter("_rn = 1")
        .selectExpr(*columns)
    )


def build_nodes(entities: DataFrame, session_id: str = "batch") -> DataFrame:
    """D3 — MERGE on (name, type), last writer's properties win. Write
    order in the reference is entity list order per document, documents in
    arrival order; reproduced deterministically as (conv_id, is_forced,
    start_char) descending-last."""
    return _keep_last(
        entities, "text, type", "conv_id DESC, is_forced DESC, start_char DESC",
        "text AS name", "type", f"{_sql_string(session_id)} AS session_id",
        "conv_id AS document_id", "source_sentence",
    )


def build_edges(triples: DataFrame, events: DataFrame, session_id: str = "batch") -> DataFrame:
    """D4 + S5 + S6 — triple edges and one INVOLVES edge per (event,
    participant), deduplicated on (src, type, dst) by ONE keep-last
    window: the last writer by ``document_id`` wins. No triple type is
    ``INVOLVES``, so no key mixes the two kinds of edge.

    No endpoint needs anchoring against the nodes: a validated triple's
    endpoints are entity texts of its document, participants are entity
    texts, and every entity text is a node name, so the reference's
    MATCH-miss (graph_db.py:131-134) never fires within a run."""
    triple_edges = triples.selectExpr(
        "source AS src", "type", "target AS dst", "reason", "confidence", "verb", "date",
        "amount", "source_sentence", "document_id",
    )
    involves = events.selectExpr(
        "name AS src", "'INVOLVES' AS type", "explode(participants) AS dst",
        "CAST(NULL AS STRING) AS reason", "CAST(NULL AS DOUBLE) AS confidence",
        "CAST(NULL AS STRING) AS verb", "CAST(NULL AS STRING) AS date",
        "CAST(NULL AS STRING) AS amount", "CAST(NULL AS STRING) AS source_sentence",
        "document_id",
    )
    return _keep_last(
        triple_edges.unionByName(involves), "src, type, dst", "document_id DESC",
        "src", "type", "dst", "reason", "confidence", "verb", "date", "amount",
        "source_sentence", "document_id", f"{_sql_string(session_id)} AS session_id",
    )


def build_event_nodes(events: DataFrame, session_id: str = "batch") -> DataFrame:
    """S6 — event nodes: MERGE on (name, event_type), last writer wins."""
    return _keep_last(
        events, "name, event_type", "document_id DESC",
        "name", "event_type", "date", "location", "amount", "context", "document_id",
        "confidence", f"{_sql_string(session_id)} AS session_id",
    )


def insights(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Q1 — per-session stats (graph_db.py:153-179): distinct node count,
    distinct edge count, avg confidence rounded to 2dp."""
    n = nodes.groupBy("session_id").agg(F.countDistinct("name", "type").alias("total_entities"))
    e = edges.groupBy("session_id").agg(
        F.countDistinct("src", "type", "dst").alias("total_relationships"),
        F.round(F.avg("confidence"), 2).alias("avg_confidence"),
    )
    return n.join(e, "session_id", "left")


def entity_type_histogram(nodes: DataFrame) -> DataFrame:
    """Q1b — entity-type distribution (graph_db.py:166-171)."""
    return nodes.groupBy("session_id", "type").agg(F.countDistinct("name").alias("count"))


# Q2 color map — exact values from reference graph_db.py:205-219, covering
# both entity types and event types in ONE map (the reference keys event
# nodes by their event type, not a generic "Event" group).
TYPE_COLORS = {
    "PERSON": "#3b82f6",
    "ORG": "#10b981",
    "GPE": "#f59e0b",
    "PRODUCT": "#8b5cf6",
    "FAC": "#06b6d4",
    "WORK_OF_ART": "#a855f7",
    # event types
    "Acquisition": "#fbbf24",
    "ProductLaunch": "#ec4899",
    "LeadershipChange": "#f59e0b",
    "Conference": "#8b5cf6",
    "FundingRound": "#10b981",
    "Other": "#6b7280",
}
ENTITY_DEFAULT_COLOR = "#6b7280"  # graph_db.py:233
EVENT_DEFAULT_COLOR = "#fbbf24"  # graph_db.py:252
EDGE_COLOR = "#64748b"  # graph_db.py:290


def _color_expr(group_col, default: str):
    color = None
    for t, c in TYPE_COLORS.items():
        cond = group_col == t
        color = F.when(cond, F.lit(c)) if color is None else color.when(cond, F.lit(c))
    return color.otherwise(F.lit(default))


def viz_nodes(nodes: DataFrame, event_nodes: DataFrame | None = None) -> DataFrame:
    """Q2 — vis-network node projection (graph_db.py:186-256): entity nodes
    (shape dot) with per-type group/color, event nodes (shape diamond)
    grouped BY EVENT TYPE with the event-type colors."""
    ents = nodes.select(
        F.col("name").alias("id"),
        F.col("name").alias("label"),
        F.col("type").alias("group"),
        _color_expr(F.col("type"), ENTITY_DEFAULT_COLOR).alias("color"),
        # graph_db.py:225-227: "label (group)" + optional source snippet
        F.concat(
            F.col("name"), F.lit(" ("), F.col("type"), F.lit(")"),
            F.when(
                F.col("source_sentence").isNotNull(),
                F.concat(F.lit("\n\nSource: "), F.substring("source_sentence", 1, 100), F.lit("...")),
            ).otherwise(F.lit("")),
        ).alias("title"),
        F.lit("dot").alias("shape"),
    )
    if event_nodes is None:
        return ents
    evs = event_nodes.select(
        F.col("name").alias("id"),
        F.col("name").alias("label"),
        F.col("event_type").alias("group"),
        _color_expr(F.col("event_type"), EVENT_DEFAULT_COLOR).alias("color"),
        # graph_db.py:240-246: typed tooltip + optional date/amount/context
        F.concat(
            F.lit("EVENT: "), F.col("name"), F.lit("\nType: "), F.col("event_type"),
            F.when(F.col("date").isNotNull(), F.concat(F.lit("\nDate: "), F.col("date"))).otherwise(F.lit("")),
            F.when(F.col("amount").isNotNull(), F.concat(F.lit("\nAmount: "), F.col("amount"))).otherwise(F.lit("")),
            F.when(
                F.col("context").isNotNull(),
                F.concat(F.lit("\n\nContext: "), F.substring("context", 1, 100), F.lit("...")),
            ).otherwise(F.lit("")),
        ).alias("title"),
        F.lit("diamond").alias("shape"),
    )
    return ents.unionByName(evs)


def viz_edges(edges: DataFrame) -> DataFrame:
    """Q3 — vis-network edge projection (graph_db.py:259-292): confidence
    defaults to 1.0 when absent/falsy (graph_db.py:270), width =
    max(2, confidence*4), opacity = min(1.0, confidence+0.3), fixed edge
    color #64748b."""
    conf = F.when(
        F.col("confidence").isNull() | (F.col("confidence") == 0), F.lit(1.0)
    ).otherwise(F.col("confidence"))
    return edges.select(
        F.col("src").alias("from"),
        F.col("dst").alias("to"),
        F.col("type").alias("label"),
        conf.alias("confidence"),
        F.greatest(F.lit(2.0), conf * 4).alias("width"),
        F.least(F.lit(1.0), conf + 0.3).alias("opacity"),
        F.lit(EDGE_COLOR).alias("color"),
    )


def clear_session(df: DataFrame, session_id: str) -> DataFrame:
    """S8 — session clear as a predicate (a filtered rewrite).
    Null-preserving: rows with no session_id must survive a clear of any
    named session."""
    return df.filter(F.col("session_id").isNull() | (F.col("session_id") != session_id))
