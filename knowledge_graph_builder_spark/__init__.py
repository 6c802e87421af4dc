"""knowledge_graph_builder_spark — a PySpark-native knowledge-graph
construction engine.

Re-expresses the extraction semantics of the reference system
(amirtha-1412/knowledge-graph-builder, a single-process FastAPI + spaCy +
Neo4j service) as a distributed, Catalyst-optimized batch pipeline over
parquet/Iceberg tables of multi-turn conversation transcripts:

    transcripts(conv_id, turn_idx, role, text, tool, ts)
        -> conversation assembly (stable turn ordering)
        -> one-pass vectorized extraction kernel (Arrow / mapInArrow)
        -> relational relationship rules + semantic validation
        -> event extraction
        -> graph materialization (nodes / edges / events tables)
        -> entity canonicalization (MinHash blocking + connected components)

Everything relational is plain DataFrame / Catalyst; the only Python-side
code paths are the Arrow-batched extraction kernel and the iterative
connected-components driver loop.
"""

__version__ = "0.1.0"
