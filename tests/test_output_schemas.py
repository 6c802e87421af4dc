"""The declared output schemas (schema.py) are the schemas the engine
produces: column names and types, in order, for the assembled documents
and for every graph table of both extraction paths. Only the frames'
schemas are read; their rows are never collected."""

import pytest

from knowledge_graph_builder_spark import schema
from knowledge_graph_builder_spark.operators.assembly import assemble_conversations
from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
from knowledge_graph_builder_spark.sources.synth import golden_transcripts


def _fields(struct):
    return [(f.name, f.dataType) for f in struct.fields]


def test_assembled_documents_have_the_declared_schema(spark):
    assert _fields(assemble_conversations(golden_transcripts(spark)).schema) == _fields(schema.DOCUMENTS)


@pytest.mark.parametrize("fused", [True, False])
def test_pipeline_tables_have_the_declared_schemas(spark, fused):
    res = run_pipeline(spark, golden_transcripts(spark), fused=fused, persist=False)
    for frame, declared in [
        (res.entities, schema.ENTITIES),
        (res.triples, schema.TRIPLES),
        (res.events, schema.EVENTS),
        (res.nodes, schema.NODES),
        (res.edges, schema.EDGES),
    ]:
        assert _fields(frame.schema) == _fields(declared)
