"""Explicit StructType schemas for every table and intermediate frame.

The reference fixed its record shapes with Pydantic (models.py); here the
same shapes are declared as Spark schemas so every scan, Arrow kernel, and
sink is schema-asserted rather than inferred (SURVEY.md §1.3).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Input: Iceberg/parquet transcripts table (BASELINE.json input_hint).
TRANSCRIPTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# Assembled conversations: one row per conv, stable-ordered concatenation.
DOCUMENTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("doc_text", T.StringType(), True),
        T.StructField("n_turns", T.IntegerType(), True),
    ]
)

# Output of the one-pass extraction kernel. Six row kinds share the frame
# (the `emit` parameter of the kernel selects which are produced):
#   kind='mention': text/label/ctype/norm_text/start_char/end_char set
#   kind='svo':     text=subject, label=verb lemma, obj=object, svo_ord set
#   kind='cand':    sentence-local rule candidate (R1-R5 + scored SVO):
#                   text=source, obj=target, label=relationship type,
#                   conf/reason/verb/pri/orda/ordb/attach set, sentence ''
#   kind='entity':  FINAL per-document entity (post E1-E4 + P6):
#                   text=name, label=type, reason=context,
#                   sentence=source_sentence, forced set
#   kind='triple':  FINAL validated triple (post D1 + V2 + R9):
#                   text=source, obj=target, label=type,
#                   conf/reason/verb/mdate/mamount set
#   kind='event':   FINAL event (post EV1-EV6 + D2): text=name,
#                   label=event_type, parts/mdate/mamount/location/conf set
# ctype/norm_text are the P3-corrected type and P2-normalized name,
# computed in the kernel (once per mention) so the JVM never re-evaluates
# the lexicon/suffix chains in every consumer expression. Candidate rows
# carry no sentence text — downstream joins use (conv_id, sent_idx) and
# re-attach the string only after dedup + validation.
KERNEL_ROWS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("sent_idx", T.IntegerType(), False),
        T.StructField("sentence", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("label", T.StringType(), True),
        T.StructField("ctype", T.StringType(), True),
        T.StructField("norm_text", T.StringType(), True),
        T.StructField("obj", T.StringType(), True),
        T.StructField("svo_ord", T.IntegerType(), True),
        T.StructField("start_char", T.IntegerType(), True),
        T.StructField("end_char", T.IntegerType(), True),
        T.StructField("conf", T.DoubleType(), True),
        T.StructField("reason", T.StringType(), True),
        T.StructField("verb", T.StringType(), True),
        T.StructField("pri", T.IntegerType(), True),
        T.StructField("orda", T.IntegerType(), True),
        T.StructField("ordb", T.IntegerType(), True),
        T.StructField("attach", T.BooleanType(), True),
        T.StructField("forced", T.BooleanType(), True),
        T.StructField("mdate", T.StringType(), True),
        T.StructField("mamount", T.StringType(), True),
        T.StructField("location", T.StringType(), True),
        T.StructField("parts", T.ArrayType(T.StringType()), True),
    ]
)

# Entities after correction/normalization/dedup/whitelist (reference
# models.py:18-27 Entity, minus the never-populated properties struct).
ENTITIES = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("start_char", T.IntegerType(), True),
        T.StructField("end_char", T.IntegerType(), True),
        T.StructField("context", T.StringType(), True),
        T.StructField("source_sentence", T.StringType(), True),
        T.StructField("is_forced", T.BooleanType(), True),
    ]
)

# Validated relationship triples (reference models.py:29-38; the metadata
# dict only ever carries 'date'/'amount', flattened to columns).
TRIPLES = T.StructType(
    [
        T.StructField("document_id", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("target", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("reason", T.StringType(), True),
        T.StructField("confidence", T.DoubleType(), False),
        T.StructField("verb", T.StringType(), True),
        T.StructField("source_sentence", T.StringType(), True),
        T.StructField("date", T.StringType(), True),
        T.StructField("amount", T.StringType(), True),
    ]
)

# Events (reference models.py:49-59).
EVENTS = T.StructType(
    [
        T.StructField("document_id", T.StringType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("participants", T.ArrayType(T.StringType()), False),
        T.StructField("date", T.StringType(), True),
        T.StructField("location", T.StringType(), True),
        T.StructField("amount", T.StringType(), True),
        T.StructField("context", T.StringType(), True),
        T.StructField("confidence", T.DoubleType(), False),
    ]
)

# Graph tables (reference graph_db.py:74-145; FIXTURES.md §4).
NODES = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("session_id", T.StringType(), True),
        T.StructField("document_id", T.StringType(), True),
        T.StructField("source_sentence", T.StringType(), True),
    ]
)

EDGES = T.StructType(
    [
        T.StructField("src", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("dst", T.StringType(), False),
        T.StructField("reason", T.StringType(), True),
        T.StructField("confidence", T.DoubleType(), True),
        T.StructField("verb", T.StringType(), True),
        T.StructField("date", T.StringType(), True),
        T.StructField("amount", T.StringType(), True),
        T.StructField("source_sentence", T.StringType(), True),
        T.StructField("document_id", T.StringType(), True),
        T.StructField("session_id", T.StringType(), True),
    ]
)
