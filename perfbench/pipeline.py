"""The paper's producer chain, registered through the public ``Engine``
API, and the input files the benchmark feeds it."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from intelligencepipeline_spark.engine import Engine
from intelligencepipeline_spark.functions.hashing import content_digest
from intelligencepipeline_spark.functions.models import (
    extract_html_any,
    extract_text_any,
    named_entities_any,
)
from intelligencepipeline_spark.functions.nlp import sentence_chunks
from intelligencepipeline_spark.functions.text import detect_language, token_count

DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("name", pa.string()), ("content", pa.binary())])
DOC_DDL = "doc_id long, name string, content binary"


def _ner_map(entities):
    return F.create_map(
        F.lit("n_entities"), F.size(entities).cast("string"),
        F.lit("entities"), F.array_join(
            F.transform(entities, lambda e: F.concat(e["type"], F.lit(":"), e["value"])), "|"),
    )


def build_engine(spark, ingest) -> Engine:
    """Ingest -> text (pandas-UDF lane) -> SHA-1, language, token count,
    entities, HTML rendition; sentence chunks."""
    text = F.col("text")
    return (
        Engine(spark)
        .register_ingestor(ingest)
        .register_representation_producer(
            "text", "text", lambda d: extract_text_any(F.col("content")), requires=("content",))
        .register_metadata_producer(
            "sha1", lambda d: F.create_map(F.lit("sha1"), content_digest(F.col("content"))),
            requires=("content",))
        .register_metadata_producer(
            "lang", lambda d: F.create_map(F.lit("lang"), detect_language(text)), requires=("text",))
        .register_metadata_producer(
            "tokens", lambda d: F.create_map(F.lit("n_tokens"), token_count(text).cast("string")),
            requires=("text",))
        .register_metadata_producer(
            "ner", lambda d: _ner_map(named_entities_any(text)), requires=("text",))
        .register_representation_producer(
            "html", "html", lambda d: extract_html_any(F.col("content")), requires=("content",))
        .register_chunk_producer(
            "sentences", lambda d: sentence_chunks(text), "SENTENCE", requires=("text",))
    )


def write_docs(path: str, docs: list[dict]) -> None:
    pq.write_table(pa.Table.from_pylist(docs, schema=DOC_SCHEMA), path)


_EVENT_ARROW = pa.schema([
    ("doc_id", pa.int64()),
    ("command", pa.string()),
    ("event_ts", pa.timestamp("us", tz="UTC")),
    ("name", pa.string()),
    ("representation", pa.struct([("path", pa.string()), ("created_by", pa.string())])),
    ("metadata", pa.struct([("values", pa.map_(pa.string(), pa.string())),
                            ("created_by", pa.string())])),
])


def write_events(path: str, events: list[dict]) -> None:
    rows = [
        dict(e, metadata=None if e["metadata"] is None else
             {"values": list(e["metadata"]["values"].items()),
              "created_by": e["metadata"]["created_by"]})
        for e in events
    ]
    pq.write_table(pa.Table.from_pylist(rows, schema=_EVENT_ARROW), path)
