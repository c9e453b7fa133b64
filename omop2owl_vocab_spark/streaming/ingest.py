"""Incremental code_files → triples (Structured Streaming file source).

Stateless emission only: each micro-batch emits its concept triples
(R1-R3).  Edge triples (containment, imports, same-content links) and
cross-batch work (CC) need the whole corpus and come from the batch
pipeline — run it as a periodic compaction over the streamed output.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from omop2owl_vocab_spark.operators.emit import emit_concept_triples
from omop2owl_vocab_spark.plans.derive import derive_file_concepts
from omop2owl_vocab_spark.schemas import CODE_FILES_SCHEMA


def stream_code_files_to_triples(
    spark: SparkSession,
    source_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
) -> StreamingQuery:
    stream = (
        spark.readStream.schema(CODE_FILES_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(source_dir)
    )
    triples = emit_concept_triples(derive_file_concepts(stream))
    writer = (
        triples.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
