"""Streaming corpus ingestion — documents arrive as files, the catalog
accumulates a deduplicated, quality-gated corpus, exactly once.

The streaming twin of the batch funnel's front half
(pipelines/corpus.py): each micro-batch is exact-deduped within itself
(lowest doc id per normalized-text fingerprint), deduped ACROSS batches
against everything already committed — via the committed-PK bloom index
keyed on the fingerprint, so a steady-state batch of fresh documents
probes in O(batch) and never scans the committed corpus — gated on the
heuristic quality score, and appended to the catalog with the micro-batch
id stamped on the snapshot (the CatalogStreamSink contract): a
crash-replayed batch is a metadata no-op, so every document lands in the
corpus EXACTLY once even though the pipeline is at-least-once underneath.

Crash ordering is the pkbloom invariant: the bloom is updated BEFORE the
append commits, so a crash in between leaves only false positives — the
replayed batch (not yet batch-id-stamped) routes those rows through the
exact anti-join against the committed table and appends them. No
duplicates, no losses, under a crash at any point.

Scale: per batch — one window over the batch (intra-batch dedup), one
bloom probe (broadcast or per-bucket cogroup depending on backend), the
exact anti-join only over bloom hits, one codegen quality projection, one
append. State is the bloom sidecar + the manifest; nothing grows with
stream length on the driver.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import fingerprint, quality_score
from ..sources.pkbloom import PKBloomIndex
from ..sources.tables import TableCatalog


def ingest_corpus_batch(
    catalog: TableCatalog,
    table: str,
    bloom: PKBloomIndex,
    batch_df: DataFrame,
    batch_id: int,
    sink_id: str = "corpus",
    min_quality: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """One micro-batch of the ingestion contract; returns rows appended
    (0 for a replayed or fully-duplicate batch). Usable directly for a
    batch backfill — the streaming query calls exactly this."""
    committed_ids = {
        h["batch_id"]
        for h in catalog.history(table)
        if "batch_id" in h and h.get("sink_id") == sink_id
    }
    if batch_id in committed_ids:
        return 0  # crash-replay: already committed, exactly-once no-op

    from pyspark.sql import Window as W

    fp = fingerprint(F.col(text_col))
    docs = batch_df.withColumn("fp", fp).withColumn(
        "quality", quality_score(F.col(text_col))
    )
    docs = docs.filter(F.col("quality") >= min_quality)
    w = W.partitionBy("fp").orderBy(id_col)
    docs = (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    probed = bloom.probe(table, docs, ["fp"]).persist()
    try:
        definite = probed.filter(~F.col("_pk_maybe")).drop("_pk_maybe")
        maybe = probed.filter(F.col("_pk_maybe")).drop("_pk_maybe")
        if maybe.isEmpty():
            fresh = definite
        else:
            committed = catalog.read(table).select("fp")
            fresh = definite.unionByName(
                maybe.join(committed, ["fp"], "left_anti")
            )
        # update-before-append: a crash here leaves harmless false
        # positives; the replayed batch exact-verifies exactly those rows
        n = bloom.update(table, fresh.select("fp"), ["fp"])
        if n:
            catalog.append(
                table,
                fresh,
                extra={"batch_id": int(batch_id), "sink_id": sink_id},
            )
        return n
    finally:
        probed.unpersist()


def stream_corpus_ingest(
    spark: SparkSession,
    src_dir: str,
    catalog: TableCatalog,
    table: str,
    checkpoint: str,
    min_quality: float = 0.0,
    sink_id: str = "corpus",
    id_col: str = "doc_id",
    text_col: str = "text",
    timeout_s: float = 180.0,
) -> dict:
    """Run (or resume) the ingestion over a parquet directory of document
    files — one micro-batch per file — until the input is drained
    (``availableNow``). Returns {"batches": n, "rows_appended": n}.

    Restart-safe end to end: Spark's checkpoint makes file delivery
    at-least-once, the batch-id stamp makes the append exactly-once, and
    the bloom ordering makes the dedup state crash-consistent."""
    glob = os.path.join(src_dir, "*")  # one subdirectory per arrival wave
    schema = spark.read.parquet(glob).schema
    out_schema = (
        spark.createDataFrame([], schema)
        .withColumn("fp", F.lit("x"))
        .withColumn("quality", F.lit(0.0))
        .schema
    )
    catalog.create(table, out_schema)  # no-op when the table exists
    bloom = PKBloomIndex(catalog).ensure(table, ["fp"])
    appended = {"batches": 0, "rows_appended": 0}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        n = ingest_corpus_batch(
            catalog,
            table,
            bloom,
            batch_df,
            batch_id,
            sink_id=sink_id,
            min_quality=min_quality,
            id_col=id_col,
            text_col=text_col,
        )
        appended["batches"] += 1
        appended["rows_appended"] += n

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(glob)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    deadline = time.time() + timeout_s
    try:
        q.awaitTermination(max(1.0, deadline - time.time()))
    finally:
        q.stop()
    return appended
