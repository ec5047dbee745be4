"""Streaming NEAR-dup corpus ingestion — incremental MinHash-LSH across
micro-batches, exactly once.

``streaming/corpus.py`` dedups exactly (fingerprint equality) at
ingestion; this module is its near-dup twin: a document that is merely
*similar* to anything already committed is dropped as it arrives, so the
catalog accumulates a near-dup-free corpus without ever re-running the
batch dedup over the whole table. The reference has no streaming at all
(its crawler appends everything and dedups by PK only —
src/orchestrators/agency.py); this is the training-data capability a
crawl that never stops needs.

Design — state is SIGNATURES, never text:

- ``<table>_lshsigs``  (did, sig: array<bigint>) — the 64-perm MinHash
  signature of every committed document.
- ``<table>_lshbands`` (did, band: int, key: bigint) — the banded LSH
  index over those signatures (bands x rows = num_perm).

Per micro-batch:

1. intra-batch near-dups collapse via the full batch composition
   (``minhash_lsh_dedup`` — candidates verified with EXACT Jaccard,
   text is in hand within the batch);
2. survivors' band keys equi-join the committed band index →
   candidate (new, committed) pairs, sub-quadratic exactly like the
   batch LSH path;
3. each candidate is verified against the committed doc's stored
   signature with the unbiased MinHash estimator
   (matching-positions / num_perm; stderr = sqrt(J(1-J)/num_perm),
   ~0.06 at J=0.5 with 64 perms) — the standard streaming trade-off:
   state stays O(num_perm) per doc instead of O(text), at the cost of
   estimator-width tolerance around the threshold. Exact duplicates
   (J=1) are detected deterministically (identical signatures).
4. survivors append to the corpus, their signatures and bands to the
   two state tables — every append stamped (sink_id, batch_id) in the
   manifest AND every state ROW carries its ``bid``; reading state
   always excludes rows of the batch being (re)processed. A
   crash-replayed batch is a manifest no-op per table, and a crash
   BETWEEN the three appends heals exactly: the replay's state reads
   filter out the torn batch's own rows, so it recomputes the same
   keep set against the same pre-batch state and fills in whichever
   appends are missing — never duplicated, never lost. The corpus
   table commits last.

Scale: per batch — one signature pass over the batch (single shuffle,
map-side combined), the intra-batch LSH composition over batch-sized
input, one (band, key)-keyed equi-join against the committed band index
(compact keys, uniform by construction — bucket/cluster the state table
on ``key`` at 10^10 docs so the probe co-locates), one array-compare
projection per candidate. Nothing scans committed text; driver state is
nil.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import minhash_lsh_dedup, minhash_signatures
from ..sources.tables import TableCatalog


def _sig_array(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_perm: int,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(did, sig array<bigint>) — the state-table shape of the wide
    h0..h{num_perm-1} signature frame."""
    wide = minhash_signatures(docs, id_col, text_col, n, num_perm, hash_mode)
    return wide.select(
        "did", F.array(*[F.col(f"h{j}") for j in range(num_perm)]).alias("sig")
    )


def _band_index(
    sigs: DataFrame, bands: int, num_perm: int,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(did, band, key) banded index over array signatures — the same
    keying as operators.dedup.minhash_lsh_pairs (xxhash64 of the band's
    row slice), so batch and streaming paths collide identically. In
    ``md5_56`` mode the key is the md5-prefix of the '#'-joined row
    mins — still a BIGINT (the state-table schema), and regenerable in
    the DuckDB oracle."""
    rows = num_perm // bands

    def key(b: int):
        elems = [
            F.element_at("sig", b * rows + r + 1) for r in range(rows)
        ]
        if hash_mode == "xxhash64":
            return F.xxhash64(*elems)
        if hash_mode != "md5_56":
            raise ValueError(f"unknown hash_mode {hash_mode!r}")
        from ..functions.hash56 import md5_long56

        return md5_long56(
            F.concat_ws("#", *[e.cast("string") for e in elems])
        )

    band_structs = F.array(
        *[
            F.struct(F.lit(b).alias("band"), key(b).alias("key"))
            for b in range(bands)
        ]
    )
    return sigs.select("did", F.explode(band_structs).alias("bk")).select(
        "did", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def _est_jaccard(a, b, num_perm: int):
    """Unbiased MinHash Jaccard estimate: matching positions / num_perm.
    Pure JVM (zip_with + aggregate) — no UDF."""
    return (
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        / F.lit(num_perm)
    )


def cross_batch_drops(
    sigs: DataFrame,
    old_bands: DataFrame,
    old_sigs: DataFrame,
    num_perm: int,
    bands: int,
    threshold: float,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """The cross-batch convicting set: new dids whose banded keys collide
    with committed state AND whose signature-estimated Jaccard against
    the colliding committed doc clears ``threshold``. One (band, key)
    equi-join + one did-keyed sig join + a codegen array-compare — the
    whole steady-state cost of near-dup checking a batch."""
    new_bands = _band_index(sigs, bands, num_perm, hash_mode)
    cand = (
        new_bands.join(
            old_bands.select(F.col("did").alias("_old"), "band", "key"),
            ["band", "key"],
        )
        .select("did", "_old")
        .distinct()
    )
    return (
        cand.join(sigs, "did")
        .join(
            old_sigs.select(
                F.col("did").alias("_old"), F.col("sig").alias("_osig")
            ),
            "_old",
        )
        .filter(
            _est_jaccard(F.col("sig"), F.col("_osig"), num_perm)
            >= F.lit(threshold)
        )
        .select("did")
        .distinct()
    )


def _committed_batches(catalog: TableCatalog, table: str, sink_id: str) -> set:
    return {
        h["batch_id"]
        for h in catalog.history(table)
        if "batch_id" in h and h.get("sink_id") == sink_id
    }


def ingest_neardup_batch(
    catalog: TableCatalog,
    table: str,
    batch_df: DataFrame,
    batch_id: int,
    sink_id: str = "neardup",
    threshold: float = 0.5,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 32,
    max_shingle_df: int | None = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_mode: str = "xxhash64",
) -> int:
    """One micro-batch of the near-dup ingestion contract; returns rows
    appended to the corpus table (0 for a replayed or fully-near-dup
    batch). Usable directly for a batch backfill — the streaming query
    calls exactly this."""
    sigs_tbl = f"{table}_lshsigs"
    bands_tbl = f"{table}_lshbands"
    spark = batch_df.sparkSession
    id_type = dict(zip(batch_df.schema.names, batch_df.schema))[
        id_col
    ].dataType.simpleString()
    catalog.create(table, batch_df.schema)  # all IF NOT EXISTS
    catalog.create(
        sigs_tbl,
        spark.createDataFrame(
            [], f"did {id_type}, sig array<bigint>, bid bigint"
        ).schema,
    )
    catalog.create(
        bands_tbl,
        spark.createDataFrame(
            [], f"did {id_type}, band int, key bigint, bid bigint"
        ).schema,
    )
    if batch_id in _committed_batches(catalog, table, sink_id):
        return 0  # crash-replay of a fully-committed batch

    # 1. intra-batch: the full batch composition (exact-verified LSH)
    local = minhash_lsh_dedup(
        batch_df, id_col, text_col,
        n=n, num_perm=num_perm, bands=bands,
        threshold=threshold, max_shingle_df=max_shingle_df,
        hash_mode=hash_mode,
    ).persist()

    # 2-3. cross-batch: band-index probe + signature-estimator verify
    # (an empty state table reads as an empty frame — batch 0 needs no
    # special case, the joins below just produce zero candidates)
    sigs = _sig_array(
        local, id_col, text_col, n, num_perm, hash_mode
    ).persist()
    try:
        # bid filter: a torn batch's own state rows (crash between the
        # state and corpus appends) must not convict its docs on replay
        old_bands = catalog.read(bands_tbl).filter(F.col("bid") != batch_id)
        old_sigs = catalog.read(sigs_tbl).filter(F.col("bid") != batch_id)
        dropped = cross_batch_drops(
            sigs, old_bands, old_sigs, num_perm, bands, threshold,
            hash_mode,
        )
        keep_ids = sigs.select("did").join(dropped, "did", "left_anti")

        kept_sigs = sigs.join(keep_ids, "did").persist()
        n_kept = kept_sigs.count()

        # 4. state first, corpus last (see module docstring for the
        # crash-ordering argument); each append idempotent via its stamp
        stamp = {"batch_id": int(batch_id), "sink_id": sink_id}
        if n_kept:
            if batch_id not in _committed_batches(catalog, sigs_tbl, sink_id):
                catalog.append(
                    sigs_tbl,
                    kept_sigs.withColumn("bid", F.lit(int(batch_id)).cast("bigint")),
                    extra=stamp,
                )
            if batch_id not in _committed_batches(catalog, bands_tbl, sink_id):
                catalog.append(
                    bands_tbl,
                    _band_index(
                        kept_sigs, bands, num_perm, hash_mode
                    ).withColumn(
                        "bid", F.lit(int(batch_id)).cast("bigint")
                    ),
                    extra=stamp,
                )
            survivors = local.join(
                keep_ids.withColumnRenamed("did", id_col), id_col, "left_semi"
            )
            catalog.append(table, survivors, extra=stamp)
        kept_sigs.unpersist()
        return n_kept
    finally:
        sigs.unpersist()
        local.unpersist()


def stream_neardup_ingest(
    spark: SparkSession,
    src_dir: str,
    catalog: TableCatalog,
    table: str,
    checkpoint: str,
    threshold: float = 0.5,
    sink_id: str = "neardup",
    id_col: str = "doc_id",
    text_col: str = "text",
    timeout_s: float = 180.0,
    max_files_per_trigger: int = 1,
    **lsh_kwargs,
) -> dict:
    """Run (or resume) near-dup ingestion over a parquet directory of
    document files — ``max_files_per_trigger`` files per micro-batch
    (default 1: the per-file granularity the exactly-once tests pin) —
    until drained (``availableNow``). Cross-batch dedup state is
    consulted per BATCH, so callers whose files are not semantic
    boundaries can raise the trigger size: fewer batches, same final
    corpus when no near-dup pair spans what used to be two batches of
    the same wave. Returns {"batches": n, "rows_appended": n}.
    Restart-safe like stream_corpus_ingest: checkpointed delivery x
    batch-id-stamped appends = exactly-once corpus rows."""
    glob = os.path.join(src_dir, "*")
    schema = spark.read.parquet(glob).schema
    stats = {"batches": 0, "rows_appended": 0}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        n = ingest_neardup_batch(
            catalog, table, batch_df, batch_id,
            sink_id=sink_id, threshold=threshold,
            id_col=id_col, text_col=text_col, **lsh_kwargs,
        )
        stats["batches"] += 1
        stats["rows_appended"] += n

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
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
    return stats
