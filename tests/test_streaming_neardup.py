"""Streaming near-dup ingestion (streaming/neardup.py): incremental
MinHash-LSH across micro-batches — cross-batch near-dup drops via the
signature estimator, exactly-once appends, torn-batch healing."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hk_housing_datahub_spark.sources.tables import TableCatalog
from hk_housing_datahub_spark.streaming.neardup import (
    ingest_neardup_batch,
    stream_neardup_ingest,
)

_WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    "lambda mu nu xi omicron pi rho sigma tau upsilon"
).split()


def _doc(i: int) -> str:
    # 20 distinct-vocabulary sentences so unrelated docs share ~no shingles
    return " ".join(f"{w}{i} token{i}_{j}" for j, w in enumerate(_WORDS))


def _write_wave(spark, path, rows):
    spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.parquet(
        path
    )


def test_stream_neardup_drops_cross_batch_duplicates(spark, tmp_path):
    src = str(tmp_path / "src")
    # wave 1: 12 distinct docs (two of them intra-batch exact dups);
    # wave 2: 6 exact repeats of wave-1 texts under new ids + 6 fresh
    _write_wave(
        spark,
        os.path.join(src, "w1"),
        [(i, _doc(i)) for i in range(10)]
        + [(50, _doc(3)), (51, _doc(4))],  # intra-batch near-dups
    )
    _write_wave(
        spark,
        os.path.join(src, "w2"),
        [(100 + i, _doc(i)) for i in range(6)]  # cross-batch dups
        + [(200 + i, _doc(1000 + i)) for i in range(6)],  # fresh
    )
    cat = TableCatalog(spark, str(tmp_path / "cat"))
    res = stream_neardup_ingest(
        spark, src, cat, "docs", checkpoint=str(tmp_path / "ck"),
        threshold=0.5,
    )
    assert res["batches"] == 2
    assert res["rows_appended"] == 16  # 10 + 6 fresh
    got = cat.read("docs")
    assert got.count() == 16
    # intra-batch dups kept the lowest id; cross-batch repeats dropped
    assert got.filter(F.col("doc_id").isin(50, 51)).count() == 0
    assert got.filter(F.col("doc_id").between(100, 199)).count() == 0
    assert got.filter(F.col("doc_id") >= 200).count() == 6
    # state tables carry exactly the survivors
    assert cat.read("docs_lshsigs").count() == 16
    assert cat.read("docs_lshbands").count() == 16 * 32


def test_ingest_neardup_replay_and_torn_batch_heal(spark, tmp_path):
    cat = TableCatalog(spark, str(tmp_path / "cat"))
    b0 = spark.createDataFrame(
        [(i, _doc(i)) for i in range(8)], ["doc_id", "text"]
    )
    assert ingest_neardup_batch(cat, "docs", b0, batch_id=0) == 8
    # full replay of a committed batch: manifest no-op
    assert ingest_neardup_batch(cat, "docs", b0, batch_id=0) == 0
    assert cat.read("docs").count() == 8

    # torn batch 1: simulate a crash AFTER the state appends but BEFORE
    # the corpus append by appending the state rows with batch 1's stamp
    b1 = spark.createDataFrame(
        [(10 + i, _doc(100 + i)) for i in range(4)], ["doc_id", "text"]
    )
    from hk_housing_datahub_spark.streaming.neardup import (
        _band_index,
        _sig_array,
    )

    sigs = _sig_array(b1, "doc_id", "text", 3, 64)
    stamp = {"batch_id": 1, "sink_id": "neardup"}
    cat.append(
        "docs_lshsigs", sigs.withColumn("bid", F.lit(1).cast("bigint")), extra=stamp
    )
    cat.append(
        "docs_lshbands",
        _band_index(sigs, 32, 64).withColumn("bid", F.lit(1).cast("bigint")),
        extra=stamp,
    )
    # replay of batch 1: its own torn state rows must NOT convict it —
    # all 4 docs still land in the corpus, state appends are no-ops
    assert ingest_neardup_batch(cat, "docs", b1, batch_id=1) == 4
    assert cat.read("docs").count() == 12
    assert cat.read("docs_lshsigs").count() == 12
    # and a later batch still sees batch 1's docs as committed dups
    b2 = spark.createDataFrame(
        [(90 + i, _doc(100 + i)) for i in range(4)], ["doc_id", "text"]
    )
    assert ingest_neardup_batch(cat, "docs", b2, batch_id=2) == 0
    assert cat.read("docs").count() == 12
