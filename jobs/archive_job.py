"""Cluster entry point for the web-archive surface — index a crawled
pages corpus the Common Crawl way and derive the next recrawl wave:

    spark-submit --master <cluster> \\
        --py-files "$(python -c 'from hk_housing_datahub_spark.session \\
            import package_zip; print(package_zip())')" \\
        jobs/archive_job.py --pages <parquet> --out <dir> \\
        [--catalog <root>] [--now <epoch>]

Outputs under --out:
  cdx/        sorted, range-sharded CDX index (prefix/domain queryable)
  cdxj/       full cdxj rows: CDX fields + WARC (segment, offset, length)
  schedule/   Cho/Garcia-Molina recrawl schedule over the capture history
  due/        (url, priority) seeds for URLs due at --now — feed straight
              back into jobs/crawl_job.py / CrawlEngine.run
  traps/      per-host trap signals + flags over the same capture view
  segments/   (--write-segment-files) WARC + WET segment files rendered
              executor-side, plus their write manifests — the cdxj
              pointers slice into these byte-exactly

With --catalog, cdxj + schedule also commit as catalog tables (snapshot
isolation, time travel) so downstream consumers read versioned indexes.
Everything is one pass + compact-key shuffles; no driver-side row loops.
"""

from __future__ import annotations

import argparse
import json
import os


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="parquet pages corpus")
    ap.add_argument("--out", required=True)
    ap.add_argument("--shards", type=int, default=64)
    ap.add_argument("--segments", type=int, default=16)
    ap.add_argument(
        "--now", type=int, default=None,
        help="epoch seconds for the due-set cut (default: max capture ts)",
    )
    ap.add_argument(
        "--write-segment-files", action="store_true",
        help="also render the WARC + WET segment FILES executor-side "
        "(sources/archive_writer.py) under --out/segments/; the cdxj "
        "pointers index them byte-exactly",
    )
    ap.add_argument("--catalog", default="", help="table-catalog root")
    ap.add_argument(
        "--wave-id", default="",
        help="unique id of this crawl wave; with --catalog, a replayed "
        "wave-id skips the stats merge (exactly-once accumulation)",
    )
    args = ap.parse_args()

    os.environ.setdefault("SPARK_SUBMIT_MODE", "1")
    from pyspark.sql import functions as F

    from hk_housing_datahub_spark.operators.recrawl import (
        due_for_refetch,
        merge_recrawl_stats,
        recrawl_stats,
        schedule_from_stats,
    )
    from hk_housing_datahub_spark.operators.traps import (
        flag_trap_hosts,
        host_trap_signals,
    )
    from hk_housing_datahub_spark.session import get_spark
    from hk_housing_datahub_spark.sources.cdx import (
        build_cdx_index,
        cdx_records_with_locations,
    )

    spark = get_spark(app_name="hk_archive_job")
    pages = spark.read.parquet(args.pages)

    build_cdx_index(
        pages, os.path.join(args.out, "cdx"), n_shards=args.shards
    )

    cdxj = cdx_records_with_locations(pages, n_segments=args.segments)
    cdxj.write.mode("overwrite").parquet(os.path.join(args.out, "cdxj"))
    cdxj = spark.read.parquet(os.path.join(args.out, "cdxj"))

    seg_manifest = None
    if args.write_segment_files:
        # each segment renders INSIDE its task (one hash exchange on
        # segment, in-task sort, streaming file append) — the manifest
        # parquet is the lineage record; computing it IS the write
        from hk_housing_datahub_spark.sources.archive_writer import (
            write_segments,
            write_wet_segments,
        )

        seg_dir = os.path.join(args.out, "segments")
        warc_man = write_segments(
            pages, os.path.join(seg_dir, "warc"),
            n_segments=args.segments,
        )
        warc_man.write.mode("overwrite").parquet(
            os.path.join(seg_dir, "warc_manifest")
        )
        if "text" in pages.columns:
            wet_man = write_wet_segments(
                pages, os.path.join(seg_dir, "wet"),
                n_segments=args.segments,
            )
            wet_man.write.mode("overwrite").parquet(
                os.path.join(seg_dir, "wet_manifest")
            )
        seg_manifest = spark.read.parquet(
            os.path.join(seg_dir, "warc_manifest")
        )

    # O(delta) schedule maintenance: with --catalog, the per-URL
    # sufficient statistics live as a catalog table — this run's
    # captures MERGE into them (merge_recrawl_stats ≡ full recompute,
    # property-pinned) instead of rescanning all history.
    #
    # Exactly-once accumulation (--wave-id): the ledger row
    # (wave_id, expected_total-captures-after-merge) commits BEFORE the
    # stats table. Crash between ledger and stats → the replay sees the
    # current total below the ledger's expectation and re-merges; crash
    # after stats → the replay sees the total reached and skips. Totals
    # are strictly increasing per wave, so the comparison is safe.
    stats = recrawl_stats(cdxj)
    cat = None
    merged = True
    expected_total = None
    if args.catalog:
        from hk_housing_datahub_spark.sources import TableCatalog

        cat = TableCatalog(spark, args.catalog)
        try:
            prev = cat.read("recrawl_stats")
        except FileNotFoundError:
            prev = None  # genuinely first wave — any OTHER error raises
        ledger_expect = None
        if args.wave_id:
            try:
                row = (
                    cat.read("recrawl_stats_waves")
                    .filter(F.col("wave_id") == args.wave_id)
                    .select("expected_total")
                    .first()
                )
                ledger_expect = row[0] if row else None
            except FileNotFoundError:
                pass
        cur_total = 0
        if prev is not None:
            cur_total = int(
                prev.agg(F.sum("n_captures")).first()[0] or 0
            )
        if ledger_expect is not None and cur_total >= ledger_expect:
            stats = prev  # wave fully applied on a prior run
            merged = False
        elif prev is not None:
            stats = merge_recrawl_stats(prev, stats)
        if merged and args.wave_id:
            stats = stats.persist()
            expected_total = int(
                stats.agg(F.sum("n_captures")).first()[0] or 0
            )
    sched = schedule_from_stats(stats)
    sched.write.mode("overwrite").parquet(
        os.path.join(args.out, "schedule")
    )
    sched = spark.read.parquet(os.path.join(args.out, "schedule"))

    now = args.now
    if now is None:
        now = int(
            cdxj.agg(F.max(F.unix_timestamp("warc_ts"))).first()[0]
        )
    due = due_for_refetch(sched, now_epoch=now)
    due.write.mode("overwrite").parquet(os.path.join(args.out, "due"))
    due = spark.read.parquet(os.path.join(args.out, "due"))

    # Fetch plans (operators/recrawl.py conditional revalidation): when
    # the pages corpus carries server validators (etag / last_modified
    # columns — optional, beyond the minimal input_hint shape), a due
    # URL whose newest capture has one gets a 'conditional' plan with
    # the echoed If-None-Match / If-Modified-Since headers — a 304
    # answer costs headers only and still extends the capture history
    # (apply_fetch_results). Everything else plans a full fetch.
    from hk_housing_datahub_spark.functions.urls import with_url_columns
    from hk_housing_datahub_spark.operators.recrawl import (
        fetch_plans,
        latest_validators,
    )

    if {"etag", "last_modified"} <= set(pages.columns):
        vcaps = with_url_columns(pages).select(
            "url_canon",
            "warc_ts",
            F.md5("html").alias("digest"),
            "etag",
            "last_modified",
        )
    else:
        vcaps = cdxj.select(
            "url_canon", "warc_ts", "digest",
            F.lit(None).cast("string").alias("etag"),
            F.lit(None).cast("string").alias("last_modified"),
        )
    plans = fetch_plans(due, latest_validators(vcaps))
    plans.write.mode("overwrite").parquet(os.path.join(args.out, "plans"))

    traps = flag_trap_hosts(
        host_trap_signals(
            cdxj, url_col="url_canon", digest_col="digest"
        )
    ).withColumn(
        "trap_reasons", F.array_join("trap_reasons", ",")
    )
    traps.write.mode("overwrite").parquet(
        os.path.join(args.out, "traps")
    )

    plan_modes = {
        r["mode"]: r["n"]
        for r in spark.read.parquet(os.path.join(args.out, "plans"))
        .groupBy("mode")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    out = {
        "captures": cdxj.count(),
        "urls_scheduled": sched.count(),
        "due_at_now": spark.read.parquet(
            os.path.join(args.out, "due")
        ).count(),
        "plans_conditional": int(plan_modes.get("conditional", 0)),
        "plans_full": int(plan_modes.get("full", 0)),
        "trap_hosts": int(
            spark.read.parquet(os.path.join(args.out, "traps"))
            .filter("is_trap_suspect")
            .count()
        ),
        "now": now,
    }
    if seg_manifest is not None:
        agg = seg_manifest.agg(
            F.count(F.lit(1)).alias("files"),
            F.sum("n_records").alias("recs"),
            F.sum("n_bytes").alias("bytes"),
        ).first()
        out["segment_files"] = int(agg["files"])
        out["segment_records"] = int(agg["recs"] or 0)
        out["segment_bytes"] = int(agg["bytes"] or 0)
    if cat is not None:
        out["cdxj_snapshot"] = cat.replace("cdxj", cdxj)
        if merged and args.wave_id:
            wave_row = spark.createDataFrame(
                [(args.wave_id, expected_total)],
                "wave_id string, expected_total long",
            )
            # intent first (see the exactly-once note above)
            try:
                cat.append("recrawl_stats_waves", wave_row)
            except FileNotFoundError:
                cat.replace("recrawl_stats_waves", wave_row)
        out["stats_snapshot"] = cat.replace("recrawl_stats", stats)
        out["schedule_snapshot"] = cat.replace("recrawl_schedule", sched)
        out["stats_merged"] = merged
    print(json.dumps(out))


if __name__ == "__main__":
    main()
