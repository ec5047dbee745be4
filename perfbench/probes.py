"""Isolated layer calls for the traced run: each public layer function on a
fixed, cached input, its output sent to Spark's ``noop`` sink, timed from
outside. These rates do not depend on the workload; they tell a change to
one layer apart from everything a crawl wraps around it."""

from __future__ import annotations

from .harness import Cost, Tracer, WorkDir, median
from .workloads import Gate, cached_parquet

N_PAGES, N_HOSTS, FILLER, N_BUCKETS = 4_000, 500, 10, 64
REPEATS = 3


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(tracer: Tracer, name: str, fn) -> float:
    times = []
    for _ in range(REPEATS):
        with tracer.span(name) as sp:
            fn()
        times.append(sp.dur)
    return median(times)


def run_probes(spark, work: WorkDir, tracer: Tracer) -> tuple[dict, list[Gate]]:
    from pyspark.sql import functions as F

    from hk_housing_datahub_spark.datagen import generate_pages, generate_robots
    from hk_housing_datahub_spark.extract.vectorized import extract_df
    from hk_housing_datahub_spark.frontier import (
        BloomSeenSet,
        ExactSeenSet,
        schedule_wave,
    )
    from hk_housing_datahub_spark.functions.urls import with_url_columns

    path = cached_parquet(
        work,
        f"probe-pages-n{N_PAGES}-h{N_HOSTS}-f{FILLER}",
        lambda: generate_pages(
            spark, N_PAGES, n_hosts=N_HOSTS, filler_listings=FILLER
        ),
        Cost(),
    )
    pages = spark.read.parquet(path).select("html").persist()
    frontier = (
        with_url_columns(spark.read.parquet(path), n_buckets=N_BUCKETS)
        .select(
            "url_canon",
            "host",
            "url_hash",
            "bucket",
            F.pmod("url_hash", F.lit(3)).cast("int").alias("priority"),
            F.col("warc_ts").alias("discovered_ts"),
            F.lit(0).alias("depth"),
            F.lit(0).alias("attempt"),
        )
        .persist()
    )
    n_pages, n_front = pages.count(), frontier.count()
    robots = generate_robots(spark, n_hosts=N_HOSTS)
    half = frontier.filter(F.pmod("url_hash", F.lit(2)) == 0)
    exact = ExactSeenSet(spark, half.select("url_hash").persist())
    bloom = BloomSeenSet(spark, None, N_BUCKETS)
    bloom.add(half.select("bucket", "url_hash"))
    bloom.checkpoint(work.path("probe-bloom"))

    out = {
        "extract.pages_per_s": n_pages
        / _timed(tracer, "extract_df", lambda: _noop(extract_df(pages))),
        "sched.rows_per_s": n_front
        / _timed(
            tracer,
            "schedule_wave",
            lambda: _noop(schedule_wave(frontier, robots, wave_ms=300)),
        ),
        "seen.probe_keys_per_s.exact": n_front
        / _timed(
            tracer,
            "ExactSeenSet.filter_unseen",
            lambda: _noop(exact.filter_unseen(frontier)),
        ),
        "seen.probe_keys_per_s.bloom": n_front
        / _timed(
            tracer,
            "BloomSeenSet.filter_unseen",
            lambda: _noop(bloom.filter_unseen(frontier)),
        ),
    }
    want = n_front - half.count()
    n_exact = exact.filter_unseen(frontier).count()
    n_bloom = bloom.filter_unseen(frontier).count()
    gates = [
        Gate(
            "probe_seen_sets",
            n_exact == want and want - 5 <= n_bloom <= want,
            f"unseen exact={n_exact} bloom={n_bloom} want={want}",
        )
    ]
    pages.unpersist()
    frontier.unpersist()
    return out, gates
