"""Batched incremental star-schema load — the reference's orchestrator layer.

Re-expresses /root/reference/src/orchestrators/agency.py as a Spark
pipeline over the TableCatalog:

- ``partition_ids(cache, partition_size)`` + per-partition
  fetch→process→insert→clear (agency.py:20,34,67-96) → deterministic
  hash-batches over the response tables; each batch extracts, dedups
  against the COMMITTED table state, and appends one snapshot. State never
  accumulates in memory across batches (the reference clears its caches;
  here each batch is an independent bounded job).
- the cross-partition ``pk_sets`` dedup (processors/agency/buildings.py:54-58,
  122-125) → a PK left-anti join against the committed table, so a key
  inserted by batch 3 is never re-inserted by batch 7 — and dimension rows
  that appear in EVERY batch (regions, facilities) land exactly once.
- the two-stage flow — estates first, then the building-ids harvested from
  them (agency.py:140-143 ``building_ids_cache``) — → stage 2's responses
  are semi-joined against the committed ``buildings`` table.
- crash-resume: completed (stage, batch) pairs are recorded in an
  atomically-replaced JSON manifest; re-running skips them, and because
  every append is PK-deduped, a batch that crashed AFTER its append but
  BEFORE its manifest mark is safely re-run (idempotent).

Scale: batches bound the working set exactly like the reference's
``partition_size`` bounds its caches — each batch shuffles only its slice
plus the committed-PK side of the anti-joins, and the catalog's manifest
commits give per-batch lineage (snapshot id, rows) for free.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import TableCatalog
from .extractor import (
    extract_building_tables,
    extract_estate_tables,
    extract_monthly_market,
)
from .schema import STAR_PRIMARY_KEYS, STAR_TABLES, create_star_tables

ESTATE_TABLES = [
    "regions", "subregions", "districts", "estates", "facilities",
    "estate_facilities", "estate_school_nets", "estate_mtr_lines",
    "phases", "buildings",
]
BUILDING_TABLES = ["units", "unit_features", "transactions"]


def _batch_of(col, n_batches: int):
    return F.pmod(F.xxhash64(col), F.lit(n_batches))


class _Progress:
    """Atomically-committed set of completed (stage, batch) marks, pinned
    to the batch count they were computed under — resuming with a
    different ``n_batches`` would silently skip uncommitted hash slices,
    so it is rejected instead."""

    def __init__(self, path: str, n_batches: int):
        self.path = path
        self.n_batches = n_batches
        self.done: set[str] = set()
        if os.path.exists(path):
            with open(path) as f:
                state = json.load(f)
            recorded = state.get("n_batches")
            if recorded is not None and recorded != n_batches:
                raise ValueError(
                    f"pipeline progress at {path} was written with "
                    f"n_batches={recorded}; resuming with n_batches="
                    f"{n_batches} would mis-map completed hash slices — "
                    "finish with the original batch count or start a fresh "
                    "state dir"
                )
            self.done = set(state["done"])

    def mark(self, stage: str, batch: int) -> None:
        self.done.add(f"{stage}/{batch}")
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"done": sorted(self.done), "n_batches": self.n_batches}, f)
        os.replace(tmp, self.path)

    def has(self, stage: str, batch: int) -> bool:
        return f"{stage}/{batch}" in self.done


def _append_deduped(
    catalog: TableCatalog,
    table: str,
    rows: DataFrame,
    bloom=None,
    cluster: tuple[list[str], int | None] | None = None,
) -> int:
    """Dedup a batch against the committed table, append only new keys.

    Rows with a NULL in any PK column are dropped first: they violate the
    declared non-null key schema, and a null-keyed row would never match
    the committed side of the anti-join (SQL null-equality), so it would be
    re-appended on every resume/replay — silently breaking the documented
    crash-resume idempotency.

    With ``bloom`` (a ``sources.pkbloom.PKBloomIndex``), the exact
    anti-join runs ONLY over rows the committed-PK bloom flags as
    maybe-committed — normally none, so the committed table is not
    scanned at all and per-batch probe cost is O(batch), not
    O(committed). The bloom is updated BEFORE the append commits
    (false-positive-safe ordering; see pkbloom.py). Without ``bloom``,
    the full anti-join path is used.

    The batch frame is persisted across its uses (classify, count, then
    write) so the extraction lineage — including the nested-JSON render
    upstream — runs once, not per consumer; the known count also lets
    the catalog skip its post-write verification re-read.

    ``cluster=(keys, partitions)`` range-sorts the appended files on those
    columns so the manifest min/max stats prune later time/key-bounded
    reads of the table (catalog ``where=`` scans) down to the covering
    files."""
    pk = STAR_PRIMARY_KEYS[table]
    ck, cp = cluster if cluster else (None, None)
    for c in pk:
        rows = rows.filter(F.col(c).isNotNull())
    if bloom is None:
        committed = catalog.read(table).select(*pk)
        fresh = rows.join(committed, pk, "left_anti").persist()
        try:
            n = fresh.count()
            if n:
                catalog.append(
                    table, fresh, cluster_by=ck, cluster_partitions=cp
                )
        finally:
            fresh.unpersist()
        return n

    probed = bloom.probe(table, rows, pk).persist()
    try:
        definite = probed.filter(~F.col("_pk_maybe")).drop("_pk_maybe")
        maybe = probed.filter(F.col("_pk_maybe")).drop("_pk_maybe")
        if maybe.isEmpty():
            # fast path: committed table never read. On the first batch
            # probe() returned a literal-False column, so this filter
            # constant-folds to an empty LocalRelation — the check is free.
            fresh = definite
        else:
            committed = catalog.read(table).select(*pk)
            fresh = definite.unionByName(
                maybe.join(committed, pk, "left_anti")
            )
        # the update's per-bucket partials count every row of the frame,
        # so they double as the exact append count — no separate count job
        n = bloom.update(table, fresh.select(*pk), pk)
        if n:
            catalog.append(
                table, fresh, cluster_by=ck, cluster_partitions=cp
            )
    finally:
        probed.unpersist()
    return n


def _append_tables_parallel(
    catalog: TableCatalog,
    frames: dict[str, DataFrame],
    bloom=None,
    max_workers: int = 8,
    cluster_keys: dict[str, tuple[list[str], int | None]] | None = None,
) -> dict[str, int]:
    """Run ``_append_deduped`` for several tables concurrently.

    Safe because every piece of mutable state is per-table: the catalog
    keeps one manifest file per table, the bloom index one shard
    directory per table, and Spark supports concurrent job submission
    from driver threads (each table's probe/update/write jobs interleave
    on the shared executor slots). The win is wall-clock: the many small
    dimension appends (regions, facilities, …) overlap the few large
    fact appends instead of serializing behind them — per-job driver
    round-trips and write latencies overlap. Shared upstream lineage
    (the persisted batch slice) is computed once; Spark's block-level
    cache locking makes concurrent first-readers wait, not recompute."""
    items = list(frames.items())
    ck = cluster_keys or {}
    if max_workers <= 1 or len(items) <= 1:
        return {
            t: _append_deduped(catalog, t, df, bloom, ck.get(t))
            for t, df in items
        }
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(max_workers, len(items))) as ex:
        futures = {
            t: ex.submit(_append_deduped, catalog, t, df, bloom, ck.get(t))
            for t, df in items
        }
        return {t: f.result() for t, f in futures.items()}


def run_star_pipeline(
    spark: SparkSession,
    catalog: TableCatalog,
    estate_responses: DataFrame,
    monthly_responses: DataFrame,
    building_responses: DataFrame,
    n_batches: int = 4,
    state_dir: str | None = None,
    use_pk_bloom: bool = True,
    max_parallel_tables: int = 8,
    cluster_keys: dict[str, tuple[list[str], int | None]] | None = None,
) -> dict[str, int]:
    """Run the full two-stage batched load; returns rows appended per table
    (zero for batches skipped on resume).

    ``use_pk_bloom`` (default on) keeps a committed-PK bloom index per
    table so each batch's dedup probes cost O(batch) instead of
    re-shuffling the whole committed key set (sources/pkbloom.py); a
    catalog that predates the index is backfilled once.

    ``max_parallel_tables`` appends that many tables concurrently within
    a batch (driver threads submitting independent Spark jobs); 1 falls
    back to strictly sequential appends.

    ``cluster_keys`` maps table → (sort columns, file count) to range-sort
    that table's appended files (e.g. ``{"transactions": (["tx_date"],
    4)}``): time-bounded serving reads then skip non-covering files from
    manifest stats alone. Costs one extra shuffle per batch append of that
    table — the standard write-time/read-time trade, off by default."""
    from ..sources.pkbloom import PKBloomIndex

    create_star_tables(catalog)
    bloom = PKBloomIndex(catalog) if use_pk_bloom else None
    if bloom is not None:
        for t in STAR_TABLES:
            bloom.ensure(t, STAR_PRIMARY_KEYS[t])
    progress = _Progress(
        os.path.join(state_dir or catalog.root, "_pipeline_progress.json"),
        n_batches,
    )
    appended = dict.fromkeys(list(STAR_TABLES), 0)

    # ---- stage 1: estates + monthly, batched by estate id ----------------
    for b in range(n_batches):
        if progress.has("estates", b):
            continue
        # persist the batch's rendered responses: ten table extractions
        # share one materialization instead of re-running the upstream
        # lineage per table (the reference likewise holds one partition's
        # responses in memory while its processors consume them)
        batch_est = estate_responses.filter(
            _batch_of(F.col("estate_id"), n_batches) == b
        ).persist()
        tables = extract_estate_tables(batch_est)
        batch_monthly = monthly_responses.filter(
            _batch_of(F.col("estate_id"), n_batches) == b
        )
        frames = {t: tables[t] for t in ESTATE_TABLES}
        frames["estate_monthly_market_info"] = extract_monthly_market(
            batch_monthly
        )
        for t, n in _append_tables_parallel(
            catalog, frames, bloom, max_parallel_tables, cluster_keys
        ).items():
            appended[t] += n
        batch_est.unpersist()
        progress.mark("estates", b)

    # ---- stage 2: buildings harvested from the committed star ------------
    committed_bids = catalog.read("buildings").select("building_id")
    harvested = building_responses.join(committed_bids, "building_id", "left_semi")
    for b in range(n_batches):
        if progress.has("buildings", b):
            continue
        batch_bld = harvested.filter(
            _batch_of(F.col("building_id"), n_batches) == b
        ).persist()
        tables = extract_building_tables(batch_bld)
        for t, n in _append_tables_parallel(
            catalog,
            {t: tables[t] for t in BUILDING_TABLES},
            bloom,
            max_parallel_tables,
            cluster_keys,
        ).items():
            appended[t] += n
        batch_bld.unpersist()
        progress.mark("buildings", b)

    return appended
