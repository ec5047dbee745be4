"""Incremental materialized-rollup maintenance over the table catalog.

The OLAP pattern Iceberg/Delta users hand-roll: a fact table receives
append-only batches (crawl waves, listing imports); a dashboard needs a
grouped aggregate of ALL of it; recomputing the aggregate per batch is
O(table) — at 100 TB that is the difference between a 2-second refresh
and a 2-hour one. Mergeable aggregates (sum/count/min/max — avg is
sum+count) make the delta-only refresh exact:

    new_state[g] = merge(old_state[g], partial_agg(delta)[g])

Scale shape per refresh:
- ``read_changes`` hands over ONLY the files appended since the applied
  watermark (O(delta), the catalog's incremental-read contract);
- the partial aggregate is one map-side-combined shuffle over the delta;
- the rollup table itself is aggregate-sized (one row per group), so
  touching it is O(groups); ``merge_upsert``'s stats-overlap prune
  rewrites only the snapshot-dirs whose key range intersects the
  affected groups.

Exactly-once without a two-phase commit: the applied source snapshot is
a COLUMN (``_src_snap``) on every rollup row, so the watermark commits
ATOMICALLY with the data it covers — there is no separate cursor file
to desync. A crash after the merge simply leaves the watermark advanced
(the next refresh sees nothing new); a crash before it leaves both
untouched. Re-running refresh is idempotent by construction.

``read_changes`` raises if the source was replaced/merged inside the
range (append-only violated) — surfaced as-is; the caller must rebuild
with :meth:`IncrementalRollup.rebuild`.

Reference semantic target: the reference recomputes its market dashboards
from the full SQLite table per run (/root/reference/src/processors/ —
pandas groupby over a full read); this is that aggregate maintained
incrementally under the catalog's snapshot contract.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .tables import TableCatalog

_KINDS = ("sum", "count", "min", "max")


@dataclass(frozen=True)
class Measure:
    """One maintained aggregate: ``kind`` in sum|count|min|max over
    ``col`` (ignored for count)."""

    kind: str
    col: str | None = None

    def __post_init__(self):
        if self.kind not in _KINDS:
            raise ValueError(f"kind must be one of {_KINDS}, got {self.kind}")
        if self.kind != "count" and not self.col:
            raise ValueError(f"{self.kind} needs a source column")


class IncrementalRollup:
    """Maintain ``dst`` = SELECT group_cols, measures FROM ``src`` GROUP BY
    group_cols — refreshed incrementally from the catalog change feed."""

    WATERMARK = "_src_snap"

    def __init__(
        self,
        catalog: TableCatalog,
        src: str,
        dst: str,
        group_cols: list[str],
        measures: dict[str, Measure],
    ):
        if not group_cols:
            raise ValueError("need at least one group column")
        bad = set(measures) & set(group_cols) | {
            n for n in measures if n == self.WATERMARK
        }
        if bad:
            raise ValueError(f"measure names collide: {sorted(bad)}")
        self.catalog = catalog
        self.src = src
        self.dst = dst
        self.group_cols = list(group_cols)
        self.measures = dict(measures)

    # -- aggregate algebra ------------------------------------------------
    def _partial_aggs(self):
        """Delta rows -> partial state (same schema as the stored state)."""
        out = []
        for name, m in self.measures.items():
            if m.kind == "count":
                out.append(F.count(F.lit(1)).cast("long").alias(name))
            elif m.kind == "sum":
                out.append(F.sum(m.col).alias(name))
            elif m.kind == "min":
                out.append(F.min(m.col).alias(name))
            else:
                out.append(F.max(m.col).alias(name))
        return out

    def _merge_aggs(self):
        """Two partial states -> one (count merges by SUM, the rest by
        their own operator — the classic commutative-monoid contract)."""
        out = []
        for name, m in self.measures.items():
            f = F.sum if m.kind in ("sum", "count") else (
                F.min if m.kind == "min" else F.max
            )
            out.append(f(name).alias(name))
        return out

    # -- state ------------------------------------------------------------
    def _dst_exists(self) -> bool:
        try:
            return self.catalog.current_snapshot(self.dst) > 0 or bool(
                self.catalog.schema_of(self.dst)
            )
        except Exception:
            return False

    def applied_snapshot(self) -> int:
        """Highest source snapshot folded into the state (0 = nothing)."""
        if not self._dst_exists():
            return 0
        cur = self.catalog.read(self.dst)
        row = cur.agg(F.max(self.WATERMARK).alias("s")).first()
        return int(row["s"]) if row and row["s"] is not None else 0

    def read(self) -> DataFrame:
        """The maintained rollup (without the watermark column)."""
        return self.catalog.read(self.dst).drop(self.WATERMARK)

    # -- maintenance ------------------------------------------------------
    def refresh(self) -> dict:
        """Fold every source snapshot past the watermark into the state.

        Returns ``{"applied_from", "applied_to", "groups_touched"}``;
        a no-op refresh returns ``applied_to == applied_from`` and
        commits nothing."""
        applied = self.applied_snapshot()
        head = self.catalog.current_snapshot(self.src)
        if head <= applied:
            return {
                "applied_from": applied,
                "applied_to": applied,
                "groups_touched": 0,
            }
        delta = self.catalog.read_changes(self.src, since=applied, until=head)
        partial = delta.groupBy(*self.group_cols).agg(*self._partial_aggs())
        partial = partial.persist()
        if partial.isEmpty():
            # snapshots past the watermark carried no rows (empty
            # appends): nothing to fold, nothing committed — the
            # watermark honestly stays where it is and the next refresh
            # re-reads this (zero-file) delta for free
            partial.unpersist()
            return {
                "applied_from": applied,
                "applied_to": applied,
                "groups_touched": 0,
            }
        state_cols = (
            self.group_cols
            + list(self.measures)
            + [self.WATERMARK]
        )
        if self._dst_exists():
            old = self.catalog.read(self.dst).join(
                partial.select(*self.group_cols), self.group_cols, "semi"
            ).drop(self.WATERMARK)
            merged = (
                old.unionByName(partial)
                .groupBy(*self.group_cols)
                .agg(*self._merge_aggs())
                .withColumn(self.WATERMARK, F.lit(head).cast("long"))
                .select(*state_cols)
            )
            merged = merged.persist()
            n = merged.count()
            self.catalog.merge_upsert(self.dst, merged, keys=self.group_cols)
            merged.unpersist()
            partial.unpersist()
        else:
            merged = partial.withColumn(
                self.WATERMARK, F.lit(head).cast("long")
            ).select(*state_cols)
            merged = merged.persist()
            n = merged.count()
            self.catalog.append(self.dst, merged)
            merged.unpersist()
            partial.unpersist()
        return {
            "applied_from": applied,
            "applied_to": head,
            "groups_touched": n,
        }

    def rebuild(self) -> dict:
        """Full recompute (after a source replace/merge broke the
        append-only contract): one aggregate over the whole source,
        REPLACE the state. The escape hatch, not the steady state."""
        head = self.catalog.current_snapshot(self.src)
        full = (
            self.catalog.read(self.src)
            .groupBy(*self.group_cols)
            .agg(*self._partial_aggs())
            .withColumn(self.WATERMARK, F.lit(head).cast("long"))
        )
        full = full.persist()
        n = full.count()
        self.catalog.replace(self.dst, full)
        full.unpersist()
        return {"applied_to": head, "groups": n}
