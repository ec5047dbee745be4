"""TableCatalog: snapshot isolation, append/replace, history, vacuum."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from hk_housing_datahub_spark.sources import TableCatalog


@pytest.fixture()
def cat(spark):
    d = tempfile.mkdtemp(prefix="cat_")
    yield TableCatalog(spark, d)
    shutil.rmtree(d)


def test_append_and_read(spark, cat):
    df1 = spark.range(0, 10)
    df2 = spark.range(10, 25)
    s1 = cat.append("t", df1)
    assert cat.read("t").count() == 10
    s2 = cat.append("t", df2)
    assert s2 == s1 + 1
    assert cat.read("t").count() == 25
    assert [h["rows"] for h in cat.history("t")] == [10, 15]


def test_replace_and_vacuum(spark, cat):
    cat.append("t", spark.range(0, 10))
    cat.replace("t", spark.range(0, 5))
    assert cat.read("t").count() == 5
    assert cat.vacuum("t") == 1  # the orphaned append snapshot dir
    assert cat.read("t").count() == 5


def test_missing_table_raises(spark, cat):
    with pytest.raises(FileNotFoundError):
        cat.read("nope")


def test_time_travel_read(spark, cat):
    s1 = cat.append("t", spark.range(0, 10))
    s2 = cat.append("t", spark.range(10, 25))
    s3 = cat.replace("t", spark.range(0, 5))
    # VERSION AS OF each retained snapshot
    assert cat.read("t", snapshot=s1).count() == 10
    assert cat.read("t", snapshot=s2).count() == 25
    assert cat.read("t", snapshot=s3).count() == 5
    assert cat.read("t").count() == 5  # current unchanged
    # vacuum expires the non-current snapshots' files
    cat.vacuum("t")
    assert cat.read("t", snapshot=s3).count() == 5


def test_compaction_is_data_equivalent(spark, cat):
    """compact() solves the small-file problem without disturbing readers:
    same rows, fewer files, time travel intact, incremental deltas
    unaffected (consumers skip the compact snapshot)."""
    import glob as _glob
    import os as _os

    from hk_housing_datahub_spark.sources import IncrementalConsumer

    for lo in range(0, 40, 10):  # 4 small appends
        cat.append("t", spark.range(lo, lo + 10).repartition(4))
    s_pre = cat.current_snapshot("t")
    n_files_pre = len(_glob.glob(_os.path.join(cat.root, "t", "data", "*", "*.parquet")))

    c = IncrementalConsumer(cat, "lagging")
    c.commit("t", 2)  # consumer mid-stream before the compaction

    s_c = cat.compact("t", partitions=1)
    # same rows, strictly fewer live files
    assert cat.read("t").count() == 40
    live = cat._load_manifest("t")["files"]
    assert len(live) < n_files_pre and len(live) == 1
    # time travel to pre-compaction snapshots still works (until vacuum)
    assert cat.read("t", snapshot=s_pre).count() == 40
    assert cat.read("t", snapshot=2).count() == 20
    # the lagging consumer's delta skips the compact entry: rows 20..40 once
    delta, head = c.poll("t")
    assert head == s_c
    assert sorted(r.id for r in delta.collect()) == list(range(20, 40))
    c.commit("t", head)
    # appends after compaction flow through as usual
    cat.append("t", spark.range(40, 45))
    assert sorted(r.id for r in c.poll("t")[0].collect()) == list(range(40, 45))
    # vacuum now expires the pre-compaction files; current read unaffected
    assert cat.vacuum("t") >= 4
    assert cat.read("t").count() == 45


def test_incremental_consumer_cursor_and_redelivery(spark, cat):
    from hk_housing_datahub_spark.sources import IncrementalConsumer

    s1 = cat.append("t", spark.range(0, 10))
    cat.append("t", spark.range(10, 25))
    c = IncrementalConsumer(cat, "rollup")
    # first poll: everything so far
    delta, head = c.poll("t")
    assert delta.count() == 25
    # crash before commit → re-poll re-delivers the same delta
    delta2, head2 = c.poll("t")
    assert head2 == head and delta2.count() == 25
    c.commit("t", head)
    # appends after the commit are the only next delta
    cat.append("t", spark.range(25, 30))
    delta3, head3 = c.poll("t")
    assert sorted(r.id for r in delta3.collect()) == list(range(25, 30))
    c.commit("t", head3)
    # caught up → empty delta
    delta4, _ = c.poll("t")
    assert delta4.count() == 0
    # a second named consumer has its own independent cursor
    c2 = IncrementalConsumer(cat, "audit")
    assert c2.poll("t")[0].count() == 30
    assert s1 == 1  # sanity: snapshots started at 1


def test_incremental_read_changes(spark, cat):
    s1 = cat.append("t", spark.range(0, 10))
    s2 = cat.append("t", spark.range(10, 25))
    s3 = cat.append("t", spark.range(25, 30))
    # delta after s1 = snapshots s2+s3 only — O(delta) files, not O(table)
    got = sorted(r.id for r in cat.read_changes("t", since=s1).collect())
    assert got == list(range(10, 30))
    # bounded range (s1, s2]
    got = sorted(r.id for r in cat.read_changes("t", since=s1, until=s2).collect())
    assert got == list(range(10, 25))
    # empty delta at head
    assert cat.read_changes("t", since=s3).count() == 0
    # replace breaks append-only incremental semantics
    cat.replace("t", spark.range(0, 3))
    with pytest.raises(ValueError, match="replaced"):
        cat.read_changes("t", since=s1)


def test_schema_evolution_add_column(spark, cat):
    """Add-column evolution, resolved from manifest metadata (no
    mergeSchema): old files read the new column as NULL; time travel sees
    the pre-evolution schema; incompatible type changes are rejected."""
    from pyspark.sql import functions as F

    s1 = cat.append("t", spark.range(0, 5).select("id"))
    s2 = cat.append(
        "t", spark.range(5, 8).select("id", F.lit("web").alias("source"))
    )
    cur = cat.read("t")
    assert [f.name for f in cur.schema.fields] == ["id", "source"]
    rows = {r.id: r.source for r in cur.collect()}
    assert len(rows) == 8
    assert all(rows[i] is None for i in range(5))        # pre-evolution files
    assert all(rows[i] == "web" for i in range(5, 8))
    # schema as of the first snapshot has no 'source'; data reads that way
    assert [f.name for f in cat.schema_of("t", snapshot=s1).fields] == ["id"]
    assert cat.read("t", snapshot=s1).columns == ["id"]
    assert cat.read("t", snapshot=s2).columns == ["id", "source"]
    # the added column is nullable in the resolved schema
    assert dict((f.name, f.nullable) for f in cat.schema_of("t").fields)["source"]
    # type conflict on an existing column is rejected
    import pytest as _pytest

    with _pytest.raises(ValueError, match="schema evolution"):
        cat.append("t", spark.range(0, 1).select(F.lit("oops").alias("id")))


def test_schema_evolution_incremental_and_replace(spark, cat):
    from pyspark.sql import functions as F

    from hk_housing_datahub_spark.sources import IncrementalConsumer

    cat.append("t", spark.range(0, 4).select("id"))
    c = IncrementalConsumer(cat, "evo")
    c.commit("t", cat.current_snapshot("t"))
    cat.append("t", spark.range(4, 6).select("id", F.lit(1.5).alias("w")))
    delta, head = c.poll("t")  # delta carries the evolved schema
    assert delta.columns == ["id", "w"]
    assert delta.count() == 2
    c.commit("t", head)
    # REPLACE may redefine the schema outright; fold resets at the replace
    cat.replace("t", spark.range(0, 3).select(F.col("id").alias("pk")))
    assert cat.read("t").columns == ["pk"]
    # compaction preserves the evolved schema
    cat.append("t", spark.range(3, 5).select(F.col("id").alias("pk")))
    cat.compact("t", partitions=1)
    assert cat.read("t").columns == ["pk"]
    assert cat.read("t").count() == 5


def test_stats_pruning_across_snapshots(spark, cat):
    """Each append's footer stats land in the manifest; a point/range read
    prunes whole part-files from metadata and still returns exactly what an
    unpruned read + filter would."""
    for lo in (0, 100, 200):
        cat.append("t", spark.range(lo, lo + 100).coalesce(1))
    rep = cat.scan_report("t", [("id", "=", 150)])
    assert rep["parts_total"] == 3 and rep["parts_kept"] == 1
    assert rep["dirs_without_stats"] == 0
    got = sorted(r.id for r in cat.read("t", where=[("id", "=", 150)]).collect())
    assert got == [150]
    rep = cat.scan_report("t", [("id", ">=", 120), ("id", "<", 210)])
    assert rep["parts_kept"] == 2
    got = sorted(
        r.id
        for r in cat.read(
            "t", where=[("id", ">=", 120), ("id", "<", 210)]
        ).collect()
    )
    assert got == list(range(120, 210))
    # predicate that nothing matches: zero files planned, empty result
    rep = cat.scan_report("t", [("id", ">", 10_000)])
    assert rep["parts_kept"] == 0
    assert cat.read("t", where=[("id", ">", 10_000)]).count() == 0


def test_cluster_by_prunes_within_one_snapshot(spark, cat):
    """cluster_by range-sorts the write so a single append's part files
    carry disjoint key ranges — a point lookup then opens one file."""
    from pyspark.sql import functions as F

    df = (
        spark.range(0, 1000)
        .withColumn("id", F.pmod(F.col("id") * 389, F.lit(1000)))
        .repartition(7)  # deliberately scrambled before the write
    )
    cat.append("t", df, cluster_by=["id"], cluster_partitions=4)
    rep0 = cat.scan_report("t", None)
    assert rep0["parts_total"] > 1
    rep = cat.scan_report("t", [("id", "=", 500)])
    assert rep["parts_kept"] == 1
    assert [r.id for r in cat.read("t", where=[("id", "=", 500)]).collect()] == [500]
    # range read keeps only the covering files, never loses rows
    rep = cat.scan_report("t", [("id", ">=", 900)])
    assert rep["parts_kept"] < rep0["parts_total"]
    assert cat.read("t", where=[("id", ">=", 900)]).count() == 100


def test_pruning_with_schema_evolution_and_nulls(spark, cat):
    """Files written before an add-column are all-NULL for it: comparison
    predicates prune them from metadata alone; is_null keeps them."""
    from pyspark.sql import functions as F

    cat.append("t", spark.range(0, 5).coalesce(1))
    cat.append(
        "t",
        spark.range(5, 9).select("id", F.lit("web").alias("source")).coalesce(1),
    )
    rep = cat.scan_report("t", [("source", "=", "web")])
    assert rep["parts_total"] == 2 and rep["parts_kept"] == 1
    assert cat.read("t", where=[("source", "=", "web")]).count() == 4
    rep = cat.scan_report("t", [("source", "is_null")])
    assert rep["parts_kept"] == 1
    assert cat.read("t", where=[("source", "is_null")]).count() == 5
    assert cat.read("t", where=[("source", "is_not_null")]).count() == 4


def test_pruning_strings_and_read_changes(spark, cat):
    from pyspark.sql import functions as F

    hosts = [("a.example", 1), ("b.example", 2)]
    s0 = 0
    for h, k in hosts:
        cat.append(
            "t",
            spark.range(0, 10).select(
                F.lit(h).alias("host"), (F.col("id") + 10 * k).alias("rank")
            ).coalesce(1),
        )
    rep = cat.scan_report("t", [("host", "=", "b.example")])
    assert rep["parts_total"] == 2 and rep["parts_kept"] == 1
    # incremental scan composes with pruning and stays exact
    delta = cat.read_changes("t", since=s0, where=[("host", "=", "a.example")])
    assert delta.count() == 10
    assert cat.read_changes("t", since=1, where=[("host", "=", "a.example")]).count() == 0
    # "in" and incomparable-literal conservatism
    assert cat.read("t", where=[("host", "in", ["a.example", "zz"])]).count() == 10
    assert cat.read("t", where=[("rank", "=", 15)]).count() == 1


def test_merge_upsert_rewrites_only_overlapping_dirs(spark, cat):
    """COW merge: updates replace matched keys, insert unmatched ones, and
    only snapshot dirs whose manifest key ranges overlap the updates are
    rewritten — the others are carried into the new snapshot untouched."""
    from pyspark.sql import functions as F

    def mk(lo, hi, tag):
        return spark.range(lo, hi).select(
            "id", F.lit(tag).alias("v")
        ).coalesce(1)

    cat.append("t", mk(0, 100, "a"))
    cat.append("t", mk(100, 200, "b"))
    cat.append("t", mk(200, 300, "c"))
    files_before = cat._load_manifest("t")["files"]
    pre_merge_snap = cat.current_snapshot("t")

    upd = mk(150, 160, "UPDATED").union(mk(300, 305, "NEW"))
    cat.merge_upsert("t", upd, keys=["id"])

    h = cat.history("t")[-1]
    assert h["op"] == "merge"
    # only the middle dir (100-200) and the insert range dir (200-300)?
    # updates span 150..304 → overlaps dirs 2 and 3, not dir 1
    assert files_before[0] not in h["removed"]
    assert files_before[1] in h["removed"]
    got = {r.id: r.v for r in cat.read("t").collect()}
    assert len(got) == 305
    assert got[0] == "a" and got[149] == "b" and got[199] == "b"
    assert all(got[i] == "UPDATED" for i in range(150, 160))
    assert all(got[i] == "NEW" for i in range(300, 305))
    # time travel: pre-merge snapshot still shows the old rows
    old = {r.id: r.v for r in cat.read("t", snapshot=pre_merge_snap).collect()}
    assert len(old) == 300 and old[155] == "b"
    # incremental read across the merge is refused
    with pytest.raises(ValueError, match="merged"):
        cat.read_changes("t", since=pre_merge_snap - 1)


def test_merge_upsert_pure_insert_touches_nothing(spark, cat):
    from pyspark.sql import functions as F

    cat.append(
        "t",
        spark.range(0, 50).select("id", F.lit("x").alias("v")).coalesce(1),
    )
    files_before = list(cat._load_manifest("t")["files"])
    cat.merge_upsert(
        "t",
        spark.range(1000, 1010).select("id", F.lit("y").alias("v")),
        keys=["id"],
    )
    h = cat.history("t")[-1]
    assert h["removed"] == []
    assert set(files_before) < set(cat._load_manifest("t")["files"])
    assert cat.read("t").count() == 60


def test_pruning_timestamps(spark, cat):
    """TIMESTAMP_MICROS writes carry footer min/max; tz-aware footer stats
    and naive predicate literals normalize into one comparable domain."""
    import datetime as dt

    from pyspark.sql import functions as F

    for day in (1, 10, 20):
        cat.append(
            "t",
            spark.range(0, 24).select(
                F.timestamp_seconds(
                    F.lit(
                        int(
                            dt.datetime(
                                2024, 3, day, tzinfo=dt.timezone.utc
                            ).timestamp()
                        )
                    )
                    + F.col("id") * 3600
                ).alias("warc_ts"),
                "id",
            ).coalesce(1),
        )
    cut = dt.datetime(2024, 3, 15)
    rep = cat.scan_report("t", [("warc_ts", ">=", cut)])
    assert rep["parts_total"] == 3 and rep["parts_kept"] == 1
    assert cat.read("t", where=[("warc_ts", ">=", cut)]).count() == 24
    point = dt.datetime(2024, 3, 10, 5, 0, 0)
    rep = cat.scan_report("t", [("warc_ts", "=", point)])
    assert rep["parts_kept"] == 1
    assert cat.read("t", where=[("warc_ts", "=", point)]).count() == 1


def test_concurrent_appends_cas_lose_nothing(spark, cat):
    """Optimistic-concurrency commits: concurrent appenders to one table
    race on the manifest CAS, losers retry the metadata fold (data files
    are already on disk), and every snapshot survives in order."""
    from concurrent.futures import ThreadPoolExecutor

    def writer(w):
        snaps = []
        for i in range(4):
            lo = (w * 4 + i) * 10
            snaps.append(cat.append("t", spark.range(lo, lo + 10).coalesce(1)))
        return snaps

    with ThreadPoolExecutor(max_workers=3) as ex:
        all_snaps = [s for f in [ex.submit(writer, w) for w in range(3)] for s in f.result()]

    assert sorted(all_snaps) == list(range(1, 13))  # no snapshot lost/duped
    assert cat.read("t").count() == 120
    h = cat.history("t")
    assert [e["snapshot"] for e in h] == list(range(1, 13))
    assert all(e["op"] == "append" and e["rows"] == 10 for e in h)
    # a stale-base replace is refused, not silently applied
    from hk_housing_datahub_spark.sources.tables import CommitConflict

    m = cat._load_manifest("t")
    cat.append("t", spark.range(200, 210))
    with pytest.raises(CommitConflict):
        cat._commit("t", m, expect=cat._version_of(m))


def test_rollback_restores_snapshot_as_new_commit(spark, cat):
    """rollback_to_snapshot semantics: pure-metadata undo of bad commits,
    recorded in history; data pruning still works on restored dirs;
    incremental consumers past the rollback see a history rewrite."""
    s1 = cat.append("t", spark.range(0, 50).coalesce(1))
    s2 = cat.append("t", spark.range(50, 80).coalesce(1))
    cat.append("t", spark.range(999, 1099).coalesce(1))  # the bad batch
    assert cat.read("t").count() == 180
    s4 = cat.rollback("t", s2)
    assert s4 == 4
    assert sorted(r.id for r in cat.read("t").collect()) == list(range(80))
    h = cat.history("t")[-1]
    assert h["rolled_back_to"] == s2 and h["rows"] == 80
    # stats pruning still resolves through the rollback's re-referenced dirs
    rep = cat.scan_report("t", [("id", "=", 60)])
    assert rep["parts_total"] == 2 and rep["parts_kept"] == 1
    # time travel to the bad snapshot still works until vacuum
    assert cat.read("t", snapshot=3).count() == 180
    # a consumer whose cursor predates the rollback must rebuild
    with pytest.raises(ValueError, match="replaced"):
        cat.read_changes("t", since=s1)
    # vacuum expires the bad batch's files; current read unaffected
    assert cat.vacuum("t") == 1
    assert cat.read("t").count() == 80
    with pytest.raises(ValueError, match="no snapshot"):
        cat.rollback("t", 99)


def test_vacuum_retain_last_keeps_time_travel_window(spark, cat):
    """expire_snapshots(retain_last=N): time travel survives inside the
    retained window, expires outside it; current read always intact."""
    cat.append("t", spark.range(0, 10).coalesce(1))
    cat.append("t", spark.range(10, 20).coalesce(1))
    cat.replace("t", spark.range(0, 5).coalesce(1))  # snapshot 3
    cat.replace("t", spark.range(0, 7).coalesce(1))  # snapshot 4
    # retain the last 2 snapshots: 3 and 4 → only snapshots 1-2's dirs go
    assert cat.vacuum("t", retain_last=2) == 2
    assert cat.read("t").count() == 7
    assert cat.read("t", snapshot=3).count() == 5  # retained window
    # expired: snapshot 2's files are gone
    import pytest as _pt

    with _pt.raises(Exception):
        cat.read("t", snapshot=2).count()
    # default retain_last=1 keeps only the current snapshot
    assert cat.vacuum("t") == 1
    assert cat.read("t").count() == 7


def test_vacuum_orphan_age_guard(spark, cat):
    """A dir in no history entry may be a concurrent appender's in-flight
    write: it survives vacuum until older than orphan_age_s (the
    remove_orphan_files older-than guard)."""
    import os as _os

    cat.append("t", spark.range(0, 5).coalesce(1))
    orphan = _os.path.join(cat.root, "t", "data", "999999-inflight")
    _os.makedirs(orphan)
    assert cat.vacuum("t") == 0  # minutes-old orphan: protected
    assert _os.path.isdir(orphan)
    assert cat.vacuum("t", orphan_age_s=0) == 1  # aged out: swept
    assert not _os.path.isdir(orphan)
    assert cat.read("t").count() == 5


def test_add_files_rejects_partless_dir(spark, cat):
    import os as _os
    import tempfile as _tf

    import pytest as _pt

    d = _tf.mkdtemp(prefix="empty_")
    try:
        with _pt.raises(ValueError, match="no parquet part files"):
            cat.add_files("t", d)
    finally:
        _os.rmdir(d)


def test_write_audit_publish_flow(spark, cat):
    """WAP: staged rows are invisible until published; audits read them;
    a discarded stage never lands and its files vacuum away; incremental
    consumers receive rows at the PUBLISH snapshot (post-audit)."""
    cat.append("t", spark.range(0, 10).coalesce(1))
    from hk_housing_datahub_spark.sources import IncrementalConsumer

    c = IncrementalConsumer(cat, "wap")
    c.commit("t", cat.current_snapshot("t"))
    s_stage = cat.append("t", spark.range(10, 20).coalesce(1), staged=True)
    # invisible to readers and to the incremental delta
    assert cat.read("t").count() == 10
    assert c.poll("t")[0].count() == 0
    # the audit job sees exactly the staged rows
    staged = cat.read_staged("t", s_stage)
    assert sorted(r.id for r in staged.collect()) == list(range(10, 20))
    # publish: metadata-only flip; delta arrives now
    s_pub = cat.publish_staged("t", s_stage)
    assert cat.read("t").count() == 20
    delta, head = c.poll("t")
    assert head == s_pub and delta.count() == 10
    # double-resolution is rejected
    import pytest as _pt

    with _pt.raises(ValueError, match="already published"):
        cat.publish_staged("t", s_stage)
    # a failed audit: stage, discard — rows never land, files vacuumable
    s_bad = cat.append("t", spark.range(99, 199).coalesce(1), staged=True)
    assert cat.read("t").count() == 20
    cat.discard_staged("t", s_bad)
    assert cat.read("t").count() == 20
    with _pt.raises(ValueError, match="already discarded"):
        cat.read_staged("t", s_bad)
    # unresolved stages survive vacuum; resolved-discarded ones are swept
    s_pend = cat.append("t", spark.range(500, 510).coalesce(1), staged=True)
    removed = cat.vacuum("t", orphan_age_s=0)
    assert removed >= 1  # the discarded stage's dir went
    assert cat.read_staged("t", s_pend).count() == 10  # pending intact
    assert cat.read("t").count() == 20
    # time travel: as of the stage snapshot, the rows were NOT visible
    assert cat.read("t", snapshot=s_stage).count() == 10


def test_tags_pin_snapshots_through_vacuum(spark, cat):
    """Iceberg tags: immutable named pointers; reads resolve through them;
    their files survive vacuum even outside the retention window."""
    cat.append("t", spark.range(0, 10).coalesce(1))
    s2 = cat.append("t", spark.range(10, 30).coalesce(1))
    cat.tag("t", "train-v1", s2)
    cat.replace("t", spark.range(0, 3).coalesce(1))
    cat.replace("t", spark.range(0, 4).coalesce(1))
    # outside retain_last=1, but pinned by the tag
    assert cat.vacuum("t") == 1  # only the untagged snapshot-3 dir goes
    assert cat.read_tag("t", "train-v1").count() == 30
    assert cat.read("t").count() == 4
    import pytest as _pt

    with _pt.raises(ValueError, match="immutable"):
        cat.tag("t", "train-v1")
    with _pt.raises(FileNotFoundError, match="no tag"):
        cat.read_tag("t", "nope")
    with _pt.raises(ValueError, match="no snapshot"):
        cat.tag("t", "future", 99)


def test_timestamp_as_of_read(spark, cat):
    import time as _time

    s1 = cat.append("t", spark.range(0, 10).coalesce(1))
    t1 = _time.time()
    _time.sleep(0.05)
    s2 = cat.append("t", spark.range(10, 30).coalesce(1))
    assert cat.snapshot_as_of("t", t1) == s1
    assert cat.snapshot_as_of("t", _time.time()) == s2
    assert cat.read("t", as_of=t1).count() == 10
    assert cat.read("t").count() == 30
    # ISO string form resolves too
    from datetime import datetime, timezone

    iso = datetime.fromtimestamp(t1, tz=timezone.utc).isoformat()
    assert cat.read("t", as_of=iso).count() == 10
    with pytest.raises(ValueError, match="no commit"):
        cat.snapshot_as_of("t", 0)
    with pytest.raises(ValueError, match="not both"):
        cat.read("t", snapshot=s1, as_of=t1)


def test_describe_is_metadata_only_summary(spark, cat):
    s1 = cat.append("t", spark.range(0, 10).coalesce(2))
    cat.append("t", spark.range(10, 30).coalesce(1))
    cat.append("t", spark.range(99, 100).coalesce(1), staged=True)
    cat.tag("t", "v1", s1)
    d = cat.describe("t")
    assert d["snapshot"] == 3 and d["rows"] == 30
    assert d["data_dirs"] == 2 and d["files"] == 3
    assert d["pending_staged"] == [3] and d["tags"] == {"v1": 1}
    assert d["schema"].startswith("struct<id:bigint")
    assert d["external_dirs"] == 0


def test_publish_staged_revalidates_schema(spark, cat):
    """A stage is not part of the schema contract until published: a
    conflicting commit that lands in between must make the publish fail
    (the stage stays unresolved for the operator to discard)."""
    from pyspark.sql import functions as F

    cat.append("t", spark.range(0, 5))
    s = cat.append(
        "t", spark.range(5, 8).select("id", F.lit(1.5).alias("price")),
        staged=True,
    )
    # a visible append claims price as STRING before the stage publishes
    cat.append(
        "t", spark.range(8, 9).select("id", F.lit("9.99").alias("price"))
    )
    with pytest.raises(ValueError, match="schema evolution"):
        cat.publish_staged("t", s)
    # unresolved → still discardable; table stays readable and consistent
    cat.discard_staged("t", s)
    assert cat.read("t").count() == 6


def test_commit_stamps_only_new_entries(spark, cat):
    """Pre-stamping manifests keep early entries unstamped (honestly
    unresolvable) instead of inheriting today's commit time."""
    import json as _json
    import os as _os

    cat.append("t", spark.range(0, 3).coalesce(1))
    # simulate a manifest written before commit stamping existed
    mp = cat._manifest_path("t")
    m = _json.load(open(mp))
    del m["history"][0]["ts"]
    _json.dump(m, open(mp, "w"))
    cat.append("t", spark.range(3, 6).coalesce(1))
    hist = cat.history("t")
    assert "ts" not in hist[0] and "ts" in hist[1]
    import time as _time

    assert cat.snapshot_as_of("t", _time.time()) == 2
    with pytest.raises(ValueError, match="no commit"):
        cat.snapshot_as_of("t", hist[1]["ts"] - 1)


def _grid_df(spark, n=64):
    """n×n grid of independent (x, y) — the adversarial case for
    lexicographic clustering (y carries no locality under an x-sort)."""
    return (
        spark.range(n * n)
        .selectExpr(
            "id",
            f"CAST(id % {n} AS BIGINT) AS x",
            f"CAST(id DIV {n} AS BIGINT) AS y",
        )
    )


def test_zorder_key_matches_python_interleave(spark):
    from hk_housing_datahub_spark.sources.tables import zorder_key

    df = _grid_df(spark, 8)  # x,y in 0..7; bounds are exact
    out = df.withColumn(
        "k", zorder_key(df, ["x", "y"], bits=3)
    ).collect()

    def interleave(vals, bits, ncols):
        k = 0
        for i, v in enumerate(vals):
            for b in range(bits):
                k |= ((v >> b) & 1) << (b * ncols + i)
        return k

    for r in out:
        # 0..7 over 3 bits: min-max scaling is the identity
        assert r["k"] == interleave([r["x"], r["y"]], 3, 2), r


def test_zorder_prunes_on_every_dimension(spark, cat):
    """The point of z-order: file-stats pruning works on BOTH columns,
    where lexicographic cluster_by only serves the leading one."""
    df = _grid_df(spark, 64).persist()
    cat.append("zt", df, cluster_partitions=16, zorder_by=["x", "y"])
    cat.append("lex", df, cluster_partitions=16, cluster_by=["x", "y"])

    zx = cat.scan_report("zt", [("x", ">=", 0), ("x", "<", 8)])
    zy = cat.scan_report("zt", [("y", ">=", 0), ("y", "<", 8)])
    lx = cat.scan_report("lex", [("x", ">=", 0), ("x", "<", 8)])
    ly = cat.scan_report("lex", [("y", ">=", 0), ("y", "<", 8)])
    # both clusterings prune the leading dimension
    assert zx["parts_kept"] <= zx["parts_total"] // 2
    assert lx["parts_kept"] <= lx["parts_total"] // 2
    # only z-order prunes the second dimension; lexicographic keeps all
    assert zy["parts_kept"] <= zy["parts_total"] // 2
    assert ly["parts_kept"] == ly["parts_total"]
    # and the clustered reads return exactly the right rows
    got = cat.read("zt", where=[("y", ">=", 0), ("y", "<", 8)]).count()
    assert got == 64 * 8
    df.unpersist()


def test_zorder_null_and_constant_columns(spark, cat):
    df = spark.range(100).selectExpr(
        "id",
        "CAST(CASE WHEN id % 10 = 0 THEN NULL ELSE id END AS BIGINT) AS x",
        "CAST(7 AS BIGINT) AS c",
    )
    cat.append("t", df, cluster_partitions=4, zorder_by=["x", "c"])
    assert cat.read("t").count() == 100  # nulls and constants survive


def test_zorder_rejects_strings_and_cluster_combo(spark, cat):
    df = spark.range(10).selectExpr("id", "CAST(id AS STRING) AS s")
    with pytest.raises(ValueError):
        cat.append("t", df, zorder_by=["s"])
    with pytest.raises(ValueError):
        cat.append("t", df, zorder_by=["id"], cluster_by=["id"])


def test_every_write_records_the_rows_it_added(spark, cat):
    """Each commit's ``rows`` equals the rows in the files it added, for
    every writing op, so the lineage folds into the exact live count."""
    import os as _os

    ext = tempfile.mkdtemp(prefix="ext_rows_")
    try:
        spark.range(100, 107).repartition(2).write.mode("overwrite").parquet(ext)

        def check(op):
            h = cat.history("t")[-1]
            assert h["op"] == op
            paths = [_os.path.join(cat._tdir("t"), d) for d in h["added"]]
            assert h["rows"] == spark.read.parquet(*paths).count(), op
            assert cat.describe("t")["rows"] == cat.read("t").count(), op

        cat.append("t", spark.range(0, 10).repartition(3))
        check("append")
        cat.append("t", spark.range(10, 25))
        check("append")
        cat.merge_upsert("t", spark.range(20, 30), keys=["id"])
        check("merge")
        cat.compact("t", partitions=2)
        check("compact")
        cat.add_files("t", ext)
        check("append")
        assert cat.read("t").count() == 37
        cat.replace("t", spark.range(0, 4))
        check("replace")
    finally:
        shutil.rmtree(ext)


def test_add_files_unreadable_footer_commits_nothing(spark, cat):
    """A part file whose footer cannot be read fails the import instead of
    committing the readable files' rows as the whole directory's."""
    import os as _os

    import pyarrow as pa

    src = tempfile.mkdtemp(prefix="ext_bad_")
    try:
        cat.append("t", spark.range(0, 5))
        before = cat._load_manifest("t")
        spark.range(10, 20).coalesce(1).write.mode("overwrite").parquet(src)
        with open(_os.path.join(src, "part-zzz.parquet"), "wb") as f:
            f.write(b"not a parquet file")
        with pytest.raises(pa.ArrowInvalid):
            cat.add_files("t", src)
        assert cat._load_manifest("t") == before
        assert cat.read("t").count() == 5
    finally:
        shutil.rmtree(src)
