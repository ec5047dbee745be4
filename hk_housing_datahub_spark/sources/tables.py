"""Iceberg-style table catalog over partitioned Parquet + JSON manifests.

No Iceberg runtime jar ships in this sandbox (verified), so this module
provides the same operational contract behind a small abstraction — swap in
a real Iceberg catalog by replacing these four methods with
``spark.read.format("iceberg")`` / ``df.writeTo(...)`` calls:

- **append** (reference K1 bulk insert,
  /root/reference/src/processors/agency/agency_base.py:80-100): write new
  parquet files, then commit a new manifest snapshot (tmp+rename, atomic).
- **replace** (reference K7 drop_all+create_all,
  /root/reference/src/processors/agency/agency_base.py:108-115).
- **read**: loads only files listed in the current manifest — readers never
  see half-committed appends (snapshot isolation, Iceberg's core property).
  ``read(table, snapshot=N)`` time-travels to any retained snapshot, and
  ``read_changes(table, since)`` is the incremental scan (only the files
  appended after ``since``) — both resolved purely from manifest history,
  no data listing.
- per-snapshot lineage: row counts and added-file list per commit. A
  commit's row count and column stats both come from the parquet footers
  of the files it adds (read once, driver-side) — no Spark job re-counts
  what was just written; a part file whose footer cannot be read fails
  the commit.
- **schema evolution** (add-column): every commit records its write schema in
  the manifest; ``read`` projects the metadata-resolved schema onto the files
  (older files return NULL for later-added columns) instead of
  ``mergeSchema``, which at 100 TB would read every parquet footer at plan
  time. Time travel reads the schema *as of* that snapshot.
- **column-stats file skipping**: each commit folds the written parquet
  footers (driver-side, pyarrow, footers only — read once at write time,
  never again) into per-file min/max/null-count stats in the manifest;
  ``read(table, where=[...])`` prunes files whose stats prove the predicate
  false BEFORE Spark ever plans the scan. At 10^10 URLs this is the
  difference between "open every seen-set checkpoint file" and "open the one
  bucket file the key hashes into". ``append(..., cluster_by=[cols])``
  range-partitions + sorts the write so files carry disjoint ranges and the
  skipping has teeth.

Layout:  <root>/<table>/data/<snapshot>-<uuid>/part-*.parquet
         <root>/<table>/manifest.json   (current snapshot, committed last)
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession


def has_parquet_parts(d: str) -> bool:
    """True if ``d`` is a directory holding at least one parquet part file
    (a Spark write of an empty frame may produce only _SUCCESS)."""
    return os.path.isdir(d) and any(
        f.endswith(".parquet") for f in os.listdir(d)
    )


def zorder_key(
    df: DataFrame, cols: list[str], bits: int = 16
) -> "Column":
    """Z-order (Morton) key over numeric/date columns, as one codegen
    Column: each column min-max-normalizes to a ``bits``-bit integer
    (one agg job over ``df`` collects the 2×n bounds to the driver),
    then the bit planes interleave — ``bits × len(cols)`` shift/mask
    terms OR-folded, all JVM-side, no Python in the row path. Sorting
    by the key gives every listed dimension locality, so per-file
    min/max stats prune reads on ANY of the columns (the lexicographic
    sort only ever serves the leading one).

    NULLs and constant columns normalize to 0 (they can't carry
    locality). Strings are rejected — hash-interleaving text destroys
    the very ordering stats skipping needs; cluster_by serves them.
    ``bits`` defaults to 16: 16×4 dims = 64 still fits a long, and
    2^16 cells per dimension is far finer than any realistic file
    count."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if not cols:
        raise ValueError("zorder_key needs at least one column")
    if bits * len(cols) > 63:
        raise ValueError(
            f"{bits} bits x {len(cols)} columns exceeds a long"
        )
    for c in cols:
        t = df.schema[c].dataType
        if isinstance(t, (T.StringType, T.BinaryType)):
            raise ValueError(
                f"zorder_by column {c!r} is {t.simpleString()}; "
                "z-ordering needs an ordered numeric/date domain"
            )
    bounds = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    cells = (1 << bits) - 1
    planes = []
    for i, c in enumerate(cols):
        mn, mx = bounds[f"mn_{c}"], bounds[f"mx_{c}"]
        if mn is None or mx is None or mx == mn:
            continue  # constant/all-null: contributes 0 to every key
        scaled = (
            (F.col(c).cast("double") - F.lit(float(mn)))
            / F.lit(float(mx - mn))
            * F.lit(float(cells))
        )
        q = F.coalesce(
            F.round(scaled).cast("long"), F.lit(0)
        )
        q = F.greatest(F.lit(0), F.least(F.lit(cells), q))
        for b in range(bits):
            planes.append(
                F.shiftleft(
                    F.shiftright(q, b).bitwiseAND(F.lit(1)),
                    b * len(cols) + i,
                )
            )
    if not planes:
        return F.lit(0).cast("long")
    key = planes[0]
    for p in planes[1:]:
        key = key.bitwiseOR(p)
    return key


class CommitConflict(RuntimeError):
    """Another writer committed to this table between manifest load and
    commit — the optimistic-concurrency failure Iceberg surfaces as
    CommitFailedException. ``append`` retries internally (data files are
    already on disk; only the metadata fold re-runs); replace / compact /
    merge derive their file lists from the loaded base state, so a retry
    must re-derive — they propagate the conflict to the caller."""


class TableCatalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------ internals
    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self._tdir(table), "manifest.json")

    def _load_manifest(self, table: str) -> dict:
        p = self._manifest_path(table)
        if not os.path.exists(p):
            return {"snapshot": 0, "files": [], "history": []}
        with open(p) as f:
            return json.load(f)

    @staticmethod
    def _version_of(m: dict) -> tuple[int, int]:
        # (snapshot, history length): history length catches same-snapshot
        # metadata commits (create) that a snapshot-only CAS would miss
        return (m["snapshot"], len(m["history"]))

    def _commit(
        self, table: str, manifest: dict, expect: tuple[int, int]
    ) -> None:
        """Atomically publish the manifest as a compare-and-swap against
        ``expect`` (the version the writer loaded), under a per-table file
        lock — the optimistic-concurrency commit Iceberg runs against its
        catalog: writers never block each other during data writes (the
        expensive part), and a lost race costs one metadata retry, not a
        data rewrite. Raises CommitConflict if another writer got there
        first."""
        import fcntl
        import time as _time

        os.makedirs(self._tdir(table), exist_ok=True)
        # commit-time stamp: every op appends exactly ONE history entry
        # before funneling through here, so the last entry is this commit's
        # and gets the wall time (TIMESTAMP AS OF resolution). Earlier
        # unstamped entries — a manifest written before stamping existed —
        # stay unstamped: honestly unresolvable by snapshot_as_of instead
        # of all acquiring today's time and resolving WRONG.
        hist = manifest.get("history", [])
        if hist:
            hist[-1].setdefault("ts", _time.time())
        lockp = os.path.join(self._tdir(table), ".commit.lock")
        with open(lockp, "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            cur = self._load_manifest(table)
            if self._version_of(cur) != expect:
                raise CommitConflict(
                    f"table {table!r}: expected version {expect}, found "
                    f"{self._version_of(cur)} — a concurrent commit won"
                )
            tmp = self._manifest_path(table) + ".tmp"
            with open(tmp, "w") as f:
                json.dump(manifest, f, indent=1)
            os.replace(tmp, self._manifest_path(table))

    def _write_data(
        self, table: str, df: DataFrame, snapshot: int
    ) -> tuple[list[str], int, dict]:
        """Write ``df`` as a new data dir; returns (files, rows, stats) with
        the row count summed from the footers the stats fold reads."""
        dirname = f"{snapshot:06d}-{uuid.uuid4().hex[:8]}"
        out = os.path.join(self._tdir(table), "data", dirname)
        df.write.mode("overwrite").parquet(out)
        rel = os.path.join("data", dirname)
        fstats = self._collect_file_stats(out, rel)
        return [rel], sum(s["rows"] for s in fstats.values()), fstats

    def _collect_file_stats(self, out_dir: str, rel_dir: str) -> dict:
        """Fold each written part-file's parquet footer into
        ``{rel_path: {"rows": n, "cols": {col: {"min","max","nulls"}}}}``.

        Driver-side and footer-only — the one moment the footers are read;
        every later scan prunes from the manifest without touching storage
        (Iceberg's manifest-stats contract, the core of its 100-TB scan
        planning). Columns whose stats are absent or unordered (nested,
        NaN-polluted floats) are simply omitted → never pruned on. An
        unreadable footer raises: the commit's row count would be short."""
        import pyarrow.parquet as pq

        stats: dict = {}
        for fn in sorted(os.listdir(out_dir)):
            if not fn.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(out_dir, fn)).metadata
            cols: dict = {}
            rows = md.num_rows
            for rg_i in range(md.num_row_groups):
                rg = md.row_group(rg_i)
                for c_i in range(rg.num_columns):
                    ch = rg.column(c_i)
                    name = ch.path_in_schema
                    if "." in name:  # nested leaf — ordering undefined here
                        cols[name] = None
                        continue
                    try:
                        st = ch.statistics
                        if st is None or not st.has_null_count:
                            cols[name] = None
                            continue
                        nulls = st.null_count
                        if st.has_min_max:
                            lo = self._json_stat(st.min)
                            hi = self._json_stat(st.max)
                        else:
                            lo = hi = None
                    except Exception:
                        # pyarrow can't extract stats for every physical
                        # type (e.g. INT96 timestamps) — such columns just
                        # never prune
                        cols[name] = None
                        continue
                    if (lo is None or hi is None) and nulls < ch.num_values:
                        # non-null values exist but no usable bounds
                        # (parquet num_values counts nulls too)
                        cols[name] = None
                        continue
                    # NaN poisons float ordering — drop bounds, keep nulls
                    if isinstance(lo, float) and lo != lo:
                        lo = hi = None
                    if isinstance(hi, float) and hi != hi:
                        lo = hi = None
                    prev = cols.get(name, {"min": None, "max": None, "nulls": 0})
                    if prev is None:
                        continue
                    cols[name] = {
                        "min": lo if prev["min"] is None
                        else (prev["min"] if lo is None else min(prev["min"], lo)),
                        "max": hi if prev["max"] is None
                        else (prev["max"] if hi is None else max(prev["max"], hi)),
                        "nulls": prev["nulls"] + nulls,
                    }
            stats[os.path.join(rel_dir, fn)] = {
                "rows": rows,
                "cols": {k: v for k, v in cols.items() if v is not None},
            }
        return stats

    @staticmethod
    def _json_stat(v):
        """Parquet footer min/max → JSON-storable, order-preserving value.
        datetime/date → ISO text (lexicographic == chronological for a fixed
        format); bytes → utf-8 text when decodable, else dropped."""
        if isinstance(v, bytes):
            try:
                return v.decode("utf-8")
            except UnicodeDecodeError:
                return None
        if hasattr(v, "isoformat"):
            # normalize to UTC-naive ISO so footer stats (tz-aware, parquet
            # isAdjustedToUTC) and predicate literals (naive, session tz is
            # UTC) land in one comparable text form
            if getattr(v, "tzinfo", None) is not None:
                from datetime import timezone

                v = v.astimezone(timezone.utc).replace(tzinfo=None)
            return v.isoformat()
        if isinstance(v, (bool, int, float, str)):
            return v
        # Decimal etc.: JSON round-trip or ordering isn't guaranteed — omit
        # the bound (the column simply never prunes) rather than risk a
        # wrong-way rounding that would skip a matching file.
        return None

    # ------------------------------------------------------------------ api
    def create(self, table: str, schema) -> bool:
        """CREATE TABLE IF NOT EXISTS with a declared StructType — the
        reference's ``Base.metadata.create_all`` DDL
        (/root/reference/src/processors/agency/buildings.py:51-52). Returns
        True if the table was created, False if it already existed. A
        declared schema makes ``read`` of an empty table return an empty
        DataFrame of that schema instead of raising."""
        m = self._load_manifest(table)
        if m.get("ddl") is not None or m["files"]:
            return False
        expect = self._version_of(m)
        m["ddl"] = schema.json()
        m["history"].append({"snapshot": m["snapshot"], "op": "create"})
        try:
            self._commit(table, m, expect)
        except CommitConflict:
            # concurrent writer won the race; IF NOT EXISTS semantics hold
            return False
        return True

    def schema_of(self, table: str, snapshot: int | None = None):
        """Table schema resolved purely from manifest metadata — the Iceberg
        contract (schema travels with snapshots, never parquet-footer
        merging, which at 100 TB means listing+reading every file footer).
        ``snapshot=N`` returns the schema as of that snapshot, so time travel
        reads pre-evolution data with its pre-evolution shape."""
        m = self._load_manifest(table)
        return self._schema_as_of(m, snapshot)

    def _schema_as_of(self, m: dict, snapshot: int | None = None):
        """Fold the per-commit write schemas into the table schema: columns
        union in first-seen order; a column added by a later append is
        nullable (older files lack it and read back as NULL — Iceberg's
        add-column rule). Type conflicts were rejected at write time."""
        from pyspark.sql import types as T

        fields: dict[str, T.StructField] = {}
        if m.get("ddl"):
            for f in T.StructType.fromJson(json.loads(m["ddl"])).fields:
                fields[f.name] = f
        for h in m["history"]:
            if snapshot is not None and h["snapshot"] > snapshot:
                break
            if "schema" not in h:
                continue
            if h["op"] == "stage":
                # staged rows are invisible; their schema joins the table
                # only when published (the publish entry repeats it)
                continue
            if h["op"] == "replace":
                fields = {}  # REPLACE TABLE may redefine the schema outright
            for f in T.StructType.fromJson(json.loads(h["schema"])).fields:
                if f.name not in fields:
                    # added after table creation → some files miss it → must
                    # be readable as NULL
                    nullable = f.nullable or bool(fields)
                    fields[f.name] = T.StructField(f.name, f.dataType, nullable)
                elif fields[f.name].nullable != f.nullable:
                    old = fields[f.name]
                    fields[f.name] = T.StructField(old.name, old.dataType, True)
        return T.StructType(list(fields.values())) if fields else None

    def _check_schema_compat(self, m: dict, schema, table: str) -> None:
        """Add-column evolution only: a written column that already exists
        must keep its exact dataType (Iceberg would also allow widening
        promotions; we keep the stricter rule so every file in a table is
        bit-compatible with the resolved read schema)."""
        cur = self._schema_as_of(m)
        if cur is None:
            return
        have = {f.name: f.dataType for f in cur.fields}
        for f in schema.fields:
            if f.name in have and f.dataType != have[f.name]:
                raise ValueError(
                    f"schema evolution on table {table!r} rejected: column "
                    f"{f.name!r} is {have[f.name].simpleString()} but the "
                    f"write has {f.dataType.simpleString()} — only adding "
                    "new columns is supported"
                )

    def append(
        self,
        table: str,
        df: DataFrame,
        cluster_by: list[str] | None = None,
        cluster_partitions: int | None = None,
        zorder_by: list[str] | None = None,
        zorder_bits: int = 16,
        staged: bool = False,
        extra: dict | None = None,
    ) -> int:
        """Append rows as a new snapshot; readers see them only after the
        manifest commit. Returns the new snapshot id.

        ``cluster_by=[cols]`` range-partitions and sorts the write on those
        columns (Iceberg's write-ordered/clustered table): each part file
        then covers a disjoint slice of the key space, so the manifest
        min/max stats prune point/range reads on those columns down to the
        files that can match. One extra shuffle at write time buys
        metadata-only scan planning on every later read.
        ``cluster_partitions`` fixes the file count (AQE otherwise coalesces
        small writes into one file, which defeats the point at test scale —
        at 100 TB you'd size it to ~targetFileSize per partition).

        ``staged=True`` is the write half of write-audit-publish (Iceberg's
        WAP pattern): the data is written and committed to HISTORY but not
        to the table's visible file list — readers never see it until
        ``publish_staged`` flips it in (or ``discard_staged`` drops it).
        Audit jobs read the pending rows via ``read_staged``. The gate for
        untrusted batches: a crawl wave is staged, validated, then
        published, and a bad wave never becomes visible at all."""
        m = self._load_manifest(table)
        self._check_schema_compat(m, df.schema, table)
        if zorder_by and cluster_by:
            raise ValueError("zorder_by and cluster_by are exclusive")
        if zorder_by:
            # multi-dimensional clustering (Delta OPTIMIZE ZORDER /
            # Iceberg sort-order parity): lexicographic cluster_by only
            # gives the LEADING column selective file stats; the
            # bit-interleaved key preserves locality in every listed
            # dimension, so min/max skipping has teeth on each of them.
            # Costs one min/max agg pass over df + the clustering shuffle.
            key = zorder_key(df, zorder_by, bits=zorder_bits)
            df = df.withColumn("_zkey", key)
            df = (
                df.repartitionByRange(
                    cluster_partitions or 8, "_zkey"
                )
                .sortWithinPartitions("_zkey")
                .drop("_zkey")
            )
        elif cluster_by:
            if cluster_partitions:
                df = df.repartitionByRange(cluster_partitions, *cluster_by)
            else:
                df = df.repartitionByRange(*cluster_by)
            df = df.sortWithinPartitions(*cluster_by)
        # data written once; only the metadata fold re-runs on a lost commit
        # race (concurrent appenders to one table are valid — each publishes
        # its own snapshot, CAS-ordered)
        new_files, n, fstats = self._write_data(table, df, m["snapshot"] + 1)
        schema_json = df.schema.json()
        for _ in range(100):
            expect = self._version_of(m)
            snap = m["snapshot"] + 1
            m["snapshot"] = snap
            if not staged:
                m["files"] = m["files"] + new_files
            entry = {
                "snapshot": snap,
                "op": "stage" if staged else "append",
                "rows": n,
                "added": new_files,
                "schema": schema_json,
                "file_stats": fstats,
            }
            if extra:
                # caller metadata (e.g. a streaming sink's batch_id) rides
                # the SAME commit — atomic with the append itself
                entry.update(extra)
            m["history"].append(entry)
            try:
                self._commit(table, m, expect)
                return snap
            except CommitConflict:
                m = self._load_manifest(table)
                self._check_schema_compat(m, df.schema, table)
        raise CommitConflict(
            f"table {table!r}: append lost 100 consecutive commit races"
        )

    def _staged_entry(self, m: dict, snapshot: int) -> dict:
        for h in m["history"]:
            if h["snapshot"] == snapshot and h["op"] == "stage":
                if h.get("resolved"):
                    raise ValueError(
                        f"staged snapshot {snapshot} was already "
                        f"{h['resolved']}"
                    )
                return h
        raise ValueError(f"no staged snapshot {snapshot}")

    def read_staged(self, table: str, snapshot: int) -> DataFrame:
        """The audit half of WAP: read exactly the rows a staged snapshot
        would add, without them being visible to normal readers."""
        m = self._load_manifest(table)
        h = self._staged_entry(m, snapshot)
        paths = [os.path.join(self._tdir(table), f) for f in h["added"]]
        from pyspark.sql import types as T

        return self.spark.read.schema(
            T.StructType.fromJson(json.loads(h["schema"]))
        ).parquet(*paths)

    def publish_staged(self, table: str, snapshot: int) -> int:
        """Flip a staged snapshot visible — pure metadata (the cheap half
        of WAP: the expensive data write already happened at stage time).
        Downstream incremental readers receive the rows at the PUBLISH
        snapshot, i.e. only after the audit passed."""
        m = self._load_manifest(table)
        expect = self._version_of(m)
        h = self._staged_entry(m, snapshot)
        # re-validate against the CURRENT visible schema: commits that
        # landed after staging (or sibling stages) may conflict — stage
        # entries are skipped by the schema fold precisely because they
        # are not yet part of the table's contract
        from pyspark.sql import types as T

        self._check_schema_compat(
            m, T.StructType.fromJson(json.loads(h["schema"])), table
        )
        snap = m["snapshot"] + 1
        m["snapshot"] = snap
        m["files"] = m["files"] + h["added"]
        h["resolved"] = "published"
        entry = {
            "snapshot": snap,
            "op": "append",
            "rows": h["rows"],
            "added": h["added"],
            "schema": h["schema"],
            "file_stats": h.get("file_stats", {}),
            "published_from": snapshot,
        }
        # the published snapshot stays self-describing: provenance rides
        # along from the stage entry
        for k in ("external", "lineage"):
            if k in h:
                entry[k] = h[k]
        m["history"].append(entry)
        self._commit(table, m, expect)
        return snap

    def discard_staged(self, table: str, snapshot: int) -> int:
        """Reject a staged snapshot: its rows never become visible and its
        files become vacuum-eligible (no retained snapshot references
        them). The audit-failed path — recorded in history, like every
        other decision. Returns the rejected row count."""
        m = self._load_manifest(table)
        expect = self._version_of(m)
        h = self._staged_entry(m, snapshot)
        h["resolved"] = "discarded"
        # the discard entry quantifies what was rejected — rows and the
        # stage's lineage ride along so audits can account for every
        # gated batch from history alone
        entry = {
            "snapshot": m["snapshot"],
            "op": "discard",
            "of": snapshot,
            "rows": h.get("rows", 0),
        }
        if "lineage" in h:
            entry["lineage"] = h["lineage"]
        m["history"].append(entry)
        self._commit(table, m, expect)
        return entry["rows"]

    def replace(self, table: str, df: DataFrame) -> int:
        """REPLACE TABLE semantics: new snapshot referencing only new files
        (old files stay on disk for time travel until vacuumed)."""
        m = self._load_manifest(table)
        expect = self._version_of(m)
        snap = m["snapshot"] + 1
        new_files, n, fstats = self._write_data(table, df, snap)
        m["snapshot"] = snap
        m["files"] = new_files
        m["history"].append(
            {
                "snapshot": snap,
                "op": "replace",
                "rows": n,
                "added": new_files,
                "schema": df.schema.json(),
                "file_stats": fstats,
            }
        )
        self._commit(table, m, expect)
        return snap

    def compact(self, table: str, partitions: int | None = None) -> int:
        """Rewrite the table's current files into ``partitions`` coalesced
        files as a new snapshot — Iceberg's ``rewrite_data_files``. The
        small-file antidote for append-heavy tables (every crawl wave /
        pipeline batch adds a file set; scan-planning cost grows with file
        count). Data-equivalent by construction: time travel to older
        snapshots still works (until vacuum) and ``read_changes`` skips
        compact entries — a consumer's delta is unaffected because row
        content never changed. Returns the new snapshot id."""
        m = self._load_manifest(table)
        expect = self._version_of(m)
        cur = self.read(table)
        if partitions:
            cur = cur.coalesce(partitions)
        snap = m["snapshot"] + 1
        new_files, n, fstats = self._write_data(table, cur, snap)
        m["snapshot"] = snap
        m["files"] = new_files
        m["history"].append(
            {
                "snapshot": snap,
                "op": "compact",
                "rows": n,
                "added": new_files,
                "schema": cur.schema.json(),
                "file_stats": fstats,
            }
        )
        self._commit(table, m, expect)
        return snap

    @staticmethod
    def _rows_per_dir(m: dict) -> dict[str, int]:
        """Per-data-dir row counts folded from manifest file stats —
        metadata-only row accounting shared by rollback/describe. First
        writer wins per part path (rollback re-references dirs without
        restating their stats)."""
        part_rows: dict[str, int] = {}
        for h in m["history"]:
            for p, ps in (h.get("file_stats") or {}).items():
                part_rows.setdefault(p, ps.get("rows", 0))
        per_dir: dict[str, int] = {}
        for p, r in part_rows.items():
            per_dir[os.path.dirname(p)] = per_dir.get(os.path.dirname(p), 0) + r
        return per_dir

    def _files_at(self, m: dict, snapshot: int) -> list[str]:
        """File list as of ``snapshot``, replayed from manifest history.

        Pure driver-side metadata fold over O(history) entries — the same way
        Iceberg resolves a snapshot's manifest list; never lists data dirs."""
        files: list[str] = []
        for h in m["history"]:
            if h["snapshot"] > snapshot:
                break
            op = h["op"]
            if op == "append":
                files = files + h.get("added", [])
            elif op == "merge":
                removed = set(h.get("removed", []))
                files = [f for f in files if f not in removed] + h.get(
                    "added", []
                )
            elif op in ("replace", "compact"):
                files = list(h.get("added", []))
        return files

    def merge_upsert(
        self, table: str, updates: DataFrame, keys: list[str]
    ) -> int:
        """Copy-on-write MERGE: rows of ``updates`` replace committed rows
        with the same key tuple; unmatched update rows are inserted
        (Iceberg's ``MERGE INTO … WHEN MATCHED UPDATE / NOT MATCHED
        INSERT``). The reference's re-crawl path needs exactly this —
        a listing fetched again overwrites its earlier fields
        (/root/reference/src/processors/agency/agency_base.py upsert-by-id
        loop) — and append+dedup cannot express it.

        Scale shape: the manifest min/max stats of the key columns select
        which committed file-dirs can possibly contain a matched key; ONLY
        those dirs are read and rewritten (one snapshot-dir = one commit's
        files — commit granularity, coarser than Iceberg's per-file rewrite
        but the same contract). Every other dir is carried into the new
        snapshot untouched: merge cost is O(overlapping dirs + updates),
        not O(table). Clustered appends (``cluster_by``) make the overlap
        test sharp. Time travel to pre-merge snapshots still sees the old
        rows (rewritten dirs stay on disk until ``vacuum``); incremental
        reads across a merge raise, as for ``replace`` — a merge rewrites
        history, it is not an append."""
        m = self._load_manifest(table)
        expect = self._version_of(m)
        self._check_schema_compat(m, updates.schema, table)
        cur_files = m["files"]
        # the updates frame is evaluated in three separate jobs (bounds
        # agg, isEmpty, final write) — pin it so a nondeterministic input
        # (sample, rand, reordered shuffle) cannot yield key bounds that
        # fail to cover the rows actually written, which would let the
        # stats-overlap prune skip a dir containing matched keys
        updates = updates.persist()
        try:
            return self._merge_upsert_pinned(
                table, updates, keys, m, expect, cur_files
            )
        finally:
            updates.unpersist()

    def _merge_upsert_pinned(
        self,
        table: str,
        updates: DataFrame,
        keys: list[str],
        m: dict,
        expect,
        cur_files: list[str],
    ) -> int:
        from pyspark.sql import functions as F

        # metadata overlap test: updates' global key ranges vs file stats
        aggs = []
        for k in keys:
            aggs += [F.min(k).alias(f"_lo_{k}"), F.max(k).alias(f"_hi_{k}")]
        bounds = updates.agg(*aggs).collect()[0].asDict()
        if all(v is None for v in bounds.values()) and updates.isEmpty():
            return m["snapshot"]  # nothing to merge
        overlap_where = []
        for k in keys:
            lo, hi = bounds[f"_lo_{k}"], bounds[f"_hi_{k}"]
            if lo is not None:
                overlap_where.append((k, ">=", lo))
            if hi is not None:
                overlap_where.append((k, "<=", hi))
        touched: list[str] = []
        for d in cur_files:
            kept_parts, _ = self._select_files(
                m, [d], overlap_where if overlap_where else None
            )
            if kept_parts:
                touched.append(d)
        untouched = [f for f in cur_files if f not in set(touched)]
        if touched:
            paths = [os.path.join(self._tdir(table), f) for f in touched]
            old = self.spark.read.schema(self._schema_as_of(m)).parquet(*paths)
            survivors = old.join(
                updates.select(*keys).distinct(), keys, "left_anti"
            )
            out = survivors.unionByName(
                updates, allowMissingColumns=True
            )
        else:
            out = updates
        snap = m["snapshot"] + 1
        new_files, n, fstats = self._write_data(table, out, snap)
        m["snapshot"] = snap
        m["files"] = untouched + new_files
        m["history"].append(
            {
                "snapshot": snap,
                "op": "merge",
                "rows": n,
                "added": new_files,
                "removed": touched,
                "schema": out.schema.json(),
                "file_stats": fstats,
            }
        )
        self._commit(table, m, expect)
        return snap

    # ------------------------------------------------- stats-based pruning
    @classmethod
    def _norm_pred_value(cls, v):
        """Predicate literals go through the same normalization as the
        stored stats so the two compare in one domain; a literal the stats
        domain can't represent normalizes to None, which every comparison
        treats as unknown → keep the file (the residual filter still applies
        the original literal exactly)."""
        if isinstance(v, (bytes, str, bool, int, float)) or v is None:
            return v if not isinstance(v, bytes) else cls._json_stat(v)
        return cls._json_stat(v)

    @classmethod
    def _part_may_match(cls, pstat: dict, schema_cols, col, op, val) -> bool:
        """True unless this part-file's manifest stats PROVE no row matches
        ``col op val``. Unknown stats always keep the file — pruning is an
        optimization, never a filter."""
        rows = pstat.get("rows")
        if schema_cols is not None and col not in schema_cols:
            # file written before the column was added → reads as all-NULL
            st = {"min": None, "max": None, "nulls": rows}
        else:
            st = pstat.get("cols", {}).get(col)
        if st is None or rows is None:
            return True
        lo, hi, nulls = st["min"], st["max"], st["nulls"]
        if op == "is_null":
            return nulls > 0
        if op == "is_not_null":
            return nulls < rows
        if lo is None or hi is None:
            # bounds absent in a kept entry ⇒ every row-group was all-NULL
            # (partial-bounds entries are dropped at collect time), and NULL
            # never satisfies a comparison
            return False
        try:
            if op in ("=", "=="):
                return lo <= val <= hi
            if op == "in":
                return any(lo <= cls._norm_pred_value(x) <= hi for x in val)
            if op == "<":
                return lo < val
            if op == "<=":
                return lo <= val
            if op == ">":
                return hi > val
            if op == ">=":
                return hi >= val
        except TypeError:
            return True  # incomparable literal/stat types: keep
        return True

    def _select_files(
        self, m: dict, files: list[str], where
    ) -> tuple[list[str], dict]:
        """Resolve the dir-level file list into concrete scan paths, pruning
        part-files whose manifest stats refute ``where`` (a conjunct list of
        ``(col, op, value)``). Metadata-only: O(parts) driver work over the
        manifest, zero storage reads — at 10^10 URLs the scan plan is built
        without opening a single footer. Returns (paths, report)."""
        by_dir: dict[str, dict] = {}
        for h in m["history"]:
            for d in h.get("added", []):
                # first writer wins: a rollback re-references earlier dirs
                # without stats; the original entry carries them
                by_dir.setdefault(d, h)
        norm = []
        for conj in where or []:
            c, op, v = conj if len(conj) == 3 else (*conj, None)
            norm.append((c, op, self._norm_pred_value(v) if op != "in" else v))
        paths, kept, total, unpruned = [], 0, 0, 0
        for d in files:
            h = by_dir.get(d)
            fstats = (h or {}).get("file_stats") or {}
            parts = {p: s for p, s in fstats.items()
                     if os.path.dirname(p) == d}
            if not norm or not parts:
                # no predicate, or a pre-stats manifest entry: whole dir
                paths.append(d)
                n = len(parts) or 1
                total += n
                kept += n
                if not parts:
                    unpruned += 1
                continue
            schema_cols = None
            if h is not None and "schema" in h:
                schema_cols = {
                    f["name"] for f in json.loads(h["schema"])["fields"]
                }
            for p, pstat in sorted(parts.items()):
                total += 1
                if all(
                    self._part_may_match(pstat, schema_cols, c, op, v)
                    for c, op, v in norm
                ):
                    kept += 1
                    paths.append(p)
        report = {
            "parts_total": total,
            "parts_kept": kept,
            "dirs_without_stats": unpruned,
        }
        return paths, report

    @staticmethod
    def _residual_filter(df: DataFrame, where) -> DataFrame:
        """Apply ``where`` exactly — pruning only skipped files that cannot
        match; surviving files still carry non-matching rows."""
        from pyspark.sql import functions as F

        for conj in where or []:
            c, op, v = conj if len(conj) == 3 else (*conj, None)
            col = F.col(c)
            if op in ("=", "=="):
                df = df.filter(col == v)
            elif op == "<":
                df = df.filter(col < v)
            elif op == "<=":
                df = df.filter(col <= v)
            elif op == ">":
                df = df.filter(col > v)
            elif op == ">=":
                df = df.filter(col >= v)
            elif op == "in":
                df = df.filter(col.isin(list(v)))
            elif op == "is_null":
                df = df.filter(col.isNull())
            elif op == "is_not_null":
                df = df.filter(col.isNotNull())
            else:
                raise ValueError(f"unsupported predicate op {op!r}")
        return df

    def scan_report(
        self, table: str, where, snapshot: int | None = None
    ) -> dict:
        """Planning-only dry run of ``read(..., where=...)``: how many part
        files the manifest stats keep vs prune. Observability for the same
        decision the read path makes (and the hook tests pin)."""
        m = self._load_manifest(table)
        files = m["files"] if snapshot is None else self._files_at(m, snapshot)
        _, report = self._select_files(m, files, where)
        return report

    def snapshot_as_of(self, table: str, ts) -> int:
        """Snapshot id current at wall time ``ts`` (unix seconds or ISO
        string) — Iceberg's ``TIMESTAMP AS OF`` resolution, from the
        commit stamps in the manifest. Raises if the table has no commit
        at or before ``ts``."""
        if isinstance(ts, str):
            from datetime import datetime, timezone

            dt = datetime.fromisoformat(ts)
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
            ts = dt.timestamp()
        best = None
        for h in self._load_manifest(table)["history"]:
            if h.get("ts") is not None and h["ts"] <= ts:
                best = h["snapshot"]
        if best is None:
            raise ValueError(
                f"table {table!r} has no commit at or before {ts}"
            )
        return best

    def read(
        self,
        table: str,
        snapshot: int | None = None,
        where=None,
        as_of=None,
    ) -> DataFrame:
        """Current-snapshot read, or time travel with ``snapshot=N`` (the
        Iceberg ``VERSION AS OF`` contract) or ``as_of=<unix seconds |
        ISO timestamp>`` (``TIMESTAMP AS OF``, resolved from commit
        stamps). Time travel only sees snapshots
        whose files survive — ``vacuum`` expires non-current ones.

        ``where=[(col, op, value), ...]`` (ops ``= < <= > >= in is_null
        is_not_null``, AND-ed) prunes part-files via manifest min/max stats
        before Spark plans the scan, then applies the same predicate to the
        surviving rows — identical results to ``read().filter(...)``, minus
        the files that provably cannot match."""
        if as_of is not None:
            if snapshot is not None:
                raise ValueError("pass snapshot= or as_of=, not both")
            snapshot = self.snapshot_as_of(table, as_of)
        m = self._load_manifest(table)
        files = m["files"] if snapshot is None else self._files_at(m, snapshot)
        return self._scan(table, m, files, snapshot, where)

    def _scan(
        self,
        table: str,
        m: dict,
        files: list[str],
        snapshot: int | None,
        where,
    ) -> DataFrame:
        """Scan behind ``read`` and ``read_changes``: prune ``files`` by
        manifest stats, read the survivors with the schema as of
        ``snapshot`` (older files read later-added columns as NULL; no
        mergeSchema footer listing), then apply ``where`` exactly. No
        surviving file → a typed empty frame."""
        schema = self._schema_as_of(m, snapshot)
        if schema is None:
            raise FileNotFoundError(
                f"table {table} has no committed snapshot"
                + (f" at version {snapshot}" if snapshot is not None else "")
            )
        rel_paths, _ = self._select_files(m, files, where)
        if rel_paths:
            df = self.spark.read.schema(schema).parquet(
                *[os.path.join(self._tdir(table), f) for f in rel_paths]
            )
        else:
            df = self.spark.createDataFrame([], schema)
        return self._residual_filter(df, where)

    def read_changes(
        self,
        table: str,
        since: int,
        until: int | None = None,
        where=None,
    ) -> DataFrame:
        """Incremental scan: rows appended in snapshots (since, until].

        The CDC-style downstream contract (Iceberg's incremental read): a
        consumer that has processed up to snapshot S re-reads only the files
        added after S — O(delta), not O(table). A ``replace`` inside the
        range invalidates append-only semantics and raises; a ``compact``
        is data-equivalent (same rows, fewer files) and is skipped — its
        pre-compaction append files remain readable until ``vacuum``."""
        m = self._load_manifest(table)
        hi = m["snapshot"] if until is None else until
        added: list[str] = []
        for h in m["history"]:
            if since < h["snapshot"] <= hi:
                if h["op"] in ("replace", "merge"):
                    raise ValueError(
                        f"table {table} was {h['op']}d at snapshot "
                        f"{h['snapshot']}; incremental read since {since} "
                        "is not append-only — restart from a full read"
                    )
                if h["op"] != "append":
                    # compact is data-equivalent; stage is not yet visible
                    # (its rows arrive as the later publish-append);
                    # discard/create add nothing
                    continue
                added += h.get("added", [])
        return self._scan(table, m, added, until, where)

    def rollback(self, table: str, snapshot: int) -> int:
        """Restore the table to ``snapshot``'s state as a NEW commit
        (Iceberg's ``rollback_to_snapshot``): the bad-batch undo. Pure
        metadata — the old snapshot's file list and schema are re-published
        under a new version; no data moves, the bad snapshots' files simply
        stop being referenced (and expire at the next ``vacuum``). History
        is append-only: the rollback itself is recorded, so lineage shows
        both the mistake and the undo. Downstream incremental consumers see
        it as a history rewrite (their ``read_changes`` raises) and rebuild,
        exactly as for ``merge``/``replace``."""
        m = self._load_manifest(table)
        expect = self._version_of(m)
        if snapshot > m["snapshot"]:
            raise ValueError(
                f"table {table!r} has no snapshot {snapshot} to roll back to"
            )
        files = self._files_at(m, snapshot)
        schema = self._schema_as_of(m, snapshot)
        snap = m["snapshot"] + 1
        m["snapshot"] = snap
        m["files"] = files
        entry = {
            "snapshot": snap,
            "op": "replace",  # downstream semantics of a history rewrite
            "rolled_back_to": snapshot,
            "added": files,
        }
        # row count from the referenced files' manifest stats — metadata
        # only; omitted if any referenced dir predates stats collection
        per_dir = self._rows_per_dir(m)
        if all(d in per_dir for d in files):
            entry["rows"] = sum(per_dir[d] for d in files)
        if schema is not None:
            entry["schema"] = schema.json()
        m["history"].append(entry)
        self._commit(table, m, expect)
        return snap

    def add_files(
        self,
        table: str,
        src_dir: str,
        lineage: dict | None = None,
        mode: str = "append",
    ) -> int:
        """Iceberg's ``add_files`` procedure: commit an externally-written
        parquet directory into the table as an append snapshot — METADATA
        ONLY, zero data copied or moved. This is how bulk producers (the
        crawl engine's per-wave ``listings/wave=N/`` directories) publish
        into the catalog without paying a second write of the data: the
        commit cost is one footer pass for stats + one manifest CAS,
        independent of data size.

        Semantics mirrored from Iceberg:
        - duplicate-import guard (``check_duplicate_files``): a directory
          already referenced by any live history entry is rejected, so a
          crashed-and-replayed publisher cannot double the rows;
        - imported files are *referenced, not owned*: they live outside the
          table's ``data/`` root, so ``vacuum`` never deletes them — the
          producer keeps ownership of its files;
        - full citizens otherwise: footer stats are folded into the manifest
          (reads prune them like native files), the write schema joins the
          evolution fold, ``read_changes`` delivers them as a normal append
          delta, time travel and rollback see them as one snapshot.

        ``lineage`` (e.g. the crawl wave's per-partition watermark/row
        metrics) is recorded verbatim on the snapshot entry.

        ``mode="replace"`` publishes the directory as the table's ENTIRE new
        state (REPLACE TABLE semantics, still metadata-only) — the shape for
        full-state-per-version producers like the crawl's per-wave seen-set
        checkpoints: the current snapshot references the latest wave's
        directory, and time travel reads the seen-set *as of* any wave.

        ``mode="stage"`` imports the directory as a WAP staged snapshot:
        invisible to readers until ``publish_staged`` (or dropped by
        ``discard_staged``) — the audit gate for imported batches, e.g.
        crawl waves validated before exposure.
        """
        if mode not in ("append", "replace", "stage"):
            raise ValueError(f"add_files: unknown mode {mode!r}")
        src = os.path.abspath(src_dir)
        if not os.path.isdir(src):
            raise FileNotFoundError(f"add_files: no such directory {src!r}")
        if not has_parquet_parts(src):
            # a schema-less import would poison every later read; callers
            # with legitimately-empty batches should skip the commit
            raise ValueError(
                f"add_files: {src!r} contains no parquet part files"
            )
        ext = self.spark.read.parquet(src)
        fstats = self._collect_file_stats(src, src)
        rows = sum(s["rows"] for s in fstats.values())
        m = self._load_manifest(table)
        for _ in range(100):
            if mode != "replace":  # replace may redefine the schema outright
                self._check_schema_compat(m, ext.schema, table)
            if any(src in h.get("added", []) for h in m["history"]):
                raise ValueError(
                    f"add_files: {src!r} is already imported into table "
                    f"{table!r} (duplicate-file guard)"
                )
            expect = self._version_of(m)
            snap = m["snapshot"] + 1
            m["snapshot"] = snap
            if mode == "append":
                m["files"] = m["files"] + [src]
            elif mode == "replace":
                m["files"] = [src]
            # stage: the visible file list is untouched
            entry = {
                "snapshot": snap,
                "op": mode,
                "rows": rows,
                "added": [src],
                "schema": ext.schema.json(),
                "file_stats": fstats,
                "external": True,
            }
            if lineage:
                entry["lineage"] = lineage
            m["history"].append(entry)
            try:
                self._commit(table, m, expect)
                return snap
            except CommitConflict:
                m = self._load_manifest(table)
        raise CommitConflict(
            f"table {table!r}: add_files lost 100 consecutive commit races"
        )

    def tag(self, table: str, name: str, snapshot: int | None = None) -> int:
        """Name a snapshot (Iceberg tag / ``VERSION AS OF 'name'``): a
        durable pointer for reproducibility — "the corpus train run X used"
        is a tag, immune to later appends. Defaults to the current
        snapshot. Tagged snapshots' files survive ``vacuum`` regardless of
        the retention window (a tag is a retention pin)."""
        m = self._load_manifest(table)
        expect = self._version_of(m)
        snap = m["snapshot"] if snapshot is None else snapshot
        if snap > m["snapshot"]:
            raise ValueError(f"table {table!r} has no snapshot {snap} to tag")
        refs = m.setdefault("refs", {})
        if name in refs:
            raise ValueError(
                f"tag {name!r} already points at snapshot {refs[name]} — "
                "tags are immutable; pick a new name"
            )
        refs[name] = snap
        m["history"].append(
            {"snapshot": m["snapshot"], "op": "tag", "name": name, "at": snap}
        )
        self._commit(table, m, expect)
        return snap

    def read_tag(self, table: str, name: str, where=None) -> DataFrame:
        m = self._load_manifest(table)
        refs = m.get("refs", {})
        if name not in refs:
            raise FileNotFoundError(f"table {table!r} has no tag {name!r}")
        return self.read(table, snapshot=refs[name], where=where)

    def describe(self, table: str) -> dict:
        """Metadata-only table summary (no data reads): current snapshot,
        live row count folded from snapshot lineage, live file/dir counts,
        external vs owned split, pending staged snapshots, tags, and the
        resolved schema — the DESCRIBE TABLE a catalog user expects."""
        m = self._load_manifest(table)
        per_dir = self._rows_per_dir(m)
        live = m["files"]
        live_set = set(live)
        rows = (
            sum(per_dir[d] for d in live)
            if all(d in per_dir for d in live)
            else None  # a pre-stats dir: exact count needs a read
        )
        schema = self._schema_as_of(m)
        n_files = len(
            {
                p
                for h in m["history"]
                for p in (h.get("file_stats") or {})
                if os.path.dirname(p) in live_set
            }
        )
        return {
            "snapshot": m["snapshot"],
            "rows": rows,
            "data_dirs": len(live),
            "files": n_files,
            "external_dirs": sum(1 for d in live if os.path.isabs(d)),
            "pending_staged": [
                h["snapshot"]
                for h in m["history"]
                if h["op"] == "stage" and not h.get("resolved")
            ],
            "tags": dict(m.get("refs", {})),
            "schema": schema.simpleString() if schema is not None else None,
        }

    def history(self, table: str) -> list[dict]:
        return self._load_manifest(table)["history"]

    def current_snapshot(self, table: str) -> int:
        return self._load_manifest(table)["snapshot"]

    def vacuum(
        self, table: str, retain_last: int = 1, orphan_age_s: float = 86_400
    ) -> int:
        """Delete owned data dirs not referenced by any of the last
        ``retain_last`` snapshots — Iceberg's ``expire_snapshots(
        retain_last=N)`` trade: reclaims space, expires time travel to the
        removed snapshots, keeps it for the retained window.

        Dirs that appear in NO history entry at all are orphans — either a
        writer that crashed between its data write and its manifest commit,
        or a concurrent appender whose data is written but whose CAS commit
        hasn't landed yet. Those two are indistinguishable from metadata, so
        (like Iceberg's ``remove_orphan_files`` ``older_than`` guard) an
        orphan is only deleted once its directory mtime is older than
        ``orphan_age_s`` — a live appender's minutes-old dir survives.
        External (``add_files``-imported) directories are referenced, not
        owned — never touched.

        The keep-set is computed and the deletes performed under the same
        per-table ``.commit.lock`` the CAS commits use — otherwise a
        concurrent rollback/tag could re-reference a pre-retention dir
        between the manifest read and the rmtree, leaving the table
        pointing at deleted files (appends are already protected by the
        orphan age guard; history rewrites are not). Writers only hold
        that lock for the metadata swap, never during data writes, so
        vacuum blocks commits only for its own O(dirs) delete pass."""
        import fcntl
        import shutil
        import time

        os.makedirs(self._tdir(table), exist_ok=True)
        lockp = os.path.join(self._tdir(table), ".commit.lock")
        with open(lockp, "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            return self._vacuum_locked(table, retain_last, orphan_age_s)

    def _vacuum_locked(
        self, table: str, retain_last: int, orphan_age_s: float
    ) -> int:
        import shutil
        import time

        m = self._load_manifest(table)
        keep: set[str] = set()
        lo = m["snapshot"] - max(1, retain_last) + 1
        for s in range(lo, m["snapshot"] + 1):
            keep |= {os.path.basename(f) for f in self._files_at(m, s)}
        # an unresolved staged snapshot's files are pending an audit
        # decision — not expired, must survive
        for h in m["history"]:
            if h["op"] == "stage" and not h.get("resolved"):
                keep |= {os.path.basename(f) for f in h.get("added", [])}
        # tags pin their snapshots' files past the retention window
        for s in (m.get("refs") or {}).values():
            keep |= {os.path.basename(f) for f in self._files_at(m, s)}
        known = {
            os.path.basename(f)
            for h in m["history"]
            for f in h.get("added", [])
        }
        data_root = os.path.join(self._tdir(table), "data")
        removed = 0
        if os.path.isdir(data_root):
            now = time.time()
            for d in os.listdir(data_root):
                if d in keep:
                    continue
                p = os.path.join(data_root, d)
                if d not in known:  # orphan: age-guarded
                    try:
                        if now - os.path.getmtime(p) < orphan_age_s:
                            continue
                    except OSError:
                        continue
                shutil.rmtree(p)
                removed += 1
        return removed


class IncrementalConsumer:
    """Durable CDC-style consumer over a catalog table's append stream.

    The downstream half of ``TableCatalog.read_changes``: a named consumer
    polls the delta since its committed cursor, processes it, then commits
    the new cursor. Until ``commit`` the cursor does not move, so a consumer
    that crashes mid-processing re-polls the same delta (at-least-once; pair
    with an idempotent sink — e.g. the star pipeline's PK anti-join — for
    exactly-once effect). Cursors are one JSON file per consumer inside the
    catalog root, committed tmp+rename like the table manifests.

    Scale: each poll reads only the files appended after the cursor —
    O(delta), never O(table) — so a consumer lagging N snapshots behind
    catches up by reading exactly those N snapshots' files.
    """

    def __init__(self, catalog: TableCatalog, name: str):
        self.catalog = catalog
        self.path = os.path.join(catalog.root, f"_consumer_{name}.json")

    def _cursors(self) -> dict:
        if not os.path.exists(self.path):
            return {}
        with open(self.path) as f:
            return json.load(f)

    def cursor(self, table: str) -> int:
        return int(self._cursors().get(table, 0))

    def poll(self, table: str) -> tuple[DataFrame, int]:
        """(delta rows since the committed cursor, head snapshot to commit
        after processing). The head is pinned at poll time: appends landing
        while the delta is processed stay for the next poll."""
        head = self.catalog.current_snapshot(table)
        return (
            self.catalog.read_changes(table, since=self.cursor(table), until=head),
            head,
        )

    def commit(self, table: str, snapshot: int) -> None:
        cur = self._cursors()
        cur[table] = int(snapshot)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cur, f, indent=1)
        os.replace(tmp, self.path)
