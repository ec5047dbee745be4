"""The crawl engine: an iterative, resumable, politeness-budgeted wave loop.

Generalizes the reference's two-wave pipeline
(/root/reference/src/orchestrators/agency.py:48-102: seed scan → estate wave
→ building wave, flush-and-clear per 100-id partition) to depth-K waves over
a Common-Crawl-style pages table. One wave =

    frontier ──anti-join seen──► unseen
           ──robots ⋈ + per-host rank-and-cut──► scheduled | backlog
    scheduled ──join pages on url_canon──► fetched        ("fetch" = corpus
    fetched ──vectorized extract UDF──► listings (+ outlinks)       lookup)
    seen ∪= scheduled;  frontier' = dedup(backlog ∪ outlinks) \\ seen
    checkpoint: frontier/seen/listings + atomic manifest (resume point)

Scale notes (the 1000-executor story):
- the only driver-side loop is over *waves* (bounded by crawl depth), never
  over rows; every arrow above is a single distributed DataFrame op.
- per-wave state is checkpointed to parquet and re-read, cutting logical-plan
  lineage so wave N's plan does not embed waves 0..N-1.
- the frontier/seen shuffles key on url_hash (uniform); only the politeness
  window keys on host (Zipf) — that window is rank-only (no global sort) and
  AQE skew-join handling is enabled session-wide.
- fetch is an equi-join on url_canon; at 10^10 rows both sides shuffle
  co-partitioned, or the wave side broadcasts when small (Catalyst decides;
  AQE re-plans at runtime).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..datagen.pages import EPOCH0
from ..extract.vectorized import extract_df
from ..functions.urls import with_url_columns
from .checkpoint import Manifest, WaveLineage, read_manifest, write_manifest
from .scheduler import schedule_wave
from .seen import BloomSeenSet, CuckooSeenSet, ExactSeenSet

FRONTIER_COLS = [
    "url_canon",
    "host",
    "url_hash",
    "bucket",
    "priority",
    "discovered_ts",
    "depth",
    "attempt",
]

DISCOVERED_PRIORITY = 2  # outlinks rank below explicit seeds by default
# waves up to this many scheduled URLs broadcast into the fetch join;
# larger ones take a plain shuffled join
BROADCAST_FETCH_MAX = 4_000_000


@dataclass
class CrawlResult:
    checkpoint_dir: str
    waves_run: int
    n_extracted: int
    n_seen: int

    def listings(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.checkpoint_dir, "listings"))

    def schedule_log(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.checkpoint_dir, "schedule"))

    def soft404(self, spark: SparkSession) -> DataFrame:
        """url_canons convicted by the soft-404 probe signatures as of
        the LAST completed wave (soft404_guard=True; empty otherwise)."""
        import glob

        dirs = sorted(
            glob.glob(os.path.join(self.checkpoint_dir, "soft404_v*")),
            key=lambda p: int(p.rsplit("_v", 1)[1]),
        )
        if not dirs:
            return spark.createDataFrame([], "url_canon string")
        return spark.read.parquet(dirs[-1])


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        robots: DataFrame | None,
        checkpoint_dir: str,
        seen_mode: str = "exact",
        n_buckets: int = 256,
        bloom_bits: int = 1 << 20,
        cuckoo_rows: int = 1 << 14,
        wave_ms: int = 1_000,
        max_depth: int = 3,
        verbose: bool = False,
        max_attempts: int = 1,
        politeness_salt: int = 0,
        rank_priorities: bool = False,
        rank_iterations: int = 5,
        rank_bands: int = 4,
        rank_method: str = "pagerank",
        trap_guard: bool = False,
        trap_thresholds: dict | None = None,
        mirror_guard: bool = False,
        mirror_thresholds: dict | None = None,
        dust_guard: bool = False,
        dust_thresholds: dict | None = None,
        soft404_guard: bool = False,
        focus_terms: list[str] | None = None,
        focus_params: dict | None = None,
        scope: str = "open",
        scope_rules: dict | None = None,
        blocklist=None,
    ):
        # Trap guard (operators/traps.py): per wave, fetched pages land in
        # an accumulated (url_canon, digest) capture log; hosts whose URL
        # space looks pathological (duplicate content behind URL variants,
        # cyclic paths, param blowup) are dropped from the NEXT frontier —
        # already-extracted rows are kept (they are real content; the trap
        # only stops the frontier from chasing the host's infinite tail).
        # Resume-safe like edges/: per-wave overwritten dirs.
        self.trap_guard = trap_guard
        self.trap_thresholds = dict(trap_thresholds or {})
        # unknown keys fail HERE, not mid-crawl after a wave's work is done
        _allowed = {
            "min_urls",
            "max_urls_per_content",
            "max_avg_depth",
            "max_repeat_seg_share",
            "max_avg_params",
        }
        unknown = set(self.trap_thresholds) - _allowed
        if unknown:
            raise TypeError(
                f"unknown trap_thresholds keys: {sorted(unknown)}"
            )
        # Mirror guard (operators/mirrors.py): over the SAME accumulated
        # capture log as the trap guard, hosts whose informative digest
        # set is contained in a larger host's (containment ≥ threshold)
        # are dropped from the NEXT frontier — politeness budget stops
        # flowing to republished copies of a site already being crawled.
        # Already-extracted rows are kept, like the trap guard.
        self.mirror_guard = mirror_guard
        self.mirror_thresholds = dict(mirror_thresholds or {})
        _m_allowed = {"min_shared", "min_containment", "max_digest_df"}
        m_unknown = set(self.mirror_thresholds) - _m_allowed
        if m_unknown:
            raise TypeError(
                f"unknown mirror_thresholds keys: {sorted(m_unknown)}"
            )
        self.mirror_thresholds.setdefault("min_shared", 5)
        self.mirror_thresholds.setdefault("min_containment", 0.9)
        self.mirror_thresholds.setdefault("max_digest_df", 64)
        # DUST guard (operators/dust.py): over the SAME accumulated
        # capture log, per-host rewrite rules (irrelevant params,
        # /index.html suffixes, scheme folds) are learned each wave and
        # applied to freshly discovered outlinks BEFORE canonicalization
        # and the seen-set probe — predicted duplicates collapse onto
        # their canonical form and are never scheduled, so the politeness
        # budget stops paying for session-id/sort-param URL aliases.
        self.dust_guard = dust_guard
        self.dust_thresholds = dict(dust_thresholds or {})
        d_unknown = set(self.dust_thresholds) - {
            "min_support",
            "min_precision",
        }
        if d_unknown:
            raise TypeError(
                f"unknown dust_thresholds keys: {sorted(d_unknown)}"
            )
        # Soft-404 guard (operators/soft404.py): every newly-seen frontier
        # host gets ONE deterministic cannot-exist probe URL scheduled as
        # an ordinary frontier row; a host that answers it 200 has its
        # probe digest recorded as an error signature, and captures
        # matching it are convicted — their outlinks never enter the
        # frontier (error pages link to boilerplate nav) and the per-wave
        # soft404_v{wave} snapshot lets consumers drop the junk listings.
        # Engine-side conviction is PROBE-ONLY (precise); the vocabulary+
        # dominance heuristic stays an offline/archive-side tool.
        self.soft404_guard = soft404_guard
        # Link-graph prioritization (operators/linkgraph.py): after each
        # wave, the extracted outlink edges are appended to a per-wave
        # checkpointed edge log, PageRank runs over the accumulated graph,
        # and the next frontier's priorities are rewritten from the rank
        # bands. Opt-in — it adds rank_iterations bounded jobs per wave —
        # and resume-safe: edges live next to the other wave state, so a
        # resumed crawl reranks from the identical graph.
        self.rank_priorities = rank_priorities
        self.rank_iterations = rank_iterations
        self.rank_bands = rank_bands
        # "pagerank" recomputes over the ACCUMULATED edge log each wave
        # (rank_iterations full-graph passes — the quality option);
        # "opic" advances persistent cash/history state from THIS wave's
        # edges only (O(wave) — the rank a 10^10-URL frontier can afford
        # to refresh every wave). State is checkpointed per wave
        # (opic_v{wave}, overwrite = crash-idempotent), so a resumed
        # crawl replays the identical deterministic recurrence.
        if rank_method not in ("pagerank", "opic"):
            raise TypeError(
                f"rank_method must be 'pagerank' or 'opic', got"
                f" {rank_method!r}"
            )
        self.rank_method = rank_method
        # Focused crawling (operators/focus.py, shark-search): every
        # discovered outlink is scored from its anchor text + parent
        # relevance against the lexicon; per-wave score snapshots
        # accumulate (max-potential per URL — resume-safe overwritten
        # dirs like edges/) and the next frontier's priorities band by
        # potential. Mutually exclusive with rank_priorities: both
        # rewrite the same priority column, and silently composing them
        # would let whichever runs last win.
        self.focus_terms = list(focus_terms or [])
        self.focus_params = dict(focus_params or {})
        f_unknown = set(self.focus_params) - {"beta", "gamma", "delta"}
        if f_unknown:
            raise TypeError(
                f"unknown focus_params keys: {sorted(f_unknown)}"
            )
        if self.focus_terms and rank_priorities:
            raise TypeError(
                "focus_terms and rank_priorities both rewrite frontier"
                " priorities — enable one"
            )
        # Crawl scope (frontier/scope.py, the Heritrix decide-rule
        # subset): discovered outlinks outside the declared scope are
        # rejected BEFORE the seen-set probe and the scheduler — they
        # never consume seen-set state or politeness budget. Seeds are
        # in scope by definition (operator-chosen) and exempt.
        from .scope import SCOPE_MODES

        if scope not in SCOPE_MODES:
            raise TypeError(
                f"scope must be one of {SCOPE_MODES}, got {scope!r}"
            )
        self.scope_mode = scope
        self.scope_rules = dict(scope_rules or {})
        # Domain blocklist (frontier/scope.py blocklist_filter): a
        # (domain, category) DataFrame; discovered outlinks whose host
        # has ANY listed dot-suffix are dropped before they enter the
        # frontier. No broadcast hint — AQE sizes the list (UT1-scale
        # lists sit at the broadcast boundary).
        self.blocklist = blocklist
        s_unknown = set(self.scope_rules) - {
            "exclude_patterns",
            "max_path_segments",
        }
        if s_unknown:
            raise TypeError(
                f"unknown scope_rules keys: {sorted(s_unknown)}"
            )
        # >1 → two-phase rank-and-cut (scheduler.schedule_wave): bounds the
        # hot-host politeness sort to salt×budget rows per host at 10^10.
        self.politeness_salt = politeness_salt
        self.verbose = verbose
        # Row-level fetch retry (reference: 3 tries w/ backoff,
        # /root/reference/src/crawlers/base.py:16-45). A scheduled url whose
        # fetch misses is re-enqueued with attempt+1 instead of being marked
        # seen, until max_attempts; 1 = no retry (every scheduled url is
        # final, fetched or dead).
        self.max_attempts = max_attempts
        self.spark = spark
        self.robots = robots
        self.dir = checkpoint_dir
        self.seen_mode = seen_mode
        self.n_buckets = n_buckets
        self.bloom_bits = bloom_bits
        self.cuckoo_rows = cuckoo_rows
        self.wave_ms = wave_ms
        self.max_depth = max_depth
        # Derive join keys for the corpus once; html stays column-pruned out
        # of every stage except extraction (check ReadSchema in the plan).
        # The focus scorer additionally needs the page text (the parent-
        # relevance signal) — carried only when focus is on, so unfocused
        # crawls keep the narrower ReadSchema.
        self.pages = with_url_columns(pages, n_buckets=n_buckets).select(
            "url_canon", "warc_ts", "html", "lang",
            *(["text"] if self.focus_terms else []),
        )

    # ---------------------------------------------------------------- state
    def _seen_params(self) -> dict:
        return {
            "n_buckets": self.n_buckets,
            "bloom_bits": self.bloom_bits,
            "cuckoo_rows": self.cuckoo_rows,
        }

    def _check_resume(self, m: Manifest) -> None:
        """A resumed crawl must read its checkpointed seen-set the way it
        was written: the mode picks the state format, and ``bucket`` =
        f(url_hash, n_buckets) plus the filter size pick the bits a URL
        maps to — a mismatch would report seen URLs as unseen."""
        was = {"seen_mode": m.seen_mode, **(m.seen_params or {})}
        now = {"seen_mode": self.seen_mode, **self._seen_params()}
        diff = {k: (was[k], now[k]) for k in was if was[k] != now[k]}
        if diff:
            raise ValueError(
                f"crawl checkpoint {self.dir} was written with different "
                f"seen-set settings (checkpoint, engine): {diff}"
            )

    def _new_seen(self):
        if self.seen_mode == "bloom":
            return BloomSeenSet(
                self.spark, None, self.n_buckets, self.bloom_bits
            )
        if self.seen_mode == "cuckoo":
            return CuckooSeenSet(
                self.spark, None, self.n_buckets, self.cuckoo_rows
            )
        return ExactSeenSet(self.spark)

    def _restore_seen(self, path: str):
        if self.seen_mode == "bloom":
            return BloomSeenSet.restore(
                self.spark, path, self.n_buckets, self.bloom_bits, 7
            )
        if self.seen_mode == "cuckoo":
            return CuckooSeenSet.restore(
                self.spark, path, self.n_buckets, self.cuckoo_rows
            )
        return ExactSeenSet.restore(self.spark, path)

    def _seed_frontier(self, seeds: DataFrame) -> DataFrame:
        return (
            with_url_columns(seeds, n_buckets=self.n_buckets)
            .withColumn("discovered_ts", F.timestamp_seconds(F.lit(EPOCH0)))
            .withColumn("depth", F.lit(0))
            .withColumn("attempt", F.lit(0))
            .select(*FRONTIER_COLS)
        )

    @staticmethod
    def _dedup_frontier(frontier: DataFrame) -> DataFrame:
        """One row per url_hash, keeping the best (priority, ts, url, depth)
        entry — deterministic under any partitioning. The attempt counter is
        the MAX over all merged entries: when a dead url pending retry
        (attempt>=1) is rediscovered via outlinks (attempt=0), the winning
        entry keeps the retry count, so max_attempts bounds TOTAL fetches of
        a url, not just consecutive ones (the simulator mirrors this merge)."""
        # min(struct(ordering..., payload...)) per url_hash picks the same
        # row a rank-1 window would (struct comparison = the lexicographic
        # orderBy; attempt desc encoded as -attempt) but runs as a hash
        # aggregate with map-side partial min — no per-partition sort, and
        # one row per key crosses the shuffle instead of every duplicate.
        best = F.min(
            F.struct(
                F.col("priority"),
                F.col("discovered_ts"),
                F.col("url_canon"),
                F.col("depth"),
                (-F.col("attempt")).alias("neg_attempt"),
                F.col("host"),
                F.col("bucket"),
            )
        ).alias("_b")
        agg = frontier.groupBy("url_hash").agg(best, F.max("attempt").alias("_att"))
        return agg.select(
            F.col("_b")["url_canon"].alias("url_canon"),
            F.col("_b")["host"].alias("host"),
            F.col("url_hash"),
            F.col("_b")["bucket"].alias("bucket"),
            F.col("_b")["priority"].alias("priority"),
            F.col("_b")["discovered_ts"].alias("discovered_ts"),
            F.col("_b")["depth"].alias("depth"),
            F.col("_att").alias("attempt"),
        ).select(*FRONTIER_COLS)

    # ----------------------------------------------------------------- run
    def run(self, seeds: DataFrame, max_waves: int = 10) -> CrawlResult:
        """Run (or resume) the crawl until the frontier drains or max_waves.

        Resume: if a committed manifest exists in the checkpoint dir, state is
        loaded from it and the loop continues at the next wave — re-running
        after a crash never double-extracts a committed wave.
        """
        m = read_manifest(self.dir)
        if m is not None:
            self._check_resume(m)
        # Scope sets derive from the seed list (tiny by construction) —
        # computed once per run; resume passes the same seeds, so a
        # resumed crawl filters by the identical scope.
        scope_seeds = (
            with_url_columns(seeds, n_buckets=self.n_buckets)
            if (self.scope_mode != "open")
            else None
        )
        if m is None:
            frontier = self._dedup_frontier(self._seed_frontier(seeds))
            seen = self._new_seen()
            start_wave, total_extracted = 0, 0
            waves_done: list[int] = []
        else:
            # State files are versioned per wave: a lazy plan for wave N+1
            # reads wave N's files while writing wave N+1's — never the same
            # path (Spark cannot safely overwrite a path it is reading).
            frontier = self.spark.read.parquet(
                os.path.join(self.dir, f"frontier_v{m.wave}")
            )
            seen = self._restore_seen(os.path.join(self.dir, f"seen_v{m.wave}"))
            start_wave = m.wave + 1
            total_extracted = m.n_extracted
            waves_done = list(m.waves_done)

        def tick(label: str, t0: float) -> float:
            now = time.perf_counter()
            if self.verbose:
                print(f"    [crawl w{wave}] {label}: {now - t0:.2f}s", flush=True)
            return now

        wave = start_wave - 1
        for wave in range(start_wave, start_wave + max_waves):
            t = time.perf_counter()
            unseen = seen.filter_unseen(frontier)
            sched = schedule_wave(
                unseen, self.robots, self.wave_ms,
                salt_buckets=self.politeness_salt,
            ).persist()
            wave_rows = sched.filter(F.col("scheduled"))

            # Schedule log — the deterministic ordering evidence. Written
            # partition-parallel; the order is carried by (wave, host,
            # host_rank), never by file layout. The wave size is observed
            # DURING this write (one action computes the schedule into
            # cache, writes the log, and counts) instead of a separate
            # count job.
            # wave=N subdir + overwrite: a wave that crashed before its
            # manifest commit is REWRITTEN on resume, not appended twice —
            # the dir name carries the wave column (hive partition read).
            obs = Observation()
            (
                wave_rows.observe(obs, F.count(F.lit(1)).alias("n"))
                .select("host", "host_rank", "url_canon")
                .write.mode("overwrite")
                .parquet(os.path.join(self.dir, "schedule", f"wave={wave}"))
            )
            n_sched = int(obs.get["n"])
            t = tick(f"schedule+log write+count ({n_sched})", t)
            if n_sched == 0:
                sched.unpersist()
                wave -= 1
                break

            # "Fetch": equi-join of the wave against the corpus. The wave is
            # bounded by the politeness budget (hosts × budget/wave), so it is
            # almost always the small side: broadcast it and the corpus scan
            # stays map-local — html bytes NEVER shuffle, at any corpus size.
            # (Fallback for a pathologically large wave: plain shuffled join,
            # AQE picks the strategy.)
            wave_sel = wave_rows.select("url_canon", "host", "priority", "depth")
            if n_sched <= BROADCAST_FETCH_MAX:
                fetched = self.pages.join(
                    F.broadcast(wave_sel), "url_canon", "inner"
                )
            else:
                fetched = wave_sel.join(self.pages, "url_canon", "inner")

            extracted = extract_df(fetched).withColumn("wave", F.lit(wave))
            listings = extracted.select(
                "url_canon",
                "host",
                "lang",
                "warc_ts",
                "wave",
                "depth",
                "extracted_text",
                "price",
                "address",
                "floor_area",
                "transaction_date",
                F.size("outlinks").alias("n_outlinks"),
                "outlinks",
            ).persist()
            # The wave=N partition directory encodes the wave; keeping the
            # column in the files too would duplicate it on read. Overwrite
            # (not append): resuming a wave that crashed after this write
            # but before the manifest commit replaces the dir instead of
            # doubling its rows — exactly-once per wave survives a crash at
            # ANY point, and catalog imports of the dir stay duplicate-free.
            listings.drop("outlinks", "wave").write.mode("overwrite").parquet(
                os.path.join(self.dir, "listings", f"wave={wave}")
            )
            t = tick("fetch+extract+listings write", t)

            # Per-partition lineage: (partition_id, watermark, rows_emitted).
            lineage_rows = (
                listings.groupBy(F.spark_partition_id().alias("pid"))
                .agg(
                    F.max("warc_ts").alias("wm"),
                    F.count(F.lit(1)).alias("rows"),
                )
                .collect()
            )
            n_extracted = int(sum(r["rows"] for r in lineage_rows))
            total_extracted += n_extracted
            t = tick("lineage collect", t)

            if (
                self.trap_guard
                or self.mirror_guard
                or self.dust_guard
                or self.soft404_guard
            ):
                # per-wave capture log shared by all three guards: the
                # content identity is the extracted text (NULL-extract
                # pages fold into one class — a trap host serving empty
                # shells still counts as one content); overwrite =
                # crash-idempotent. Written BEFORE the frontier is built
                # so the DUST guard can rewrite THIS wave's outlinks from
                # rules its own captures already validate.
                (
                    listings.select(
                        "url_canon",
                        F.coalesce(
                            F.md5("extracted_text"), F.lit("null")
                        ).alias("digest"),
                    )
                    .write.mode("overwrite")
                    .parquet(
                        os.path.join(self.dir, "captures", f"wave={wave}")
                    )
                )
                captures = self.spark.read.parquet(
                    os.path.join(self.dir, "captures")
                )
                t = tick("captures write", t)

            # Seen-set update + retry sub-frontier. Fast path (no retry):
            # everything scheduled is final — fetched or dead. With retries,
            # a fetch miss re-enqueues with attempt+1 until max_attempts,
            # and only fetched or given-up urls become seen.
            retry = None
            if self.max_attempts <= 1:
                seen.add(wave_rows.select("bucket", "url_hash"))
            else:
                fetched_keys = listings.select("url_canon")
                hit = wave_rows.join(fetched_keys, "url_canon", "left_semi")
                missed = wave_rows.join(fetched_keys, "url_canon", "left_anti")
                given_up = missed.filter(
                    F.col("attempt") + 1 >= self.max_attempts
                )
                retry = (
                    missed.filter(F.col("attempt") + 1 < self.max_attempts)
                    .withColumn("attempt", F.col("attempt") + 1)
                    .select(*FRONTIER_COLS)
                )
                seen.add(
                    hit.select("bucket", "url_hash").unionByName(
                        given_up.select("bucket", "url_hash")
                    )
                )
            t = tick("seen add", t)

            # Checkpoint the seen-set BEFORE building the next frontier:
            # the add() above is a lazy plan (union+distinct / cogroup
            # merge), and both the checkpoint write and the frontier's
            # anti-join consume the updated state. Materializing it first
            # computes the merge ONCE and lets the frontier filter scan the
            # flat checkpoint parquet instead of re-running the merge
            # inside its own job. The write also observes the set size for
            # the manifest — no separate count job.
            n_seen = seen.checkpoint(os.path.join(self.dir, f"seen_v{wave}"))
            t = tick("seen checkpoint", t)

            # Frontier for the next wave: politeness backlog ∪ fresh outlinks
            # (∪ retry sub-frontier).
            backlog = sched.filter(~F.col("scheduled")).select(*FRONTIER_COLS)
            if retry is not None:
                backlog = backlog.unionByName(retry)
            outlink_src = listings
            if self.soft404_guard:
                from ..functions.urls import url_host as _uhost
                from ..operators.soft404 import soft404_signatures

                # convict against ALL probes issued so far (a crash-replay
                # may additionally see THIS wave's registry dir, but its
                # probes have no captures yet so the signature set — and
                # the flagging — replays identically); convicted pages
                # contribute no outlinks this wave
                probes_root = os.path.join(self.dir, "probes")
                flagged = None
                if os.path.isdir(probes_root):
                    # the folded 'null' digest class (extraction failed)
                    # must not convict: a host whose probe answer is
                    # itself unextractable would otherwise mass-convict
                    # every unrelated extraction failure on that host —
                    # same reasoning as the mirror and DUST guards below
                    sigs = soft404_signatures(
                        captures,
                        self.spark.read.parquet(probes_root),
                        url_col="url_canon",
                    ).filter(F.col("digest") != "null")
                    flagged = (
                        captures.withColumn(
                            "host", _uhost(F.col("url_canon"))
                        )
                        .join(sigs, ["host", "digest"])
                        .select("url_canon")
                        .distinct()
                    )
                (
                    flagged
                    if flagged is not None
                    else self.spark.createDataFrame(
                        [], "url_canon string"
                    )
                ).write.mode("overwrite").parquet(
                    os.path.join(self.dir, f"soft404_v{wave}")
                )
                if flagged is not None:
                    flagged = self.spark.read.parquet(
                        os.path.join(self.dir, f"soft404_v{wave}")
                    )
                    outlink_src = listings.join(
                        flagged, "url_canon", "left_anti"
                    )
                t = tick("soft404 flag", t)
            outlinks = (
                outlink_src.filter(F.col("depth") < self.max_depth)
                .select(
                    F.explode("outlinks").alias("url"),
                    F.col("warc_ts").alias("discovered_ts"),
                    (F.col("depth") + 1).alias("depth"),
                )
                .withColumn("priority", F.lit(DISCOVERED_PRIORITY))
                .withColumn("attempt", F.lit(0))
            )
            if self.dust_guard:
                from ..operators.dust import dust_apply, dust_rules

                # rules over the accumulated informative captures (the
                # folded 'null' class must not validate rewrites, same
                # reasoning as the mirror guard); the valid-rule table
                # joins host-keyed inside dust_apply (AQE broadcasts it
                # while small) and the rewrite is pure codegen
                rules = dust_rules(
                    captures.filter(F.col("digest") != "null"),
                    url_col="url_canon",
                    digest_col="digest",
                    **self.dust_thresholds,
                )
                outlinks = (
                    dust_apply(outlinks, rules, out_col="_dust")
                    .withColumn("url", F.col("_dust"))
                    .drop("_dust")
                )
                t = tick("dust rewrite", t)
            out_frontier = with_url_columns(
                outlinks, n_buckets=self.n_buckets
            ).select(*FRONTIER_COLS)
            if self.scope_mode != "open" or self.scope_rules:
                from .scope import scope_filter

                out_frontier = scope_filter(
                    out_frontier,
                    scope_seeds,
                    mode=self.scope_mode,
                    **self.scope_rules,
                ).select(*FRONTIER_COLS)
                t = tick("scope filter", t)
            if self.blocklist is not None:
                # Domain blocklist (scope.py blocklist_filter): discovered
                # outlinks on listed domains (any depth, subdomains
                # inherited) never enter the frontier. Seeds are exempt
                # like scope — operator-chosen.
                from .scope import blocklist_filter

                out_frontier = blocklist_filter(
                    out_frontier, self.blocklist
                ).select(*FRONTIER_COLS)
                t = tick("blocklist", t)
            frontier = self._dedup_frontier(backlog.unionByName(out_frontier))
            frontier = seen.filter_unseen(frontier)

            if self.rank_priorities:
                from ..operators.linkgraph import pagerank, rank_to_priority

                # per-wave edge log (src = fetched page, dst = canonical
                # outlink); overwrite per wave dir = crash-idempotent like
                # listings/. Ranks are recomputed over the ACCUMULATED
                # graph, so late-discovered hubs rise across waves.
                (
                    with_url_columns(
                        listings.select(
                            F.col("url_canon").alias("src"),
                            F.explode("outlinks").alias("url"),
                        ),
                        n_buckets=self.n_buckets,
                    )
                    .select("src", F.col("url_canon").alias("dst"))
                    .write.mode("overwrite")
                    .parquet(os.path.join(self.dir, "edges", f"wave={wave}"))
                )
                if self.rank_method == "opic":
                    from ..operators.linkgraph import (
                        opic_importance,
                        opic_init,
                        opic_step,
                    )

                    # O(wave) state advance: only THIS wave's edges and
                    # fetches touch the state; the accumulated edge log
                    # is never rescanned. First ranked wave initializes
                    # uniform cash over the wave's own node set —
                    # opic_step discovers later nodes at (0, 0).
                    wave_edges = self.spark.read.parquet(
                        os.path.join(self.dir, "edges", f"wave={wave}")
                    )
                    fetched = listings.select(
                        F.col("url_canon").alias("node")
                    )
                    prev = os.path.join(self.dir, f"opic_v{wave - 1}")
                    if os.path.isdir(prev):
                        state = self.spark.read.parquet(prev)
                    else:
                        state = opic_init(
                            fetched.union(
                                wave_edges.select(
                                    F.col("src").alias("node")
                                )
                            )
                            .union(
                                wave_edges.select(F.col("dst").alias("node"))
                            )
                            .distinct()
                        )
                    spath = os.path.join(self.dir, f"opic_v{wave}")
                    opic_step(state, fetched, wave_edges).write.mode(
                        "overwrite"
                    ).parquet(spath)
                    ranks = opic_importance(
                        self.spark.read.parquet(spath)
                    ).select("node", F.col("importance").alias("rank"))
                else:
                    all_edges = self.spark.read.parquet(
                        os.path.join(self.dir, "edges")
                    )
                    ranks = pagerank(
                        all_edges, iterations=self.rank_iterations
                    )
                frontier = rank_to_priority(
                    frontier,
                    ranks,
                    n_bands=self.rank_bands,
                    base_priority=DISCOVERED_PRIORITY,
                ).select(*FRONTIER_COLS)
                t = tick("link-graph rerank", t)

            if self.focus_terms:
                from ..operators.focus import shark_outlink_scores
                from ..operators.linkgraph import rank_to_priority

                # Score THIS wave's outlinks from the fetched pages
                # (recomputes only the bounded broadcast fetch join —
                # no Arrow extraction in this branch) and accumulate
                # per-wave snapshots; the frontier is banded over the
                # max potential seen for each URL so backlog rows keep
                # the score their discovery wave earned. Keyed on the
                # frontier's own canonical form. Scores are written
                # BEFORE DUST rewriting ever touches hrefs — a
                # rewritten alias simply lands in the worst band until
                # its canonical target is scored (documented).
                wave_scores = with_url_columns(
                    shark_outlink_scores(
                        fetched, self.focus_terms, **self.focus_params
                    ),
                    n_buckets=self.n_buckets,
                ).select(
                    F.col("url_canon").alias("node"),
                    F.col("potential").alias("rank"),
                )
                wave_scores.write.mode("overwrite").parquet(
                    os.path.join(self.dir, "focus", f"wave={wave}")
                )
                acc = (
                    self.spark.read.parquet(os.path.join(self.dir, "focus"))
                    .groupBy("node")
                    .agg(F.max("rank").alias("rank"))
                )
                frontier = rank_to_priority(
                    frontier,
                    acc,
                    n_bands=self.rank_bands,
                    base_priority=DISCOVERED_PRIORITY,
                ).select(*FRONTIER_COLS)
                t = tick("focus rerank", t)

            if self.trap_guard:
                from ..operators.traps import (
                    flag_trap_hosts,
                    host_trap_signals,
                )

                suspects = (
                    flag_trap_hosts(
                        host_trap_signals(
                            captures,
                            url_col="url_canon",
                            digest_col="digest",
                        ),
                        **self.trap_thresholds,
                    )
                    .filter(F.col("is_trap_suspect"))
                    .select("host")
                )
                # suspects are a handful of hosts: broadcast anti-join, the
                # frontier never reshuffles
                frontier = frontier.join(
                    F.broadcast(suspects), "host", "left_anti"
                )
                t = tick("trap guard", t)

            if self.mirror_guard:
                from ..functions.urls import url_host
                from ..operators.mirrors import (
                    mirror_host_pairs,
                    suppressed_hosts,
                )

                # the trap guard's folded 'null' class (all NULL-extract
                # pages share one literal digest) is a per-host signal,
                # not content identity — two unrelated hosts each serving
                # an unextractable page must not count as sharing a page,
                # so the mirror branch drops that class before the sets
                losers = suppressed_hosts(
                    mirror_host_pairs(
                        captures.filter(F.col("digest") != "null").select(
                            url_host(F.col("url_canon")).alias("host"),
                            "digest",
                        ),
                        **self.mirror_thresholds,
                    )
                )
                # same shape as the trap guard: a handful of flagged
                # hosts broadcast into a left_anti — no frontier shuffle
                frontier = frontier.join(
                    F.broadcast(losers), "host", "left_anti"
                )
                t = tick("mirror guard", t)

            if self.soft404_guard:
                from ..operators.soft404 import probe_urls

                # one probe per newly-seen frontier host, scheduled as an
                # ordinary top-priority frontier row. The registry read
                # excludes THIS wave's dir (a crash between the registry
                # write and the manifest commit must not suppress the
                # replayed wave's own probes); injected after the guards
                # so trapped/mirrored hosts are never probed.
                probes_root = os.path.join(self.dir, "probes")
                # probe each host on the scheme it was discovered under
                # (max folds mixed-scheme hosts to https) — an http probe
                # against an https-only host matches no corpus row and
                # the guard would be silently inert for that host
                fhosts = frontier.select(
                    "host",
                    F.regexp_extract(
                        F.col("url_canon"), "^([a-z][a-z0-9+.-]*)://", 1
                    ).alias("scheme"),
                ).distinct()
                if os.path.isdir(probes_root):
                    issued = self.spark.read.parquet(probes_root)
                    if "wave" in issued.columns:
                        issued = issued.filter(F.col("wave") < wave)
                    fhosts = fhosts.join(
                        issued.select("host").distinct(),
                        "host",
                        "left_anti",
                    )
                pdir = os.path.join(probes_root, f"wave={wave}")
                probe_urls(fhosts, scheme_col="scheme").write.mode(
                    "overwrite"
                ).parquet(pdir)
                probe_front = with_url_columns(
                    self.spark.read.parquet(pdir)
                    .select(F.col("probe_url").alias("url"))
                    .withColumn(
                        "discovered_ts", F.timestamp_seconds(F.lit(0))
                    )
                    .withColumn("depth", F.lit(0))
                    .withColumn("priority", F.lit(0))
                    .withColumn("attempt", F.lit(0)),
                    n_buckets=self.n_buckets,
                ).select(*FRONTIER_COLS)
                frontier = frontier.unionByName(probe_front)
                t = tick("soft404 probes", t)

            # ---- checkpoint commit (manifest last → atomic resume point).
            # Frontier size is observed during the write — the manifest
            # needs no count job over the freshly written files.
            fpath = os.path.join(self.dir, f"frontier_v{wave}")
            fobs = Observation()
            frontier.observe(fobs, F.count(F.lit(1)).alias("n")).write.mode(
                "overwrite"
            ).parquet(fpath)
            frontier_size = int(fobs.get["n"])
            frontier = self.spark.read.parquet(fpath)
            t = tick("frontier dedup+write", t)
            waves_done.append(wave)
            write_manifest(
                self.dir,
                Manifest(
                    wave=wave,
                    seen_mode=self.seen_mode,
                    n_scheduled=n_sched,
                    n_extracted=total_extracted,
                    frontier_size=frontier_size,
                    seen_count=n_seen,
                    lineage=[
                        vars(
                            WaveLineage(
                                int(r["pid"]),
                                r["wm"].isoformat() if r["wm"] else None,
                                int(r["rows"]),
                            )
                        )
                        for r in lineage_rows
                    ],
                    waves_done=waves_done,
                    seen_params=self._seen_params(),
                ),
            )
            listings.unpersist()
            sched.unpersist()
            t = tick("manifest", t)

        final = read_manifest(self.dir)
        return CrawlResult(
            checkpoint_dir=self.dir,
            waves_run=(final.wave + 1) if final else 0,
            n_extracted=total_extracted,
            n_seen=final.seen_count if final else 0,
        )
