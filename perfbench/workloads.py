"""The benchmark's workloads.

Each workload is a closed loop with one client: the Spark driver process issues
one public call, waits for it, then issues the next. A *pass* is the unit
that repeats until the run's seconds are used up:

- crawl workloads: one ``CrawlEngine.run`` from a fresh checkpoint dir;
- ``catalog-upsert``: one round on a fresh copy of the base table —
  ``merge_upsert`` of a recrawl delta, ``append`` of a new wave, predicate
  ``read(where=…)`` calls and one ``read_changes``.

Inputs come from ``--seed`` (seed URLs, update keys, read predicates); the
page corpus itself is deterministic and cached under the work dir.
Correctness gates run after each pass, outside every timer.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from dataclasses import dataclass, field, replace
from datetime import datetime, timedelta

import numpy as np

from .harness import (
    Cost,
    Span,
    StepLines,
    Tracer,
    WorkDir,
    dir_bytes,
    median,
    tree_cpu_s,
)

STEP_LABELS = {
    "sched": "schedule+log write+count",
    "fetch": "fetch+extract+listings write",
    "lineage": "lineage collect",
    "seen_add": "seen add",
    "seen_ckpt": "seen checkpoint",
    "frontier": "frontier dedup+write",
    "manifest": "manifest",
}


@dataclass
class Gate:
    name: str
    ok: bool
    detail: str = ""


@dataclass
class Pass:
    """What one pass measured: its span, op timings and counters."""

    span: Span
    seconds: float
    ops: int
    read_s: list[float] = field(default_factory=list)
    wave_s: list[float] = field(default_factory=list)
    wave_cpu_s: list[float] = field(default_factory=list)
    wave_urls: list[int] = field(default_factory=list)  # scheduled per wave
    rows: int = 0  # URLs seen (crawl) / URL rows written (catalog)
    cpu_s: float = 0.0  # CPU seconds of the Spark driver, JVM and Python workers
    disk_bytes: int = 0
    live_rows: int = 0
    extra: dict = field(default_factory=dict)


def pass_metrics(passes: list[Pass]) -> dict:
    """Figures over a run's timed passes: CPU-second based ones (the
    Spark driver, the JVM and the Python workers) and their wall-clock
    counterparts (``wall.*``)."""
    wall = sum(p.seconds for p in passes)
    cpu = sum(p.cpu_s for p in passes)
    rows = sum(p.rows for p in passes)
    ops = sum(p.ops for p in passes)
    return {
        "pass_cpu_s": median(p.cpu_s for p in passes),
        "urls_per_cpu_s": rows / cpu,
        "wave_cpu_s_p50": median(w for p in passes for w in p.wave_cpu_s),
        "ops_per_cpu_s": ops / cpu,
        "disk_bytes_per_row": median(p.disk_bytes / max(1, p.live_rows) for p in passes),
        "wall.run_s": median(p.seconds for p in passes),
        "wall.urls_per_s": rows / wall,
        "wall.wave_s_p50": median(w for p in passes for w in p.wave_s),
        "wall.ops_per_s": ops / wall,
    }


def cached_parquet(work: WorkDir, key: str, build, cost: Cost) -> str:
    """Materialise ``build()`` once under the cache, charging the work to
    ``cost``; return the path."""
    path = os.path.join(work.cache, key)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    with cost.measure():
        tmp = f"{path}.tmp{os.getpid()}"
        build().write.mode("overwrite").parquet(tmp)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    return path


class Workload:
    """What a run needs from a workload: ``bind`` (inputs for a session),
    ``run_pass``, ``check`` and the ``scale_*`` pair of the traced run."""

    def warmup(self, spark, tracer: Tracer) -> None:
        """One pass on the small inputs (same knobs, same plan shapes),
        then bind the full inputs."""
        self.bind(spark, warm=True)
        with tracer.span("warmup"):
            self.run_pass(spark, tracer, -1)
        self.bind(spark)


# ====================================================================== crawl
@dataclass(frozen=True)
class CrawlSpec:
    n_pages: int
    n_hosts: int
    n_seeds: int
    filler_listings: int
    dead_link_every: int
    seen_mode: str
    n_buckets: int
    wave_ms: int
    max_waves: int
    max_depth: int
    max_attempts: int
    simulate: bool  # check against frontier.simulator once per invocation

    def warm(self) -> "CrawlSpec":
        """The warm-up pass: same knobs, so the same plan shapes, at a
        32nd of the corpus."""
        return replace(
            self,
            n_pages=max(1_000, self.n_pages // 32),
            n_seeds=max(50, self.n_seeds // 32),
            simulate=False,
        )


class CrawlWorkload(Workload):
    kind = "crawl"

    def __init__(self, name: str, spec: CrawlSpec, work: WorkDir, seed: int):
        self.name, self.spec, self.work, self.seed = name, spec, work, seed
        self.gen = Cost()  # input generation, excluded from set-up
        self.simulated = False

    # -------------------------------------------------------------- inputs
    def _corpus_key(self, spec: CrawlSpec) -> str:
        return (
            f"pages-n{spec.n_pages}-h{spec.n_hosts}-f{spec.filler_listings}"
            f"-d{spec.dead_link_every}"
        )

    def bind(self, spark, warm: bool = False) -> None:
        """(Re)build every DataFrame for ``spark``; generates the corpus on
        a cache miss."""
        from pyspark.sql import functions as F

        from hk_housing_datahub_spark.datagen import generate_pages, generate_robots
        from hk_housing_datahub_spark.datagen.pages import url_for_page
        from hk_housing_datahub_spark.functions.urls import with_url_columns

        spec = self.spec.warm() if warm else self.spec
        path = cached_parquet(
            self.work,
            self._corpus_key(spec),
            lambda: generate_pages(
                spark,
                spec.n_pages,
                n_hosts=spec.n_hosts,
                filler_listings=spec.filler_listings,
                dead_link_every=spec.dead_link_every,
            ),
            self.gen,
        )
        self.active = spec
        self.pages_dir = path
        self.pages = spark.read.parquet(path)
        self.robots = generate_robots(spark, n_hosts=spec.n_hosts)
        rng = np.random.default_rng([self.seed, int(warm)])
        ids = rng.choice(spec.n_pages, size=spec.n_seeds, replace=False)
        prio = rng.integers(0, 3, size=spec.n_seeds)
        self.seeds = spark.createDataFrame(
            [(int(i), int(p)) for i, p in zip(ids, prio)], "id long, priority int"
        ).select(
            url_for_page(F.col("id"), spec.n_hosts).alias("url"), "priority"
        )
        self.seed_list = [(r.url, r.priority) for r in self.seeds.collect()]
        self.seed_urls = [u for u, _ in self.seed_list]
        self.truth = with_url_columns(self.pages).select(
            "url_canon", "text", F.lit(True).alias("_in_corpus")
        )

    # ---------------------------------------------------------------- pass
    def run_pass(self, spark, tracer: Tracer, index: int) -> Pass:
        from hk_housing_datahub_spark.frontier import CrawlEngine

        spec = self.active
        ck = self.work.path(f"crawl-{index}")
        shutil.rmtree(ck, ignore_errors=True)
        eng = CrawlEngine(
            spark,
            self.pages,
            self.robots,
            ck,
            seen_mode=spec.seen_mode,
            n_buckets=spec.n_buckets,
            wave_ms=spec.wave_ms,
            max_depth=spec.max_depth,
            max_attempts=spec.max_attempts,
            verbose=True,
        )
        cpu0 = tree_cpu_s()
        with tracer.span("pass", index=index) as ps:
            steps = StepLines(tracer, ps)
            with contextlib.redirect_stdout(steps):
                res = eng.run(self.seeds, max_waves=spec.max_waves)
        cpu_s = tree_cpu_s() - cpu0
        waves: dict[int, list[float]] = {}  # wave -> [wall, cpu, scheduled]
        committed = set()
        for st in tracer.children(ps.id):
            w = waves.setdefault(st.attrs["wave"], [0.0, 0.0, 0])
            w[0] += st.dur
            w[1] += st.attrs["cpu_s"]
            w[2] += st.attrs.get("n", 0)
            if st.name == STEP_LABELS["manifest"]:
                committed.add(st.attrs["wave"])
        wave_s, wave_cpu_s, wave_urls = (
            [waves[w][i] for w in sorted(committed)] for i in range(3)
        )
        return Pass(
            span=ps,
            seconds=ps.dur,
            ops=len(wave_s),
            cpu_s=cpu_s,
            wave_s=wave_s,
            wave_cpu_s=wave_cpu_s,
            wave_urls=wave_urls,
            rows=res.n_seen,
            disk_bytes=dir_bytes(ck),
            live_rows=res.n_seen,
            extra={"result": res, "ckpt": ck},
        )

    @staticmethod
    def scale_rate(passes: list[Pass]) -> float:
        """URLs per wall second of the first wave: the rate the local[1]
        pass is held against."""
        return median(p.wave_urls[0] / p.wave_s[0] for p in passes)

    def scale_pass(self, spark, tracer: Tracer, index: int) -> Pass:
        """The first wave only: a whole crawl on one core would outlast the
        run's time limit."""
        full = self.active
        self.active = replace(full, max_waves=1)
        try:
            return self.run_pass(spark, tracer, index)
        finally:
            self.active = full

    # --------------------------------------------------------------- gates
    def check(self, spark, p: Pass) -> list[Gate]:
        from pyspark.sql import functions as F

        res = p.extra["result"]
        spec = self.active
        listings = res.listings(spark).select("url_canon", "extracted_text")
        row = (
            listings.join(self.truth, "url_canon", "left")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.countDistinct("url_canon").alias("urls"),
                F.sum(
                    F.when(
                        F.col("_in_corpus").isNull()
                        | ~F.col("extracted_text").eqNullSafe(F.col("text")),
                        1,
                    ).otherwise(0)
                ).alias("mismatch"),
            )
            .first()
        )
        mismatch = int(row["mismatch"] or 0)
        gates = [
            Gate(
                "extract_byte_identical",
                mismatch == 0
                and row["rows"] == row["urls"] == res.n_extracted,
                f"mismatch={mismatch} rows={row['rows']} urls={row['urls']}"
                f" n_extracted={res.n_extracted}",
            )
        ]
        dup = (
            res.schedule_log(spark)
            .groupBy("url_canon")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .join(
                listings.select("url_canon", F.lit(1).alias("_fetched")),
                "url_canon",
                "left",
            )
            .agg(
                F.count(F.lit(1)).alias("urls"),
                F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).alias("retries"),
                F.coalesce(F.max("n"), F.lit(0)).alias("max_n"),
                F.coalesce(F.sum("_fetched"), F.lit(0)).alias("fetched"),
            )
            .first()
        )
        # a URL may reappear only as a retry of a fetch miss
        gates.append(
            Gate(
                "no_url_scheduled_twice",
                dup["fetched"] == 0 and dup["max_n"] <= spec.max_attempts,
                f"repeated={dup['urls']} fetched_repeats={dup['fetched']}"
                f" max_times={dup['max_n']}",
            )
        )
        p.extra["retry_rows"] = int(dup["retries"])
        p.extra["mismatch"] = mismatch
        if spec.simulate and not self.simulated:
            self.simulated = True
            gates.append(self._simulator_gate(spark, p))
        return gates

    def _simulator_gate(self, spark, p: Pass) -> Gate:
        """Schedule log and seen-set size against the sequential simulator
        on the same inputs. Only pages the engine scheduled are handed to
        the simulator: a page it would schedule and the engine did not
        changes its schedule, so the comparison still catches it."""
        from pyspark.sql import functions as F

        from hk_housing_datahub_spark.frontier.simulator import simulate_crawl
        from hk_housing_datahub_spark.functions.urls import with_url_columns

        spec, res = self.active, p.extra["result"]
        got = [
            (r.wave, r.host, r.host_rank, r.url_canon)
            for r in res.schedule_log(spark)
            .orderBy("wave", "host", "host_rank")
            .collect()
        ]
        canons = spark.createDataFrame(
            [(u,) for u in {g[3] for g in got}], "url_canon string"
        )
        rows = [
            {"url": r.url, "warc_ts": r.warc_ts, "html": bytes(r.html), "lang": r.lang}
            for r in with_url_columns(self.pages)
            .join(F.broadcast(canons), "url_canon", "left_semi")
            .select("url", "warc_ts", "html", "lang")
            .collect()
        ]
        sim = simulate_crawl(
            rows,
            self.seed_list,
            [r.asDict() for r in self.robots.collect()],
            wave_ms=spec.wave_ms,
            max_waves=spec.max_waves,
            max_depth=spec.max_depth,
            max_attempts=spec.max_attempts,
        )
        lost = len(sim.seen) - res.n_seen
        p.extra["lost_urls"] = lost
        return Gate(
            "simulator_parity",
            sim.schedule == got and lost >= 0,
            f"engine_rows={len(got)} sim_rows={len(sim.schedule)} lost={lost}",
        )


CRAWL_SPECS = {
    "crawl-extract": {
        # wide and shallow: every unseen URL is scheduled (a 600 s wave
        # gives each host a budget of 6000), big listing-index pages
        "full": CrawlSpec(
            n_pages=24_000, n_hosts=2_000, n_seeds=6_000, filler_listings=80,
            dead_link_every=0, seen_mode="exact", n_buckets=256,
            wave_ms=600_000, max_waves=2, max_depth=2, max_attempts=1,
            simulate=False,
        ),
        "tiny": CrawlSpec(
            n_pages=2_000, n_hosts=100, n_seeds=300, filler_listings=30,
            dead_link_every=0, seen_mode="exact", n_buckets=256,
            wave_ms=600_000, max_waves=2, max_depth=2, max_attempts=1,
            simulate=False,
        ),
    },
    "crawl-frontier": {
        # deep and narrow: 300 ms waves give a budget of 3 per host, so the
        # Zipf-hot hosts carry a backlog; bloom seen-set; dead links retried
        "full": CrawlSpec(
            n_pages=30_000, n_hosts=1_000, n_seeds=6_000, filler_listings=0,
            dead_link_every=5, seen_mode="bloom", n_buckets=64,
            wave_ms=300, max_waves=4, max_depth=10, max_attempts=2,
            simulate=True,
        ),
        "tiny": CrawlSpec(
            n_pages=2_000, n_hosts=100, n_seeds=300, filler_listings=0,
            dead_link_every=5, seen_mode="bloom", n_buckets=64,
            wave_ms=300, max_waves=4, max_depth=10, max_attempts=2,
            simulate=True,
        ),
    },
}


# ==================================================================== catalog
@dataclass(frozen=True)
class CatalogSpec:
    n_pages: int  # corpus size; ~90% base table, ~10% new-wave pool
    n_hosts: int
    base_waves: int  # appends that build the base table
    delta_share: float  # share of base keys that get a recrawl price change
    wave_share: float  # new-wave rows appended, as a share of the base
    reads: int  # predicate reads per round

    def warm(self) -> "CatalogSpec":
        return replace(self, n_pages=max(1_000, self.n_pages // 20), reads=4)


CATALOG_SPECS = {
    "catalog-upsert": {
        "full": CatalogSpec(
            n_pages=24_000, n_hosts=2_000, base_waves=4, delta_share=0.02,
            wave_share=0.01, reads=12,
        ),
        "tiny": CatalogSpec(
            n_pages=2_000, n_hosts=100, base_waves=2, delta_share=0.02,
            wave_share=0.01, reads=5,
        ),
    }
}

TABLE = "listings"
ROW_COLS = [
    "url_canon", "host", "lang", "warc_ts", "price", "address", "floor_area",
    "transaction_date", "extracted_text",
]


def _pred_column(c: str, op: str, v):
    """``(col, op, value)`` as a Column, written independently of the
    catalog's own residual filter so the read gate is a real comparison."""
    from pyspark.sql import functions as F

    col = F.col(c)
    return {
        "=": lambda: col == F.lit(v),
        "<": lambda: col < F.lit(v),
        "<=": lambda: col <= F.lit(v),
        ">=": lambda: col >= F.lit(v),
        "in": lambda: col.isin(list(v)),
    }[op]()


def _row_hash():
    """Order-free checksum of a frame: sum of a 40-bit row hash (cannot
    overflow a long below 2^23 rows)."""
    from pyspark.sql import functions as F

    return F.sum(F.pmod(F.xxhash64(*ROW_COLS), F.lit(1 << 40)))


class CatalogWorkload(Workload):
    kind = "catalog"

    def __init__(self, name: str, spec: CatalogSpec, work: WorkDir, seed: int):
        self.name, self.spec, self.work, self.seed = name, spec, work, seed
        self.gen = Cost()  # input generation, excluded from set-up
        self.rng = np.random.default_rng([seed, 7])

    def bind(self, spark, warm: bool = False) -> None:
        from pyspark.sql import functions as F

        from hk_housing_datahub_spark.datagen import generate_pages
        from hk_housing_datahub_spark.extract.vectorized import extract_df
        from hk_housing_datahub_spark.functions.urls import with_url_columns
        from hk_housing_datahub_spark.sources import TableCatalog

        spec = self.spec.warm() if warm else self.spec
        key = f"catalog-n{spec.n_pages}-h{spec.n_hosts}-w{spec.base_waves}"
        rows_path = cached_parquet(
            self.work,
            key + "-rows",
            lambda: extract_df(
                with_url_columns(
                    generate_pages(spark, spec.n_pages, n_hosts=spec.n_hosts)
                )
            )
            .select(
                *ROW_COLS,
                (F.pmod(F.xxhash64("url_canon", F.lit("pool")), F.lit(10)) == 0)
                .alias("pool"),
                F.pmod(F.xxhash64("url_canon", F.lit("wave")), F.lit(spec.base_waves))
                .alias("base_wave"),
            )
            .filter(F.col("url_canon").isNotNull()),
            self.gen,
        )
        rows = spark.read.parquet(rows_path)
        self.base_rows = rows.filter(~F.col("pool")).select(*ROW_COLS)
        self.pool_rows = rows.filter(F.col("pool")).select(*ROW_COLS)
        self.base_root = os.path.join(self.work.cache, key + "-table")
        if not os.path.exists(os.path.join(self.base_root, ".complete")):
            with self.gen.measure():
                shutil.rmtree(self.base_root, ignore_errors=True)
                cat = TableCatalog(spark, self.base_root)
                for w in range(spec.base_waves):
                    cat.append(
                        TABLE,
                        rows.filter(~F.col("pool") & (F.col("base_wave") == w)).select(
                            *ROW_COLS
                        ),
                    )
                open(os.path.join(self.base_root, ".complete"), "w").close()
        self.active = spec
        self.n_base = self.base_rows.count()
        self.key_sample = [
            r.url_canon
            for r in self.base_rows.select("url_canon")
            .orderBy(F.xxhash64("url_canon"))
            .limit(200)
            .collect()
        ]

    def _predicates(self, n: int) -> list[list[tuple]]:
        """``n`` reads cycling through six predicate shapes, so every round
        has the same mix; the values are drawn from the seed."""
        rng, hosts = self.rng, self.active.n_hosts

        def host() -> str:
            return f"h{int(rng.integers(0, hosts))}.example.com"

        out = []
        for i in range(n):
            shape = i % 6
            if shape == 0:
                out.append([("host", "=", host())])
            elif shape == 1:
                out.append([("host", "in", [host() for _ in range(3)])])
            elif shape == 2:
                out.append([("url_canon", "=", str(rng.choice(self.key_sample)))])
            elif shape == 3:
                lo = float(rng.uniform(1e6, 9.5e6))
                out.append([("price", ">=", lo), ("price", "<", lo + 2e5)])
            elif shape == 4:
                a = float(rng.uniform(200, 2000))
                out.append([("floor_area", ">=", a), ("floor_area", "<=", a + 50)])
            else:
                d = datetime(2023, 11, 14) + timedelta(days=int(rng.integers(0, 2000)))
                out.append(
                    [("transaction_date", ">=", d),
                     ("transaction_date", "<", d + timedelta(days=30))]
                )
        return out

    def run_pass(self, spark, tracer: Tracer, index: int) -> Pass:
        from pyspark.sql import functions as F

        from hk_housing_datahub_spark.sources import TableCatalog

        spec = self.active
        # a seeded sample of exactly n rows: the first n by a salted hash
        order = F.xxhash64("url_canon", F.lit(int(self.rng.integers(0, 1 << 30))))
        n_delta = max(1, round(self.n_base * spec.delta_share))
        n_wave = max(1, round(self.n_base * spec.wave_share))
        delta = (
            self.base_rows.orderBy(order)
            .limit(n_delta)
            .withColumn("price", F.col("price") + F.lit(1000.0))
        )
        wave = self.pool_rows.orderBy(order).limit(n_wave)
        preds = self._predicates(spec.reads)
        root = self.work.path(f"catalog-{index}")
        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(self.base_root, root)
        cat = TableCatalog(spark, root)

        reads, plan_s, counts = [], [], []
        cpu0 = tree_cpu_s()
        with tracer.span("pass", index=index) as ps:
            with tracer.span("TableCatalog.merge_upsert") as up:
                merge_snap = cat.merge_upsert(TABLE, delta, keys=["url_canon"])
            with tracer.span("TableCatalog.append") as ap:
                cat.append(TABLE, wave)
            wave_cpu_s = tree_cpu_s() - cpu0
            for where in preds:
                with tracer.span("TableCatalog.read") as rd:
                    df = cat.read(TABLE, where=where)
                    planned = time.time()
                    counts.append(df.count())
                reads.append(rd.dur)
                plan_s.append(planned - rd.start)
            with tracer.span("TableCatalog.read_changes") as rc:
                n_changes = cat.read_changes(TABLE, since=merge_snap).count()
        cpu_s = tree_cpu_s() - cpu0
        table_dir = os.path.join(root, TABLE)
        m = cat._load_manifest(TABLE)
        merge = next(h for h in reversed(m["history"]) if h["op"] == "merge")
        reports = [cat.scan_report(TABLE, where) for where in preds]
        return Pass(
            span=ps,
            seconds=ps.dur,
            ops=3 + len(preds),
            cpu_s=cpu_s,
            read_s=reads,
            wave_s=[ap.end - up.start],
            wave_cpu_s=[wave_cpu_s],
            rows=n_delta + n_wave,
            disk_bytes=dir_bytes(table_dir),
            extra={
                "catalog": cat,
                "delta": delta,
                "wave": wave,
                "n_wave": n_wave,
                "preds": preds,
                "counts": counts,
                "n_changes": n_changes,
                "upsert_s": up.dur,
                "append_s": ap.dur,
                "read_plan_s": plan_s,
                "read_changes_s": rc.dur,
                "merge_dirs": len(merge.get("removed", [])),
                "merge_bytes": sum(
                    dir_bytes(os.path.join(table_dir, d))
                    for d in merge.get("removed", [])
                ),
                "parts_kept": sum(r["parts_kept"] for r in reports),
                "parts_pruned": sum(
                    r["parts_total"] - r["parts_kept"] for r in reports
                ),
                "snapshots": cat.current_snapshot(TABLE),
            },
        )

    @staticmethod
    def scale_rate(passes: list[Pass]) -> float:
        return sum(p.ops for p in passes) / sum(p.seconds for p in passes)

    def scale_pass(self, spark, tracer: Tracer, index: int) -> Pass:
        return self.run_pass(spark, tracer, index)

    def check(self, spark, p: Pass) -> list[Gate]:
        from pyspark.sql import functions as F

        x = p.extra
        cat = x["catalog"]
        expected = (
            self.base_rows.join(x["delta"].select("url_canon"), "url_canon", "left_anti")
            .unionByName(x["delta"].select(*ROW_COLS))
            .unionByName(x["wave"])
        )

        def summary(df):
            return tuple(
                df.select(*ROW_COLS)
                .agg(F.count(F.lit(1)), F.countDistinct("url_canon"), _row_hash())
                .first()
            )

        want = summary(expected)
        got = summary(cat.read(TABLE))
        p.live_rows = int(got[0])
        gates = [
            Gate(
                "last_writer_wins",
                got == want and got[0] == got[1],
                f"table(rows,keys,hash)={got} expected={want}",
            )
        ]
        full = cat.read(TABLE).select(*ROW_COLS)
        aggs = []
        for i, where in enumerate(x["preds"]):
            cond = F.lit(True)
            for c, op, v in where:
                cond = cond & _pred_column(c, op, v)
            aggs += [
                F.sum(F.when(cond, 1).otherwise(0)).alias(f"n{i}"),
                F.coalesce(
                    F.sum(F.when(cond, F.pmod(F.xxhash64(*ROW_COLS), F.lit(1 << 40)))),
                    F.lit(0),
                ).alias(f"h{i}"),
            ]
        exp = full.agg(*aggs).first()
        parts = [
            cat.read(TABLE, where=where).select(F.lit(i).alias("q"), *ROW_COLS)
            for i, where in enumerate(x["preds"])
        ]
        union = parts[0]
        for part in parts[1:]:
            union = union.unionByName(part)
        act = {
            r["q"]: (r["n"], r["h"])
            for r in union.groupBy("q")
            .agg(F.count(F.lit(1)).alias("n"), _row_hash().alias("h"))
            .collect()
        }
        bad = [
            i
            for i in range(len(x["preds"]))
            if act.get(i, (0, 0)) != (exp[f"n{i}"], exp[f"h{i}"])
            or x["counts"][i] != exp[f"n{i}"]
        ]
        gates.append(
            Gate(
                "where_read_equals_filter",
                not bad,
                f"{len(bad)} of {len(x['preds'])} predicates differ: {bad[:5]}",
            )
        )
        gates.append(
            Gate(
                "read_changes_is_new_wave",
                x["n_changes"] == x["n_wave"],
                f"read_changes={x['n_changes']} appended={x['n_wave']}",
            )
        )
        return gates


WORKLOADS = sorted([*CRAWL_SPECS, *CATALOG_SPECS])


def make_workload(name: str, scale: str, work: WorkDir, seed: int):
    if name in CRAWL_SPECS:
        return CrawlWorkload(name, CRAWL_SPECS[name][scale], work, seed)
    return CatalogWorkload(name, CATALOG_SPECS[name][scale], work, seed)
