"""Crawl-semantics parity per the north rule: the distributed engine must
reproduce the sequential reference simulation's crawl ordering and final
URL-seen set under the same seed list + politeness budget, and resume from
a mid-crawl checkpoint to the identical final state.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest

from hk_housing_datahub_spark.datagen import (
    generate_pages,
    generate_robots,
    generate_seeds,
)
from hk_housing_datahub_spark.frontier import CrawlEngine
from hk_housing_datahub_spark.frontier.simulator import simulate_crawl

N, H = 800, 12


@pytest.fixture(scope="module")
def corpus(spark):
    pages = generate_pages(spark, N, n_hosts=H).cache()
    seeds = generate_seeds(spark, 12, N, n_hosts=H)
    robots = generate_robots(spark, n_hosts=H)
    pages.count()
    return pages, seeds, robots


@pytest.fixture(scope="module")
def sim_result(corpus):
    pages, seeds, robots = corpus
    rows = [
        {"url": r.url, "warc_ts": r.warc_ts, "html": bytes(r.html), "lang": r.lang}
        for r in pages.collect()
    ]
    return simulate_crawl(
        rows,
        [(r.url, r.priority) for r in seeds.collect()],
        [r.asDict() for r in robots.collect()],
        wave_ms=1000,
        max_waves=4,
        max_depth=2,
    )


def _run(spark, corpus, tmp, **kw):
    pages, seeds, robots = corpus
    eng = CrawlEngine(
        spark, pages, robots, tmp, wave_ms=1000, max_depth=2, **kw
    )
    return eng, eng.run(seeds, max_waves=4)


def _schedule(spark, res):
    return [
        (r.wave, r.host, r.host_rank, r.url_canon)
        for r in res.schedule_log(spark).orderBy("wave", "host", "host_rank").collect()
    ]


def test_schedule_and_seen_match_sequential_reference(spark, corpus, sim_result):
    tmp = tempfile.mkdtemp(prefix="crawl_t1_")
    try:
        _, res = _run(spark, corpus, tmp, seen_mode="exact")
        assert _schedule(spark, res) == sorted(sim_result.schedule)
        seen_spark = {
            r.url_canon
            for r in res.schedule_log(spark).select("url_canon").collect()
        }
        assert seen_spark == sim_result.seen
    finally:
        shutil.rmtree(tmp)


def test_resume_midcrawl_reaches_identical_state(spark, corpus, sim_result):
    pages, seeds, robots = corpus
    tmp = tempfile.mkdtemp(prefix="crawl_t2_")
    try:
        # run 2 waves, "crash", then resume with a fresh engine for 2 more
        eng1 = CrawlEngine(spark, pages, robots, tmp, wave_ms=1000, max_depth=2)
        eng1.run(seeds, max_waves=2)
        eng2 = CrawlEngine(spark, pages, robots, tmp, wave_ms=1000, max_depth=2)
        res = eng2.run(seeds, max_waves=2)
        assert _schedule(spark, res) == sorted(sim_result.schedule)
    finally:
        shutil.rmtree(tmp)


def test_resume_with_other_seen_settings_raises(spark, corpus):
    """The checkpointed seen-set is only valid under the settings that
    built it: bucket = f(url_hash, n_buckets), so a bloom crawl resumed at
    another bucket count would probe the wrong filters and schedule seen
    URLs again. The resume refuses before it touches any state."""
    pages, seeds, robots = corpus
    tmp = tempfile.mkdtemp(prefix="crawl_resume_cfg_")

    def engine(**kw):
        return CrawlEngine(
            spark, pages, robots, tmp, wave_ms=1000, max_depth=2, **kw
        )

    try:
        engine(seen_mode="bloom", n_buckets=16).run(seeds, max_waves=1)
        with pytest.raises(ValueError, match="n_buckets"):
            engine(seen_mode="bloom", n_buckets=32).run(seeds, max_waves=1)
        with pytest.raises(ValueError, match="seen_mode"):
            engine(seen_mode="exact", n_buckets=16).run(seeds, max_waves=1)
        # a manifest written before the settings were recorded still
        # resumes under the settings that match it
        mp = os.path.join(tmp, "manifest.json")
        with open(mp) as f:
            m = json.load(f)
        del m["seen_params"]
        with open(mp, "w") as f:
            json.dump(m, f)
        res = engine(seen_mode="bloom", n_buckets=16).run(seeds, max_waves=1)
        assert res.waves_run == 2
    finally:
        shutil.rmtree(tmp)


def test_bloom_mode_close_to_exact(spark, corpus):
    """Bloom seen-set may only *skip* urls (false positives), never re-crawl;
    with test-sized filters it should match exact mode exactly."""
    t1, t2 = tempfile.mkdtemp(), tempfile.mkdtemp()
    try:
        _, r_exact = _run(spark, corpus, t1, seen_mode="exact")
        _, r_bloom = _run(
            spark, corpus, t2, seen_mode="bloom", n_buckets=64,
            bloom_bits=1 << 18,
        )
        s_exact = _schedule(spark, r_exact)
        s_bloom = _schedule(spark, r_bloom)
        assert set(s_bloom) <= set(s_exact)
        assert len(s_bloom) >= 0.98 * len(s_exact)
    finally:
        shutil.rmtree(t1)
        shutil.rmtree(t2)


def test_extraction_parity_with_simulator(spark, corpus, sim_result):
    tmp = tempfile.mkdtemp(prefix="crawl_t3_")
    try:
        _, res = _run(spark, corpus, tmp, seen_mode="exact")
        listings = {
            r.url_canon: (r.extracted_text, r.price)
            for r in res.listings(spark).collect()
        }
        sim_map = {
            e["url_canon"]: (e["text"], e["price"]) for e in sim_result.extracted
        }
        assert set(listings) == set(sim_map)
        for k, (t, p) in listings.items():
            st, sp = sim_map[k]
            assert (t is None) == (st is None)
            if t is not None:
                assert t.encode() == st.encode(), k
            assert (p is None) == (sp is None) and (p == sp or p is None), k
    finally:
        shutil.rmtree(tmp)


def test_manifest_lineage_recorded(spark, corpus):
    from hk_housing_datahub_spark.frontier.checkpoint import read_manifest

    tmp = tempfile.mkdtemp(prefix="crawl_t4_")
    try:
        _, res = _run(spark, corpus, tmp, seen_mode="exact")
        m = read_manifest(tmp)
        assert m is not None and m.waves_done
        assert all(
            set(l) == {"partition_id", "watermark", "rows_emitted"}
            for l in m.lineage
        )
        assert sum(l["rows_emitted"] for l in m.lineage) > 0
    finally:
        shutil.rmtree(tmp)


def test_retry_subfrontier_parity(spark):
    """Dead links + max_attempts=3: the engine must reproduce the sequential
    simulator's schedule (retries appear in later waves) and final seen set,
    and dead urls must be scheduled max_attempts times before giving up."""
    n, h = 400, 6
    pages = generate_pages(spark, n, n_hosts=h, dead_link_every=5).cache()
    seeds = generate_seeds(spark, 10, n, n_hosts=h)
    robots = generate_robots(spark, n_hosts=h)
    pages.count()
    rows = [
        {"url": r.url, "warc_ts": r.warc_ts, "html": bytes(r.html), "lang": r.lang}
        for r in pages.collect()
    ]
    sim = simulate_crawl(
        rows, [(r.url, r.priority) for r in seeds.collect()],
        [r.asDict() for r in robots.collect()],
        wave_ms=30000, max_waves=6, max_depth=2, max_attempts=3,
    )
    tmp = tempfile.mkdtemp(prefix="crawl_retry_")
    try:
        eng = CrawlEngine(
            spark, pages, robots, tmp, wave_ms=30000, max_depth=2,
            seen_mode="exact", max_attempts=3,
        )
        res = eng.run(seeds, max_waves=6)
        got = _schedule(spark, res)
        assert got == sim.schedule
        # dead urls really were retried: some url appears in >1 wave
        from collections import Counter
        per_url = Counter(u for _, _, _, u in got)
        assert max(per_url.values()) > 1, "expected at least one retried url"
        assert res.n_seen == len(sim.seen)
    finally:
        shutil.rmtree(tmp)


def test_two_phase_scheduler_identical(spark, corpus):
    """salt_buckets>1 (the hot-host scale path) must schedule the identical
    (host, host_rank, url) set as the single-pass window."""
    from hk_housing_datahub_spark.frontier.scheduler import schedule_wave
    from hk_housing_datahub_spark.functions.urls import with_url_columns
    from pyspark.sql import functions as F

    pages, seeds, robots = corpus
    frontier = (
        with_url_columns(pages.select("url"))
        .withColumn("priority", F.pmod("url_hash", F.lit(3)).cast("int"))
        .withColumn(
            "discovered_ts",
            F.timestamp_seconds(F.pmod("url_hash", F.lit(100000))),
        )
        .withColumn("depth", F.lit(0))
        .withColumn("attempt", F.lit(0))
        .select("url_canon", "host", "url_hash", "bucket", "priority",
                "discovered_ts", "depth", "attempt")
    )

    def sched_set(df):
        return sorted(
            (r.host, r.host_rank, r.url_canon)
            for r in df.filter(F.col("scheduled")).collect()
        )

    one = sched_set(schedule_wave(frontier, robots, 2000))
    two = sched_set(schedule_wave(frontier, robots, 2000, salt_buckets=8))
    assert one == two and len(one) > 0
    # and a full crawl through the engine with salting matches unsalted
    t1 = tempfile.mkdtemp(prefix="crawl_salt1_")
    t2 = tempfile.mkdtemp(prefix="crawl_salt2_")
    try:
        _, r1 = _run(spark, corpus, t1, seen_mode="exact")
        eng2 = CrawlEngine(spark, pages, robots, t2, wave_ms=1000,
                           max_depth=2, seen_mode="exact", politeness_salt=8)
        r2 = eng2.run(seeds, max_waves=4)
        assert _schedule(spark, r1) == _schedule(spark, r2)
    finally:
        shutil.rmtree(t1)
        shutil.rmtree(t2)


def test_robots_txt_parse_edge_bodies(spark):
    from hk_housing_datahub_spark.functions.robots import parse_robots_txt

    bodies = [
        ("empty", ""),
        ("garbage_delay", "User-agent: *\nCrawl-delay: soon\n"),
        ("multi_allow", "User-agent: *\nAllow: /a/\nAllow: /b/\n"),
        ("star_last", "User-agent: bot\nDisallow: /\n\nUser-agent: *\nCrawl-delay: 3\n"),
        ("disallow_deep", "User-agent: *\nDisallow: /private/\n"),
        ("spaced", "User-agent:   *  \nDisallow:  / \nCrawl-delay: 1\n"),
        # no trailing newline after the last directive / after the header
        ("no_trailing_nl", "User-agent: *\nDisallow: /"),
        ("star_header_eof", "User-agent: bot\nDisallow: /\n\nUser-agent: *"),
    ]
    df = spark.createDataFrame(bodies, "host string, robots_txt string")
    got = {r.host: r for r in parse_robots_txt(df).collect()}
    assert got["empty"].allow and got["empty"].crawl_delay_ms == 100
    assert got["garbage_delay"].crawl_delay_ms == 100  # unparseable → default
    assert got["multi_allow"].path_prefix == "/a/"  # first Allow wins
    assert got["star_last"].allow and got["star_last"].crawl_delay_ms == 3000
    # Disallow of a sub-path is not a full disallow in this subset
    assert got["disallow_deep"].allow
    assert not got["spaced"].allow and got["spaced"].crawl_delay_ms == 1000
    # EOF-terminated bodies parse like newline-terminated ones
    assert not got["no_trailing_nl"].allow
    # a bare trailing '*' group has no directives → defaults, not an error
    assert got["star_header_eof"].allow
    assert got["star_header_eof"].crawl_delay_ms == 100


def test_parsed_robots_feed_the_scheduler(spark):
    """parse_robots_txt output is schema-compatible with schedule_wave's
    rules side — raw robots.txt bodies drive the politeness budget."""
    from pyspark.sql import functions as F

    from hk_housing_datahub_spark.datagen import generate_pages, generate_seeds
    from hk_housing_datahub_spark.frontier.scheduler import schedule_wave
    from hk_housing_datahub_spark.functions.robots import parse_robots_txt
    from hk_housing_datahub_spark.functions.urls import with_url_columns

    frontier = (
        with_url_columns(generate_seeds(spark, 50, 1000, n_hosts=4))
        .withColumn("discovered_ts", F.timestamp_seconds(F.lit(0)))
        .withColumn("depth", F.lit(0))
        .withColumn("attempt", F.lit(0))
    )
    raw = spark.createDataFrame(
        [
            ("h0.example.com", "User-agent: *\nAllow: /listing/\nCrawl-delay: 1\n"),
            ("h1.example.com", "User-agent: *\nDisallow: /\n"),
            ("h2.example.com", ""),
            ("h3.example.com", "User-agent: *\nCrawl-delay: 0.2\n"),
        ],
        "host string, robots_txt string",
    )
    rules = parse_robots_txt(raw)
    sched = schedule_wave(frontier, rules, wave_ms=2000).filter("scheduled")
    hosts = {r.host for r in sched.select("host").distinct().collect()}
    assert "h1.example.com" not in hosts  # fully disallowed host never scheduled
    # crawl-delay 1s with a 2s wave → at most 2 urls for h0
    h0 = sched.filter(F.col("host") == "h0.example.com").count()
    assert 1 <= h0 <= 2


def test_robots_rfc_multigroup_merge(spark):
    """RFC 9309: ALL `User-agent: *` groups merge (not just the first),
    including a `*` inside a stacked run of User-agent lines."""
    from hk_housing_datahub_spark.functions.robots import (
        parse_robots_rules,
        parse_robots_txt,
    )

    bodies = [
        (
            "merged",
            "User-agent: *\nDisallow: /a/\n\nUser-agent: bot\nDisallow: /\n"
            "\nUser-agent: *\nAllow: /a/pub/\nCrawl-delay: 2\n",
        ),
        ("stacked", "User-agent: googlebot\nUser-agent: *\nDisallow: /priv/\n"),
        (
            "full_via_merge",
            "User-agent: *\nAllow: /x/\n\nUser-agent: *\nDisallow: /\n",
        ),
    ]
    df = spark.createDataFrame(bodies, "host string, robots_txt string")
    coarse = {r.host: r for r in parse_robots_txt(df).collect()}
    # the delay directive lives in the SECOND * group — merge finds it
    assert coarse["merged"].crawl_delay_ms == 2000
    assert coarse["merged"].path_prefix == "/a/pub/"
    assert coarse["stacked"].allow  # stacked * group parsed, /priv/ ≠ /
    # `Disallow: /` in the second group makes the merged body a full deny
    assert not coarse["full_via_merge"].allow

    rules = {r.host: r for r in parse_robots_rules(df).collect()}
    assert rules["merged"].disallow_paths == ["/a/"]
    assert rules["merged"].allow_paths == ["/a/pub/"]
    assert rules["stacked"].disallow_paths == ["/priv/"]
    assert rules["full_via_merge"].disallow_paths == ["/"]


def test_robots_longest_match_precedence(spark):
    """RFC 9309 §2.2.2: longest matched rule path wins; Allow wins equal
    lengths; `*` wildcard and `$` end anchor supported; no match ⇒ allow."""
    from pyspark.sql import functions as F

    from hk_housing_datahub_spark.functions.robots import robots_permits

    cases = [
        # (path, allow_paths, disallow_paths, expected)
        ("/a/pub/x", ["/a/pub/"], ["/a/"], True),  # longer allow wins
        ("/a/secret", ["/a/pub/"], ["/a/"], False),
        ("/b", ["/a/pub/"], ["/a/"], True),  # nothing matches
        ("/doc/x.pdf", [], ["/*.pdf$"], False),  # wildcard + anchor
        ("/doc/x.pdfs", [], ["/*.pdf$"], True),  # anchor respected
        ("/t", ["/t"], ["/t"], True),  # equal length: Allow wins
        ("/anything", [], ["/"], False),  # full disallow
    ]
    df = spark.createDataFrame(
        [(p, a, d, e) for p, a, d, e in cases],
        "path string, ap array<string>, dp array<string>, want boolean",
    )
    got = df.select(
        "path",
        "want",
        robots_permits(F.col("path"), F.col("ap"), F.col("dp")).alias("got"),
    ).collect()
    for r in got:
        assert r.got == r.want, r.path


def test_rfc_rules_feed_the_scheduler(spark):
    """parse_robots_rules output drives schedule_wave's longest-match
    gate: a host with `Disallow: /` + `Allow: /listing/` schedules ONLY
    listing urls; a host with `Disallow: /listing/` schedules nothing."""
    from pyspark.sql import functions as F

    from hk_housing_datahub_spark.datagen import generate_seeds
    from hk_housing_datahub_spark.frontier.scheduler import schedule_wave
    from hk_housing_datahub_spark.functions.robots import parse_robots_rules
    from hk_housing_datahub_spark.functions.urls import with_url_columns

    frontier = (
        with_url_columns(generate_seeds(spark, 60, 1000, n_hosts=3))
        .withColumn("discovered_ts", F.timestamp_seconds(F.lit(0)))
        .withColumn("depth", F.lit(0))
        .withColumn("attempt", F.lit(0))
    )
    raw = spark.createDataFrame(
        [
            (
                "h0.example.com",
                "User-agent: *\nDisallow: /\nAllow: /listing/\nCrawl-delay: 0.1\n",
            ),
            ("h1.example.com", "User-agent: *\nDisallow: /listing/\n"),
            ("h2.example.com", ""),
        ],
        "host string, robots_txt string",
    )
    sched = schedule_wave(
        frontier, parse_robots_rules(raw), wave_ms=10_000
    ).filter("scheduled")
    hosts = {r.host for r in sched.select("host").distinct().collect()}
    assert "h1.example.com" not in hosts  # every url is under /listing/
    assert "h0.example.com" in hosts and "h2.example.com" in hosts
    h0 = sched.filter(F.col("host") == "h0.example.com")
    assert h0.filter(~F.col("url_canon").contains("/listing/")).count() == 0


def test_robots_rules_match_query_and_strip_comments(spark):
    """RFC 9309 details the review pass caught: rule matching operates on
    path + QUERY (a `Disallow: /*?print=1` must block ?print=1 urls), and
    inline comments must be stripped from rule values, not invalidate the
    whole rule (which would fail open)."""
    from pyspark.sql import functions as F

    from hk_housing_datahub_spark.frontier.scheduler import apply_robots
    from hk_housing_datahub_spark.functions.robots import parse_robots_rules
    from hk_housing_datahub_spark.functions.urls import with_url_columns

    raw = spark.createDataFrame(
        [(
            "h0.example.com",
            "User-agent: *\n"
            "Disallow: /*?print=1\n"
            "Disallow: /private/ # keep out\n",
        )],
        "host string, robots_txt string",
    )
    rules = parse_robots_rules(raw)
    got = rules.collect()[0]
    assert got.disallow_paths == ["/*?print=1", "/private/"]

    urls = spark.createDataFrame(
        [
            ("https://h0.example.com/page?print=1",),
            ("https://h0.example.com/page",),
            ("https://h0.example.com/private/x",),
        ],
        ["url"],
    )
    frontier = (
        with_url_columns(urls)
        .withColumn("priority", F.lit(0))
        .withColumn("discovered_ts", F.timestamp_seconds(F.lit(0)))
        .withColumn("depth", F.lit(0))
    )
    kept = {
        r.url_canon for r in apply_robots(frontier, rules).collect()
    }
    assert kept == {"https://h0.example.com/page"}


def test_domain_budget_caps_subdomain_farms(spark):
    """Second politeness tier: 20 sibling subdomains of one co.uk
    registrant each win their host budget, but the registrable-domain
    cap keeps only the domain's globally-best rows; an independent host
    is untouched, and cut rows revert to backlog (scheduled=false),
    never disappear."""
    from pyspark.sql import functions as F

    from hk_housing_datahub_spark.frontier.scheduler import (
        apply_domain_budget,
        schedule_wave,
    )
    from hk_housing_datahub_spark.functions.urls import with_url_columns

    urls = [
        (f"https://s{i}.farm.co.uk/p/{j}", j)  # farm: 20 hosts x 4 urls
        for i in range(20)
        for j in range(4)
    ] + [(f"https://solo.com/p/{j}", j) for j in range(4)]
    frontier = (
        with_url_columns(
            spark.createDataFrame(urls, ["url", "j"]).select("url"),
        )
        .withColumn("priority", F.lit(1))
        .withColumn("discovered_ts", F.timestamp_seconds(F.lit(0)))
        .withColumn("depth", F.lit(0))
        .withColumn("attempt", F.lit(0))
        .select("url_canon", "host", "url_hash", "bucket", "priority",
                "discovered_ts", "depth", "attempt")
    )
    ranked = schedule_wave(frontier, None, 300)  # delay 100ms -> budget 3/host
    host_tier = ranked.filter("scheduled").count()
    assert host_tier == 21 * 3  # every host won its own budget
    capped = apply_domain_budget(ranked, max_per_domain=10)
    sched = capped.filter("scheduled").collect()
    by_dom = {}
    for r in sched:
        d = "farm.co.uk" if ".farm.co.uk" in r["url_canon"] else "solo.com"
        by_dom.setdefault(d, []).append(r["url_canon"])
    assert len(by_dom["farm.co.uk"]) == 10  # 60 host-tier winners -> 10
    assert len(by_dom["solo.com"]) == 3  # independent host untouched
    # the kept 10 are the domain's best by (priority, ts, url) order
    farm_winners = sorted(by_dom["farm.co.uk"])
    all_farm = sorted(
        r["url_canon"]
        for r in ranked.filter("scheduled").collect()
        if ".farm.co.uk" in r["url_canon"]
    )
    assert farm_winners == all_farm[:10]
    # nothing disappears: total rows preserved, cuts are backlog
    assert capped.count() == ranked.count()
