from __future__ import annotations

from hk_housing_datahub_spark.operators.traps import (
    flag_trap_hosts,
    host_trap_signals,
    url_trap_features,
)


def test_url_trap_features(spark):
    rows = [
        ("https://a.com/x/y/z?b=2&a=1",),
        ("https://a.com/",),
        ("https://a.com/x/y/x/y",),
        ("https://a.com/p?sid=1",),
    ]
    df = spark.createDataFrame(rows, ["url"])
    got = {r["url"]: r.asDict() for r in url_trap_features(df).collect()}
    f = got["https://a.com/x/y/z?b=2&a=1"]
    assert (f["depth"], f["has_repeat_seg"], f["n_params"]) == (3, False, 2)
    f = got["https://a.com/"]
    assert (f["depth"], f["n_params"]) == (0, 0)
    f = got["https://a.com/x/y/x/y"]
    assert f["has_repeat_seg"] is True and f["depth"] == 4
    assert got["https://a.com/p?sid=1"]["n_params"] == 1


def test_trap_hosts_flagged_with_reasons(spark):
    rows = []
    # healthy host: 30 distinct shallow pages, distinct content
    rows += [(f"https://ok.com/p/{i}", f"c{i}") for i in range(30)]
    # session-id trap: 30 URL variants of ONE page
    rows += [(f"https://sid.com/page?sid={i}", "same") for i in range(30)]
    # cyclic-path trap: repeated segments on most URLs
    rows += [
        ("https://loop.com/" + "/".join(["a", "b"] * (2 + i % 3)), f"l{i}")
        for i in range(30)
    ]
    # too-small host: pathological but under min_urls -> never flagged
    rows += [(f"https://tiny.com/x/x/x/x?p={i}&q={i}", "t") for i in range(5)]
    df = spark.createDataFrame(rows, ["url", "digest"])
    out = {
        r["host"]: r.asDict()
        for r in flag_trap_hosts(
            host_trap_signals(df, digest_col="digest"), min_urls=20
        ).collect()
    }
    assert out["ok.com"]["is_trap_suspect"] is False
    assert out["ok.com"]["trap_reasons"] == []
    assert out["sid.com"]["is_trap_suspect"] is True
    assert "dup_content" in out["sid.com"]["trap_reasons"]
    assert out["sid.com"]["urls_per_content"] == 30.0
    assert out["loop.com"]["is_trap_suspect"] is True
    assert "cyclic_paths" in out["loop.com"]["trap_reasons"]
    assert out["tiny.com"]["is_trap_suspect"] is False


def test_signals_without_digest_have_null_content_ratio(spark):
    df = spark.createDataFrame(
        [(f"https://a.com/p/{i}",) for i in range(3)], ["url"]
    )
    row = host_trap_signals(df).collect()[0]
    assert row["n_contents"] is None
    assert row["urls_per_content"] is None
    assert row["n_urls"] == 3


def _trap_corpus(spark):
    """120 pages on a session-id trap host (one content behind ?sid=
    variants, each linking deeper into the sid space) + 120 healthy
    pages (distinct content, linear link chain)."""
    rows = []
    for i in range(120):
        t_url = f"https://trap.com/page?sid={i}"
        t_html = (
            "<html><body><div id=\"content\">same trap content</div>"
            f"<a href=\"https://trap.com/page?sid={i + 60}\">n</a>"
            "</body></html>"
        )
        rows.append((t_url, t_html.encode(), "same trap content"))
        o_url = f"https://ok.com/p/{i}"
        o_html = (
            f"<html><body><div id=\"content\">content {i}</div>"
            f"<a href=\"https://ok.com/p/{i + 60}\">n</a>"
            "</body></html>"
        )
        rows.append((o_url, o_html.encode(), f"content {i}"))
    from pyspark.sql import functions as F

    return spark.createDataFrame(
        rows, "url string, html binary, text string"
    ).select(
        "url",
        F.timestamp_seconds(F.lit(1_700_000_000)).alias("warc_ts"),
        "html",
        "text",
        F.lit("en").alias("lang"),
    )


def _seed_urls(spark):
    from pyspark.sql import functions as F

    seeds = [(f"https://trap.com/page?sid={i}", 0) for i in range(25)]
    seeds += [(f"https://ok.com/p/{i}", 0) for i in range(25)]
    return spark.createDataFrame(seeds, ["url", "priority"])


def test_trap_guard_stops_the_trap_tail(spark, tmp_path):
    from pyspark.sql import functions as F

    from hk_housing_datahub_spark.frontier.crawl import CrawlEngine

    pages = _trap_corpus(spark).cache()

    def crawl(name, **kw):
        eng = CrawlEngine(
            spark, pages, None, str(tmp_path / name),
            wave_ms=10_000_000, max_depth=2, **kw,
        )
        res = eng.run(_seed_urls(spark), max_waves=2)
        ls = res.listings(spark)
        return {
            (r["wave"], r["host"]): r["n"]
            for r in ls.groupBy("wave", "host")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    # control: without the guard the trap tail IS crawled in wave 1
    base = crawl("noguard")
    assert base[(1, "trap.com")] == 25

    guarded = crawl("guard", trap_guard=True)
    # wave 0 is identical (the guard reacts to observed captures) ...
    assert guarded[(0, "trap.com")] == 25
    assert guarded[(0, "ok.com")] == 25
    # ... but the trap host is evicted from the next frontier while the
    # healthy host keeps crawling
    assert (1, "trap.com") not in guarded
    assert guarded[(1, "ok.com")] == base[(1, "ok.com")] == 25
