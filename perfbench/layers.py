"""Per-layer metrics of one traced pass, from the pass's spans, the engine's
step lines, the files the pass committed and the Spark event log.

Every per-layer metric is reported by every workload; a layer a workload
does not run reads 0 there (the catalog rounds run no crawl, the crawls
touch no catalog table)."""

from __future__ import annotations

import os

from .eventlog import (
    EventLog,
    extract_nodes,
    frontier_dedup_nodes,
    is_host_window_stage,
    pages_scan_nodes,
)
from .harness import Tracer, dir_bytes, median, percentile
from .workloads import STEP_LABELS, CrawlWorkload, Pass

MB = 1e6

# name -> (unit, better)
LAYER_METRICS = {
    "extract.pages": ("count", "higher"),
    "extract.html_mb": ("MB", "higher"),
    "extract.udf_s": ("s", "lower"),
    "extract.udf_cpu_share": ("ratio", "lower"),
    "extract.pages_per_s": ("1/s", "higher"),
    "extract.mismatch": ("count", "lower"),
    "fetch.corpus_rows_scanned": ("count", "lower"),
    "fetch.rows_matched": ("count", "higher"),
    "fetch.hit_ratio": ("ratio", "higher"),
    "fetch.step_s": ("s", "lower"),
    "crawl.waves": ("count", "higher"),
    "crawl.jobs_per_wave": ("count", "lower"),
    "crawl.frontier_s": ("s", "lower"),
    "crawl.frontier_rows": ("count", "lower"),
    "crawl.outlinks": ("count", "higher"),
    "crawl.retry_rows": ("count", "lower"),
    "crawl.lineage_s": ("s", "lower"),
    "crawl.manifest_s": ("s", "lower"),
    "crawl.frontier_share": ("ratio", "lower"),
    "sched.step_s": ("s", "lower"),
    "sched.rows_in": ("count", "higher"),
    "sched.scheduled": ("count", "higher"),
    "sched.backlog": ("count", "lower"),
    "sched.window_task_skew": ("ratio", "lower"),
    "sched.rows_per_s": ("1/s", "higher"),
    "seen.probe_rows": ("count", "higher"),
    "seen.unseen_ratio": ("ratio", "higher"),
    "seen.add_s": ("s", "lower"),
    "seen.checkpoint_s": ("s", "lower"),
    "seen.state_mb": ("MB", "lower"),
    "seen.lost_urls": ("count", "lower"),
    "seen.probe_keys_per_s.exact": ("1/s", "higher"),
    "seen.probe_keys_per_s.bloom": ("1/s", "higher"),
    "ckpt.mb_written": ("MB", "lower"),
    "tables.append_s": ("s", "lower"),
    "tables.upsert_s_p50": ("s", "lower"),
    "tables.merge_dirs_rewritten": ("count", "lower"),
    "tables.merge_mb_rewritten": ("MB", "lower"),
    "tables.parts_kept": ("count", "lower"),
    "tables.parts_pruned": ("count", "higher"),
    "tables.read_ms_p50": ("ms", "lower"),
    "tables.read_ms_p90": ("ms", "lower"),
    "tables.read_plan_ms": ("ms", "lower"),
    "tables.read_changes_s": ("s", "lower"),
    "tables.snapshots": ("count", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.cpu_busy_share": ("ratio", "higher"),
    "spark.tasks": ("count", "lower"),
    "spark.shuffle_mb_written": ("MB", "lower"),
    "spark.shuffle_mb_read": ("MB", "lower"),
    "spark.spill_mb": ("MB", "lower"),
    "wall.setup_s": ("s", "lower"),
    "wall.run_s": ("s", "lower"),
    "wall.urls_per_s": ("1/s", "higher"),
    "wall.wave_s_p50": ("s", "lower"),
    "wall.ops_per_s": ("1/s", "higher"),
    "host.steal_share": ("ratio", "lower"),
    "mem.peak_rss_mb": ("MB", "lower"),
    "session.start_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "trace.overhead": ("ratio", "lower"),
    "scale.eff_1to4": ("ratio", "higher"),
}


def _unique_nodes(xs, select) -> list:
    """Plan nodes picked by ``select`` across executions, each counted once:
    a cached plan reappears under later executions with the same
    accumulators."""
    seen = {}
    for x in xs:
        for n in select(x):
            seen.setdefault(tuple(sorted(a for a, _ in n.metrics.values())), n)
    return list(seen.values())


def spark_layers(ev: EventLog, p: Pass, cores: int) -> dict:
    tasks = [t for st in ev.stages_in(p.span.start, p.span.end) for t in st.tasks]
    cpu_s = sum(t.cpu_ns for t in tasks) / 1e9
    return {
        "spark.executor_cpu_s": cpu_s,
        "spark.cpu_busy_share": cpu_s / (p.span.dur * cores),
        "spark.tasks": len(tasks),
        "spark.shuffle_mb_written": sum(t.shuffle_write for t in tasks) / MB,
        "spark.shuffle_mb_read": sum(t.shuffle_read for t in tasks) / MB,
        "spark.spill_mb": sum(t.spill for t in tasks) / MB,
    }


def _parquet_rows(path: str, skip_host: str) -> tuple[int, int]:
    """(rows, rows not on ``skip_host``) of a committed parquet dir."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["host"])
    skipped = pc.sum(pc.equal(t["host"], skip_host)).as_py() or 0
    return t.num_rows, t.num_rows - skipped


def crawl_layers(
    w: CrawlWorkload, p: Pass, ev: EventLog, tracer: Tracer, cores: int
) -> dict:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    spec, res, rs = w.active, p.extra["result"], p.span
    ck = p.extra["ckpt"]
    steps = tracer.children(rs.id)
    waves = sorted({s.attrs["wave"] for s in steps if s.name == STEP_LABELS["manifest"]})

    def step_s(key: str) -> float:
        return sum(s.dur for s in steps if s.name == STEP_LABELS[key])

    def step_executions(key: str):
        return [
            x
            for s in steps
            if s.name == STEP_LABELS[key]
            for x in ev.executions_in(s.start, s.end)
        ]

    xs = ev.executions_in(rs.start, rs.end)
    arrow = _unique_nodes(xs, extract_nodes)
    udf_s = sum(ev.value(n, "time to run Python workers") for n in arrow)
    scanned = sum(
        ev.value(n, "number of output rows")
        for n in _unique_nodes(xs, lambda x: pages_scan_nodes(x, w.pages_dir))
    )

    # frontier rows entering each wave's schedule: the seeds, then the
    # frontier the previous wave committed; the robots table disallows
    # every URL of the last host
    banned = f"h{spec.n_hosts - 1}.example.com"
    rows_in = [len(w.seed_urls)]
    allowed_in = [sum(1 for u in w.seed_urls if u.split("/")[2] != banned)]
    frontier_rows = []
    for wave in waves:
        n, allowed = _parquet_rows(os.path.join(ck, f"frontier_v{wave}"), banned)
        frontier_rows.append(n)
        rows_in.append(n)
        allowed_in.append(allowed)
    rows_in, allowed_in = rows_in[: len(waves)], allowed_in[: len(waves)]
    scheduled = [
        s.attrs.get("n", 0) for s in steps if s.name == STEP_LABELS["sched"]
    ][: len(waves)]
    candidates = sum(
        ev.value(n, "number of output rows")
        for n in _unique_nodes(step_executions("frontier"), frontier_dedup_nodes)
    )
    probe_rows = sum(rows_in) + candidates
    # the host window runs in the schedule step's heaviest Window stage
    # (later stages of the step read the cached result and list the same
    # scope)
    skews = []
    for s in steps:
        if s.name != STEP_LABELS["sched"]:
            continue
        windows = [
            st
            for st in ev.stages_in(s.start, s.end)
            if is_host_window_stage(st) and st.tasks
        ]
        if windows:
            st = max(windows, key=lambda st: sum(t.dur_ms for t in st.tasks))
            durs = [t.dur_ms for t in st.tasks]
            skews.append(max(durs) / max(1.0, median(durs)))
    outlinks = pq.read_table(os.path.join(ck, "listings"), columns=["n_outlinks"])
    n_out = pc.sum(outlinks["n_outlinks"]).as_py() or 0
    last_seen = os.path.join(ck, f"seen_v{waves[-1]}") if waves else ck
    sp = spark_layers(ev, p, cores)
    frontier_side = (
        step_s("sched") + step_s("seen_add") + step_s("seen_ckpt") + step_s("frontier")
    )
    return {
        **sp,
        "extract.pages": sum(ev.value(n, "number of output rows") for n in arrow),
        "extract.html_mb": sum(
            ev.value(n, "data sent to Python workers") for n in arrow
        ) / MB,
        "extract.udf_s": udf_s,
        "extract.udf_cpu_share": sum(
            s.attrs["worker_cpu_s"] for s in steps if s.name == STEP_LABELS["fetch"]
        )
        / max(1e-9, p.cpu_s),
        "extract.mismatch": p.extra.get("mismatch", 0),
        "fetch.corpus_rows_scanned": scanned,
        "fetch.rows_matched": res.n_extracted,
        "fetch.hit_ratio": res.n_extracted / max(1, scanned),
        "fetch.step_s": step_s("fetch"),
        "crawl.waves": len(waves),
        "crawl.jobs_per_wave": ev.jobs_in(rs.start, rs.end) / max(1, len(waves)),
        "crawl.frontier_s": step_s("frontier"),
        "crawl.frontier_rows": sum(frontier_rows),
        "crawl.outlinks": n_out,
        "crawl.retry_rows": p.extra.get("retry_rows", 0),
        "crawl.lineage_s": step_s("lineage"),
        "crawl.manifest_s": step_s("manifest"),
        "crawl.frontier_share": frontier_side / rs.dur,
        "sched.step_s": step_s("sched"),
        "sched.rows_in": sum(rows_in),
        "sched.scheduled": sum(scheduled),
        "sched.backlog": sum(a - s for a, s in zip(allowed_in, scheduled)),
        "sched.window_task_skew": median(skews),
        "seen.probe_rows": probe_rows,
        "seen.unseen_ratio": (sum(rows_in) + sum(frontier_rows)) / max(1, probe_rows),
        "seen.add_s": step_s("seen_add"),
        "seen.checkpoint_s": step_s("seen_ckpt"),
        "seen.state_mb": dir_bytes(last_seen) / MB,
        "seen.lost_urls": p.extra.get("lost_urls", 0),
        "ckpt.mb_written": dir_bytes(ck) / MB,
    }


def catalog_layers(passes: list[Pass], ev: EventLog, cores: int) -> dict:
    """Medians over the traced rounds; read percentiles over all reads."""
    per_round = [_catalog_round(p, ev, cores) for p in passes]
    out = {k: median(d[k] for d in per_round) for k in per_round[0]}
    read_ms = [1e3 * r for p in passes for r in p.read_s]
    out["tables.read_ms_p50"] = median(read_ms)
    out["tables.read_ms_p90"] = percentile(read_ms, 90)
    return out


def _catalog_round(p: Pass, ev: EventLog, cores: int) -> dict:
    x = p.extra
    return {
        **spark_layers(ev, p, cores),
        "tables.append_s": x["append_s"],
        "tables.upsert_s_p50": x["upsert_s"],
        "tables.merge_dirs_rewritten": x["merge_dirs"],
        "tables.merge_mb_rewritten": x["merge_bytes"] / MB,
        "tables.parts_kept": x["parts_kept"],
        "tables.parts_pruned": x["parts_pruned"],
        "tables.read_plan_ms": 1e3 * median(x["read_plan_s"]),
        "tables.read_changes_s": x["read_changes_s"],
        "tables.snapshots": x["snapshots"],
    }
