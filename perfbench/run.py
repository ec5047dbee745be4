"""Layered crawl-frontier benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload crawl-frontier --seed 1 --seconds 10 --trace 0

Runs from the repository root. Starts one Spark session at
``local[<cores of this process>]``, warms it with one small pass of the
workload (charged to ``setup_s``), then repeats the workload's pass until
``--seconds`` of timed work are done and prints, as the last line of
stdout, ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` additionally runs the same
body with Spark's event log on, the isolated layer calls and one
``local[1]`` pass, and reports the per-layer metrics. ``--scale tiny``
shrinks every input (for the smoke test). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from perfbench.harness import (  # noqa: E402
    MemoryPeak,
    Session,
    Tracer,
    WorkDir,
    cpu_count,
    host_steal,
    isolate_environment,
    median,
    process_age_s,
    tree_cpu_s,
)

T0, AGE_AT_T0 = time.perf_counter(), process_age_s()  # interpreter start-up

from perfbench.workloads import WORKLOADS, make_workload, pass_metrics  # noqa: E402

# name -> (unit, better); every workload reports every one of them. Time is
# CPU seconds of the Spark driver, the JVM and the Python workers: on a shared VM
# the hypervisor steals a varying share of the vCPUs, which moves wall-clock
# figures far more than CPU time. The wall-clock counterparts are the
# per-layer ``wall.*`` metrics of the traced run.
E2E_METRICS = {
    "setup_s": ("s", "lower"),
    "pass_cpu_s": ("s", "lower"),
    "urls_per_cpu_s": ("1/s", "higher"),
    "wave_cpu_s_p50": ("s", "lower"),
    "ops_per_cpu_s": ("1/s", "higher"),
    "disk_bytes_per_row": ("B", "lower"),
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Run:
    """One invocation: a session, a workload, its passes and gates."""

    def __init__(self, args):
        self.args = args
        self.cores = cpu_count()
        self.work = WorkDir()
        isolate_environment(self.work)
        self.tracer = Tracer(f"{args.workload}-seed{args.seed}-{os.getpid()}")
        self.session = Session(self.work)
        self.workload = make_workload(
            args.workload, args.scale, self.work, args.seed
        )
        self.gates = []
        self.ops = 0
        self.memory = MemoryPeak().start()

    def body(self, spark) -> list:
        """Passes until --seconds of timed work are done; each pass's gates
        run after it, outside its timer."""
        passes, timed = [], 0.0
        while not passes or timed < self.args.seconds:
            p = self.workload.run_pass(spark, self.tracer, len(passes))
            passes.append(p)
            timed += p.span.dur
            self.ops += p.ops
            self.gates += self.workload.check(spark, p)
        return passes

    def setup(self):
        t0 = time.perf_counter()
        spark = self.session.start(self.cores)
        self.start_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.workload.warmup(spark, self.tracer)
        gen = self.workload.gen
        self.warmup_s = time.perf_counter() - t0 - gen.wall
        # corpus generation happens only on a cache miss and is not set-up
        self.setup_wall_s = AGE_AT_T0 + time.perf_counter() - T0 - gen.wall
        self.setup_cpu_s = tree_cpu_s() - gen.cpu
        if gen.wall:
            log(f"generated inputs in {gen.wall:.1f}s (cached)")
        return spark

    def e2e(self, passes, steal0) -> dict:
        self.memory.stop()
        busy, steal = (b - a for a, b in zip(steal0, host_steal()))
        return {
            "setup_s": self.setup_cpu_s,
            "wall.setup_s": self.setup_wall_s,
            **pass_metrics(passes),
            "mem.peak_rss_mb": self.memory.mb,
            "host.steal_share": steal / max(1, busy + steal),
        }

    def traced(self, untraced: list, untraced_e2e: dict) -> dict:
        from perfbench.eventlog import EventLog
        from perfbench.layers import LAYER_METRICS, catalog_layers, crawl_layers
        from perfbench.probes import run_probes

        w = self.workload
        self.session.stop()
        spark = self.session.start(self.cores, event_log=self.work.events)
        # the isolated layer calls go first: they also restart the Python
        # workers the session restart stopped
        probe_metrics, probe_gates = run_probes(spark, self.work, self.tracer)
        self.gates += probe_gates
        w.bind(spark)
        passes = self.body(spark)
        self.session.stop()  # closes the event log

        ev = EventLog.from_dir(self.work.events)
        if w.kind == "crawl":
            per_pass = [crawl_layers(w, p, ev, self.tracer, self.cores) for p in passes]
            layers = {k: median(d[k] for d in per_pass) for k in per_pass[0]}
        else:
            layers = catalog_layers(passes, ev, self.cores)
        traced = pass_metrics(passes)

        # N -> 4N: one pass at local[1] against the untraced local[cores] rate
        spark = self.session.start(1)
        w.bind(spark)
        one = w.scale_pass(spark, self.tracer, len(passes))
        self.gates += w.check(spark, one)
        eff = w.scale_rate(untraced) / (self.cores * w.scale_rate([one]))
        out = {k: 0.0 for k in LAYER_METRICS}
        out.update({k: v for k, v in layers.items() if k in LAYER_METRICS})
        out.update(probe_metrics)
        out.update({k: v for k, v in untraced_e2e.items() if k in LAYER_METRICS})
        out.update(
            {
                "session.start_s": self.start_s,
                "session.warmup_s": self.warmup_s,
                "trace.overhead": traced["wall.run_s"] / untraced_e2e["wall.run_s"] - 1,
                "scale.eff_1to4": eff,
            }
        )
        return {k: (out[k], LAYER_METRICS[k][0]) for k in LAYER_METRICS}

    def main(self) -> dict:
        spark = self.setup()
        steal0 = host_steal()
        passes = self.body(spark)
        e2e = self.e2e(passes, steal0)
        if self.args.trace:
            metrics = self.traced(passes, e2e)
            self.tracer.write(
                os.path.join(self.work.traces, f"{self.tracer.run_id}.json")
            )
        else:
            metrics = {k: (e2e[k], E2E_METRICS[k][0]) for k in E2E_METRICS}
        failed = [g for g in self.gates if not g.ok]
        for g in failed:
            log(f"GATE FAILED {g.name}: {g.detail}")
        return {
            "correct": not failed,
            "attempted": self.ops + len(self.gates),
            "failed": len(failed),
            "metrics": {
                k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
            },
        }


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import hk_housing_datahub_spark  # noqa: F401
    except ImportError as e:
        log(f"the package under test is missing from {REPO_ROOT}: {e}")
        return 2
    run = Run(args)
    try:
        result = run.main()
    finally:
        run.memory.stop()
        run.session.shutdown()
        run.work.cleanup()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
