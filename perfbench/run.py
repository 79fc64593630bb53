"""GNSS engine benchmark.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (see BENCHMARK.json):

* ``backfill``  — bronze -> silver reprocessing of a 30-day archive of
  100,000 raw caster blobs (perfbench/backfill.py). One operation
  re-decodes one archived day.
* ``dashboard`` — one client refreshing 35 panel queries and collecting
  every result (perfbench/dashboard.py). One operation is one panel.

Every run builds its inputs from ``--seed``, starts the program's
SparkSession pinned to this machine, warms up, checks the warm-up
results against the registry's DuckDB oracle SQL, then measures whole
operations until ``--seconds`` have passed. End-to-end metrics
(``--trace 0``):

* ``latency_p50_ms`` — median of one operation, from call to the
  complete result (silver tables written / panel rows collected); a
  10-second run holds about 7 days or 35 panels, too few for a tail
  percentile with ten samples beyond it;
* ``throughput_per_s`` — frames per second (backfill) or panels per
  second (dashboard);
* ``setup_s`` — process start to the first timed operation: session
  start, input materialization, warm-up and the oracle check.

``--trace 1`` traces every second operation of the timed window: it
runs in a Spark job group of its own, whose jobs and tasks are counted.
Backfill alternates traced and untraced days; the dashboard alternates
panels and runs refreshes in pairs, so each panel runs once traced and
once untraced. ``trace.overhead_pct`` compares the traced with the
untraced operations of that window (time per frame for days, the
median of the per-panel ratios for panels). The run then adds the
per-layer probes (perfbench/layers.py, a short traced window of the
other workload, and a short ``live_fleet`` ingest,
perfbench/live_fleet.py) and prints the per-layer metrics. Among them
is ``session.peak_rss_mb``, the peak RSS summed over this process, the
driver JVM and the Python workers: it is not an end-to-end metric
because runs of the same code differ by about a fifth, as the JVM grows
its heap at different moments.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. Progress goes to stderr.
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import os
import shutil
import signal
import sys
import time

T_START = time.perf_counter()

import common  # noqa: E402
from common import median, quantile  # noqa: E402

LIVE_PROBE_S = 5.0
WARMUP_CLIENTS = 4
WARMUP_DAYS = 4  # backfill days run after the checked pass, before timing
PROBE_DAYS = 4  # days of the backfill probe of a dashboard run

END_TO_END = {"latency_p50_ms": "ms", "throughput_per_s": "1/s", "setup_s": "s"}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s", "session.python_workers": "count",
    "session.peak_rss_mb": "MB",
    "trace.overhead_pct": "%",
    "ntrip_live.feed_mb_per_s": "MB/s", "ntrip_live.connections_per_mountpoint": "count",
    "ntrip_live.duplicate_frames": "count", "live.failed_frames": "count",
    "generator.lag_ms": "ms", "live.frames_attempted": "count",
    "live.freshness_p50_ms": "ms", "live.freshness_p90_ms": "ms",
    "pipeline.trigger_ms_p50": "ms", "pipeline.add_batch_ms_p50": "ms",
    "pipeline.query_planning_ms_p50": "ms", "pipeline.wal_commit_ms_p50": "ms",
    "pipeline.commit_offsets_ms_p50": "ms", "pipeline.latest_offset_ms_p50": "ms",
    "pipeline.rows_per_batch_p50": "count", "pipeline.batches": "count",
    "sinks.batch_write_ms_p50": "ms", "sinks.files_per_batch": "count",
    "sinks.bytes_per_batch": "bytes", "sinks.silver_write_s": "s", "sinks.silver_files": "count",
    "framing.frames_per_s": "1/s", "framing.valid_ratio": "ratio",
    "framing.rescanned_blobs": "count",
    "rtcm_vec.frames_per_s": "1/s", "rtcm.flatten_rows_per_s": "1/s",
    "rtcm.obs_rows_per_frame": "count", "backfill.frames_per_s_1core": "1/s",
    "backfill.jobs_per_day": "count", "backfill.tasks_per_day": "count",
    "plans.refresh_s": "s", "plans.jobs_per_refresh": "count", "plans.tasks_per_refresh": "count",
}


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


class Run:
    """State shared by one benchmark run."""

    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.spark = None
        self.session_s = 0.0
        self.setup_s = 0.0
        self.warmup_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.ops_s: list[float] = []
        self.work = 0  # frames (backfill) or panels (dashboard) in the timed ops
        self.layers: dict[str, float] = {}

    def fail(self, msg: str) -> None:
        log("CHECK FAILED: " + msg)
        self.correct = False

    def tally(self, attempted: int, bad: int) -> None:
        self.attempted += attempted
        self.failed += bad


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


def backfill_ops(run: Run, bf, days, seconds: float | None = None,
                 traced_every: int = 0) -> list[dict]:
    """Backfill operations over ``days`` until they run out or ``seconds``
    have passed; every ``traced_every``-th one traced. Each must write
    as many package rows as the checked pass wrote for its day. Outputs
    are checked and deleted after the loop, so no file deletion falls
    between operations."""
    deadline = time.perf_counter() + seconds if seconds else None
    ops = []
    for i, day in enumerate(days):
        out = bf.new_out()
        op = {"day": day, "out": out,
              "traced": bool(traced_every) and i % traced_every == traced_every - 1}
        if op["traced"]:
            op["sec"], _, op["jobs"], op["tasks"] = common.traced(
                run.spark, os.path.basename(out), lambda: bf.run_day(day, out))
        else:
            op["sec"] = bf.run_day(day, out)
        ops.append(op)
        if deadline is not None and time.perf_counter() >= deadline:
            break
    for op in ops:
        op["frames"] = bf.package_rows(op["out"])
        op["files"] = sum(len(fs) for _, _, fs in os.walk(op["out"]))
        bf.drop(op["out"])
        want = bf.expected[op["day"]]
        if op["frames"] != want:
            run.fail(f"backfill day {op['day']}: wrote {op['frames']} frames, "
                     f"the checked pass {want}")
        run.tally(want, abs(op["frames"] - want))
    return ops


def backfill_setup(run: Run):
    """Inputs and the checked pass over the whole archive."""
    from backfill import Backfill

    t = time.perf_counter()
    bf = Backfill(run.spark, run.run_dir, run.args.seed)
    log(f"backfill inputs written in {time.perf_counter() - t:.1f}s")
    sec, bad = bf.checked_pass()
    log(f"checked pass {sec:.2f}s over {len(bf.days)} days; oracle mismatches {bad}")
    if bad:
        run.fail(f"backfill: {bad} silver rows differ from the oracle")
        run.failed += bad
    return bf


def backfill(run: Run) -> None:
    t = time.perf_counter()
    bf = backfill_setup(run)
    # After the checked pass, whose garbage dominates; the warm-up days
    # then re-warm whatever the collection dropped.
    common.settle(run.spark)
    warm = []
    for i in range(WARMUP_DAYS):
        out = bf.new_out()
        warm.append(bf.run_day(i % len(bf.days), out))
        bf.drop(out)
    run.warmup_s = time.perf_counter() - t
    log(f"warm-up days {[round(s, 2) for s in warm]}")
    run.setup_s = time.perf_counter() - T_START
    ops = backfill_ops(run, bf, itertools.cycle(range(len(bf.days))), run.args.seconds,
                       traced_every=2 if run.args.trace else 0)
    untraced = [op for op in ops if not op["traced"]]
    run.ops_s = [op["sec"] for op in untraced]
    run.work = sum(op["frames"] for op in untraced)
    log(f"{len(untraced)} timed days: {[round(s, 2) for s in run.ops_s]}")
    if run.args.trace:
        traced = [op for op in ops if op["traced"]]
        run.layers["trace.overhead_pct"] = (
            median([op["sec"] / op["frames"] for op in traced])
            / median([op["sec"] / op["frames"] for op in untraced]) - 1) * 100
        run.layers["session.python_workers"] = common.python_workers()
        run.layers.update(backfill_layers(run, bf, traced))
        run.layers.update(dashboard_probe(run))


def backfill_layers(run: Run, bf, traced: list[dict]) -> dict[str, float]:
    """The backfill layers: traced days, in-process probes and the
    Spark probe of one day."""
    import layers

    out = {"backfill.jobs_per_day": median([op["jobs"] for op in traced]),
           "backfill.tasks_per_day": median([op["tasks"] for op in traced]),
           "sinks.silver_files": median([op["files"] for op in traced])}
    inproc, obs_rows = layers.in_process(run.args.seed, bf.day_dirs[layers.PROBE_DAY])
    out.update(inproc)
    probe, frames = layers.backfill_probe(bf, obs_rows)
    want = bf.expected[layers.PROBE_DAY]
    if frames != want:
        run.fail(f"backfill: the one-task day wrote {frames} frames, the checked pass {want}")
    run.tally(want, abs(frames - want))
    out.update(probe)
    return out


def backfill_probe(run: Run) -> dict[str, float]:
    """The backfill layers when the workload is not backfill: the first
    days after the checked pass, traced."""
    bf = backfill_setup(run)
    return backfill_layers(run, bf, backfill_ops(run, bf, range(PROBE_DAYS), traced_every=1))


def refresh_ops(run: Run, d, name: str, seconds: float | None = None, count: int | None = None,
                trace: int = 0) -> list[dict]:
    """Panel operations of sequential refreshes, ``count`` refreshes or
    until ``seconds`` have passed. ``trace`` 1 traces every panel; 2
    traces every second one, alternating between refreshes, and runs
    refreshes in pairs, so that each panel runs once traced and once
    untraced per pair. Each panel must match its checked result."""
    deadline = time.perf_counter() + seconds if seconds else None
    ops = []
    for k in itertools.count():
        for i, panel in enumerate(d.queries):
            if trace == 1 or (trace == 2 and (i + k) % 2):
                sec, res, jobs, tasks = common.traced(run.spark, f"{name}-{k}-{i}",
                                                      lambda: d.panel(panel))
                op = {"sec": sec, "traced": True, "jobs": jobs, "tasks": tasks}
            else:
                res = d.panel(panel)
                op = {"sec": res[1], "traced": False}
            op["name"], op["panel_s"], _ = res
            op["bad"] = d.failed([res])
            ops.append(op)
        bad = sum(op["bad"] for op in ops[-len(d.queries):])
        if bad:
            run.fail(f"dashboard: {bad} panels differ from the checked results")
        run.tally(len(d.queries), bad)
        if count is not None and k + 1 >= count:
            break
        if deadline is not None and time.perf_counter() >= deadline and (trace != 2 or k % 2):
            break
    return ops


def dashboard(run: Run) -> None:
    from dashboard import Dashboard

    d = Dashboard(run.spark, run.run_dir, run.args.seed)
    t = time.perf_counter()
    # The first refresh pays JIT and code generation; four clients
    # overlap that. The second, sequential refresh is the steady state.
    first = d.refresh(clients=WARMUP_CLIENTS)
    problems = d.check_with_oracle(first)
    for p in problems:
        run.fail(p)
    run.failed += len(problems)
    second = d.refresh()
    run.warmup_s = time.perf_counter() - t
    if d.failed(second):
        run.fail("dashboard: warm-up refreshes disagree")
    log(f"warm-up refreshes {sum(s for _, s, _ in first):.2f}s, "
        f"{sum(s for _, s, _ in second):.2f}s; oracle problems {len(problems)}")
    common.settle(run.spark)
    run.setup_s = time.perf_counter() - T_START
    ops = refresh_ops(run, d, "window", seconds=run.args.seconds, trace=2 if run.args.trace else 0)
    untraced = [op for op in ops if not op["traced"]]
    run.ops_s = [op["sec"] for op in untraced]
    run.work = len(run.ops_s)
    log(f"{len(untraced)} timed panels, {sum(run.ops_s):.2f}s")
    if run.args.trace:
        plain = {op["name"]: op["sec"] for op in untraced}
        run.layers["trace.overhead_pct"] = median(
            [(op["sec"] / plain[op["name"]] - 1) * 100 for op in ops if op["traced"]])
        run.layers["session.python_workers"] = common.python_workers()
        run.layers.update(plans_layers(ops))
        run.layers.update(backfill_probe(run))


def plans_layers(ops: list[dict]) -> dict[str, float]:
    """The plans layer from traced panels: medians per panel, summed per refresh."""
    by_panel: dict[str, list[dict]] = {}
    for op in ops:
        if op["traced"]:
            by_panel.setdefault(op["name"], []).append(op)
    out = {f"plans.{name}_ms": median([op["panel_s"] for op in p]) * 1000
           for name, p in by_panel.items()}
    out["plans.refresh_s"] = sum(median([op["panel_s"] for op in p]) for p in by_panel.values())
    out["plans.jobs_per_refresh"] = sum(median([op["jobs"] for op in p]) for p in by_panel.values())
    out["plans.tasks_per_refresh"] = sum(median([op["tasks"] for op in p])
                                         for p in by_panel.values())
    return out


def dashboard_probe(run: Run) -> dict[str, float]:
    """The plans layer when the workload is not the dashboard: a checked
    warm-up refresh, then a traced one."""
    from dashboard import Dashboard

    d = Dashboard(run.spark, run.run_dir, run.args.seed)
    for p in d.check_with_oracle(d.refresh(clients=WARMUP_CLIENTS)):
        run.fail(p)
        run.failed += 1
    return plans_layers(refresh_ops(run, d, "probe", count=1, trace=1))


def live_probe(run: Run) -> None:
    import live_fleet

    t = time.perf_counter()
    live = live_fleet.run(run.spark, run.run_dir, run.args.seed, LIVE_PROBE_S)
    if not live["lag_ok"]:
        run.fail(f"live_fleet: generator fell {live['layers']['generator.lag_ms']:.0f} ms behind")
    run.layers.update(live["layers"])
    fresh = live["freshness_ms"]
    if not fresh:
        run.fail("live_fleet: no frame landed")
        fresh = [0.0]
    run.layers["live.freshness_p50_ms"] = quantile(fresh, 0.5)
    run.layers["live.freshness_p90_ms"] = quantile(fresh, 0.9)
    run.layers["live.frames_attempted"] = live["attempted"]
    run.layers["live.failed_frames"] = live["failed"]
    log(f"live probe {time.perf_counter() - t:.1f}s: {live['attempted']} frames, "
        f"{live['failed']} not landed exactly once")


WORKLOADS = {"backfill": backfill, "dashboard": dashboard}


# ---------------------------------------------------------------------------
# Entry point
# ---------------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(common.ROOT, "ntripmonitor_spark", "session.py")):
        log("ntripmonitor_spark/ not found: run from the repository root")
        return 2
    sys.path.insert(0, common.ROOT)
    common.adopt_orphans()
    # A terminating signal unwinds through the finally below, which
    # stops every process the run started.
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, lambda signum, _: sys.exit(128 + signum))
    run_dir = common.new_run_dir(args.workload, args.seed)
    common.pin_environment(run_dir)
    run = Run(args, run_dir)
    try:
        with common.RssSampler() if args.trace else contextlib.nullcontext() as rss:
            run.spark, run.session_s = common.start_session()
            log(f"session started in {run.session_s:.1f}s "
                f"({os.environ['SPARK_GRAFT_CPUS']} cores, {os.environ['SPARK_GRAFT_DRIVER_MEM']})")
            WORKLOADS[args.workload](run)
            if args.trace:
                live_probe(run)
    finally:
        try:
            if run.spark is not None:
                common.stop_session(run.spark)
        finally:
            common.stop_descendants()
            shutil.rmtree(run_dir, ignore_errors=True)
    if args.trace:
        metrics = dict(run.layers)
        metrics["session.start_s"] = run.session_s
        metrics["session.warmup_s"] = run.warmup_s
        metrics["session.peak_rss_mb"] = rss.peak_mb
        units = per_layer_units()
    else:
        metrics = {
            "latency_p50_ms": median(run.ops_s) * 1000,
            "throughput_per_s": run.work / sum(run.ops_s),
            "setup_s": run.setup_s,
        }
        units = END_TO_END
    if set(metrics) != set(units):
        log(f"metric set mismatch: {sorted(set(metrics) ^ set(units))}")
        return 1
    print(json.dumps({
        "correct": run.correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def per_layer_units() -> dict[str, str]:
    from dashboard import panel_queries

    units = dict(PER_LAYER)
    units.update({f"plans.{name}_ms": "ms" for name in panel_queries()})
    return units


if __name__ == "__main__":
    sys.exit(main())
