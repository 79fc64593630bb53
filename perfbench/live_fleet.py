"""``live_fleet``: open-loop ingest from a loopback caster.

Program path: ``ntrip_live`` source -> ``rtcm.decode_frames`` ->
``pipeline.decoded_parquet_sink`` with observations on. The caster
(perfbench/caster.py) runs as its own process on a wall-clock schedule;
a frame's freshness is the time from its due time at the generator to
the end of the foreachBatch write that committed its package row.

This runs only inside traced runs, as the probe of the ``ntrip_live``,
``pipeline`` and streaming ``sinks`` layers, not as a timed workload:
the source caches one connection per (Python worker, mountpoint), so
when a partition's task lands on another worker the caster gets a
second connection, and frames land twice or sit unread in an idle
worker's socket. On 4 cores about half the frames of a short run are
not landed exactly once, and a timed workload must not fail.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys
import time

from caster import MOUNTPOINTS
from common import ROOT, median

DRAIN_BATCHES = 1  # whole micro-batches started after the generator stops
DRAIN_LIMIT_S = 45.0
FIRST_BATCH_LIMIT_S = 90.0
LAG_LIMIT_MS = 1000.0  # a generator later than this invalidates the run


class Generator:
    """The caster process and its stdin/stdout protocol."""

    def __init__(self, seed: int, ledger: str):
        self.ledger = ledger
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "caster.py"),
             "--seed", str(seed), "--ledger", ledger],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        line = self.proc.stdout.readline().split()
        if len(line) != 2 or line[0] != "port":
            self.close()
            raise RuntimeError(f"caster did not start: {line}")
        self.port = int(line[1])

    def stop_producing(self) -> dict:
        self.proc.stdin.write("stop\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline().split()
        if not line or line[0] != "stopped":
            raise RuntimeError(f"caster did not stop: {line}")
        with open(self.ledger) as fh:
            return json.load(fh)

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.close()
            except OSError:
                pass
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


def _dir_files(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def run(spark, run_dir: str, seed: int, seconds: float) -> dict:
    from pyspark.sql import functions as F

    from ntripmonitor_spark.operators import rtcm
    from ntripmonitor_spark.sources.ntrip_live import register_live_source
    from ntripmonitor_spark.streaming.pipeline import decoded_parquet_sink

    pkg_path = os.path.join(run_dir, "packages")
    obs_path = os.path.join(run_dir, "observations")
    gen = Generator(seed, os.path.join(run_dir, "ledger.json"))
    commits: dict[int, tuple[float, float]] = {}
    query = None
    try:
        register_live_source(spark)
        casters = [{"url": f"http://127.0.0.1:{gen.port}", "mountpoint": f"MP{i:02d}"}
                   for i in range(MOUNTPOINTS)]
        raw = (spark.readStream.format("ntrip_live")
               .option("casters", json.dumps(casters)).load())
        # The live source emits the bronze archive schema; decode wants
        # a timestamp, as streaming.replay.frames_stream projects it.
        frames = raw.select("mountpoint",
                            F.timestamp_micros("receive_time_us").alias("receive_time"),
                            "frame")
        sink = decoded_parquet_sink(pkg_path, obs_path, store_observations=True)

        def body(df, batch_id: int) -> None:
            start = time.time()
            sink(df, batch_id)
            commits[batch_id] = (start, time.time())

        query = (rtcm.decode_frames(frames).writeStream
                 .option("checkpointLocation", os.path.join(run_dir, "checkpoint"))
                 .foreachBatch(body).trigger(processingTime="0 seconds").start())
        deadline = time.monotonic() + FIRST_BATCH_LIMIT_S
        while not commits:
            if time.monotonic() > deadline or not query.isActive:
                raise RuntimeError("first micro-batch did not commit")
            time.sleep(0.05)
        warm_batches = set(commits)
        t0 = time.time()
        time.sleep(seconds)
        t1 = time.time()
        ledger = gen.stop_producing()
        deadline = time.monotonic() + DRAIN_LIMIT_S
        while sum(1 for s, _ in commits.values() if s > t1) < DRAIN_BATCHES:
            if time.monotonic() > deadline or not query.isActive:
                break
            time.sleep(0.05)
        progress = list(query.recentProgress)
    finally:
        if query is not None:
            query.stop()
            query.awaitTermination()
        gen.close()

    rows = spark.read.parquet(pkg_path).select(
        "mountpoint", "obs_epoch", "msg_type", "msg_size", "sat_count", "batch_id").collect()
    return _score(ledger, rows, commits, warm_batches, progress, t0, t1, pkg_path, obs_path)


def _key(mp: str, msg_type: int, obs_epoch, sat_count) -> tuple:
    """Ledger key of a package row: MSM frames by epoch ms-of-day and
    satellite count, other frames by type alone."""
    if obs_epoch is None:
        return (mp, msg_type, -1, -1)
    us = (obs_epoch - dt.datetime(1970, 1, 1, tzinfo=obs_epoch.tzinfo)) // dt.timedelta(microseconds=1)
    return (mp, msg_type, (us // 1000) % 86_400_000, sat_count)


def _score(ledger, rows, commits, warm_batches, progress, t0, t1, pkg_path, obs_path) -> dict:
    """Match landed package rows to the ledger. A frame due in [t0, t1)
    fails unless it landed exactly once; rows matching no offered frame
    also count as failures."""
    mps = ledger["mountpoints"]
    # Landed package rows per frame key, in commit order.
    landed: dict[tuple, list[float]] = {}
    for r in rows:
        key = _key(r.mountpoint, r.msg_type, r.obs_epoch, r.sat_count) + (r.msg_size,)
        landed.setdefault(key, []).append(commits[r.batch_id][1])
    for v in landed.values():
        v.sort()
    offered: dict[tuple, list[float]] = {}
    for mp_idx, _k, t, key_ms, nsat, size, due in ledger["frames"]:
        offered.setdefault((mps[mp_idx], t, key_ms, nsat, size), []).append(due)
    attempted = failed = duplicates = 0
    fresh_ms: list[float] = []
    for key, dues in offered.items():
        dues.sort()
        got = landed.get(key, [])
        if len(got) > len(dues):
            duplicates += len(got) - len(dues)
        for i, due in enumerate(dues):
            if not t0 <= due < t1:
                continue
            attempted += 1
            if len(got) != len(dues):
                failed += 1
                continue
            fresh_ms.append((got[i] - due) * 1000)
    unknown = sum(len(v) for k, v in landed.items() if k not in offered)
    dur = {k: [] for k in ("triggerExecution", "addBatch", "queryPlanning", "walCommit",
                           "commitOffsets", "latestOffset")}
    rows_per_batch = []
    for p in progress:
        if p.batchId in warm_batches:
            continue
        for k in dur:
            dur[k].append(p.durationMs.get(k, 0))
        rows_per_batch.append(p.numInputRows)
    files = []
    sizes = []
    for bid in commits:
        if bid in warm_batches:
            continue
        f1, s1 = _dir_files(os.path.join(pkg_path, f"batch_id={bid}"))
        f2, s2 = _dir_files(os.path.join(obs_path, f"batch_id={bid}"))
        files.append(f1 + f2)
        sizes.append(s1 + s2)
    write_ms = [(e - s) * 1000 for bid, (s, e) in commits.items() if bid not in warm_batches]
    return {
        "attempted": attempted,
        "failed": failed + unknown,
        "freshness_ms": fresh_ms,
        "layers": {
            "ntrip_live.connections_per_mountpoint": sum(ledger["accepts"]) / len(mps),
            "ntrip_live.duplicate_frames": duplicates,
            "generator.lag_ms": ledger["lag_ms_max"],
            "pipeline.trigger_ms_p50": median(dur["triggerExecution"] or [0]),
            "pipeline.add_batch_ms_p50": median(dur["addBatch"] or [0]),
            "pipeline.query_planning_ms_p50": median(dur["queryPlanning"] or [0]),
            "pipeline.wal_commit_ms_p50": median(dur["walCommit"] or [0]),
            "pipeline.commit_offsets_ms_p50": median(dur["commitOffsets"] or [0]),
            "pipeline.latest_offset_ms_p50": median(dur["latestOffset"] or [0]),
            "pipeline.rows_per_batch_p50": median(rows_per_batch or [0]),
            "pipeline.batches": len(rows_per_batch),
            "sinks.batch_write_ms_p50": median(write_ms or [0]),
            "sinks.files_per_batch": median(files or [0]),
            "sinks.bytes_per_batch": median(sizes or [0]),
        },
        "lag_ok": ledger["lag_ms_max"] <= LAG_LIMIT_MS,
    }
