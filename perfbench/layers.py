"""Per-layer probes of the traced run.

In-process probes time one layer's public function on the blobs of the
first archived day of the backfill input: ``framing.scan_frames_batch``
and ``rtcm_vec.decoded_record_batch``, and ``MountpointStreamState.feed``
over a recorded caster byte capture. The framing counters are what the
program does on that input: the candidates its batch CRC pass checks
and the blobs it hands to the scalar rescan. The Spark probe runs the
day through the steps of a backfill operation (``Backfill.decode`` and
``Backfill.write``), computing the decode first so that the flatten and
the silver write can be timed on their own, and then as one task.
"""

from __future__ import annotations

import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

MIN_PROBE_S = 0.5  # repeat an in-process probe until it has run this long
PROBE_DAY = 0


def _repeat(fn) -> tuple[float, object]:
    """Seconds per call of fn (repeated for at least MIN_PROBE_S) and its result."""
    n, t0 = 0, time.perf_counter()
    while True:
        out = fn()
        n += 1
        if time.perf_counter() - t0 >= MIN_PROBE_S:
            return (time.perf_counter() - t0) / n, out


def framing_counters(raw: list[bytes]) -> tuple[int, int]:
    """(candidates CRC-checked, blobs rescanned) of one
    ``scan_frames_batch`` call, counted by wrapping the batch CRC check
    and the scalar ``scan_frames`` it calls."""
    from ntripmonitor_spark.functions import crc24q
    from ntripmonitor_spark.sources import framing

    seen = {"candidates": 0, "rescanned": 0}
    crc_batch, scalar = crc24q.frame_crc_ok_batch, framing.scan_frames

    def crc_counted(m, lens):
        seen["candidates"] += len(lens)
        return crc_batch(m, lens)

    def scan_counted(buf, final=True):
        seen["rescanned"] += 1
        return scalar(buf, final)

    crc24q.frame_crc_ok_batch, framing.scan_frames = crc_counted, scan_counted
    try:
        framing.scan_frames_batch(raw)
    finally:
        crc24q.frame_crc_ok_batch, framing.scan_frames = crc_batch, scalar
    return seen["candidates"], seen["rescanned"]


def in_process(seed: int, day_dir: str) -> tuple[dict[str, float], int]:
    """Layer metrics of the in-process probes over one archived day, and
    the observation rows the day flattens to."""
    from ntripmonitor_spark.operators.rtcm_vec import decoded_record_batch
    from ntripmonitor_spark.sources.framing import scan_frames_batch

    blobs = pq.read_table(day_dir)
    raw = blobs.column("blob").to_pylist()
    sec, (frames, idx) = _repeat(lambda: scan_frames_batch(raw))
    candidates, rescanned = framing_counters(raw)
    take = pa.array(idx, type=pa.int64())
    mp = blobs.column("mountpoint").combine_chunks().take(take)
    rt = blobs.column("receive_time").combine_chunks().take(take)
    dsec, batch = _repeat(lambda: decoded_record_batch(mp, rt, frames))
    obs_rows = int(pc.sum(pc.list_value_length(batch.column("cells"))).as_py() or 0)
    return {
        "framing.frames_per_s": len(frames) / sec,
        "framing.valid_ratio": len(frames) / candidates,
        "framing.rescanned_blobs": rescanned,
        "rtcm_vec.frames_per_s": len(frames) / dsec,
        "rtcm.obs_rows_per_frame": obs_rows / len(frames),
        "ntrip_live.feed_mb_per_s": feed_mb_per_s(seed),
    }, obs_rows


def caster_capture(seed: int, chunked: bool, epochs: int = 120) -> bytes:
    """The bytes a caster mountpoint sends: response head, then epochs."""
    import random

    from caster import Mountpoint

    mp = Mountpoint(1 if not chunked else 0, random.Random(seed))
    out = [b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" if chunked
           else b"ICY 200 OK\r\n\r\n"]
    for k in range(epochs):
        body = b"".join(f for f, *_ in mp.epoch_frames(k, 1_700_000_000.0 + k))
        out.append(b"%x\r\n" % len(body) + body + b"\r\n" if chunked else body)
    return b"".join(out)


def feed_mb_per_s(seed: int) -> float:
    """MountpointStreamState.feed over both protocols' captures in
    1460-byte segments (one TCP segment per call)."""
    from ntripmonitor_spark.sources.ntrip_live import MountpointStreamState

    caps = [caster_capture(seed, True), caster_capture(seed, False)]
    segs = [[c[i:i + 1460] for i in range(0, len(c), 1460)] for c in caps]

    def run():
        n = 0
        for s in segs:
            state = MountpointStreamState("MP")
            for seg in s:
                n += len(state.feed(seg))
        return n

    sec, _ = _repeat(run)
    return sum(len(c) for c in caps) / sec / 1e6


def backfill_probe(bf, obs_rows: int) -> tuple[dict[str, float], int]:
    """Flatten and silver write of one day over its computed decode, and
    the day run as one task; returns the metrics and the package rows the
    one-task run wrote. ``bf`` has run the day at least once."""
    from ntripmonitor_spark.operators import rtcm

    decoded = bf.decode(bf.days[PROBE_DAY])
    try:
        decoded.write.format("noop").mode("overwrite").save()
        t0 = time.perf_counter()
        rtcm.observations(decoded).write.format("noop").mode("overwrite").save()
        t1 = time.perf_counter()
        out = bf.new_out()
        bf.write(decoded, out)
        t2 = time.perf_counter()
    finally:
        decoded.unpersist()
    bf.drop(out)
    out = bf.new_out()
    sec = bf.run_day(PROBE_DAY, out, one_task=True)
    frames = bf.package_rows(out)
    bf.drop(out)
    return {
        "rtcm.flatten_rows_per_s": obs_rows / (t1 - t0),
        "sinks.silver_write_s": t2 - t1,
        "backfill.frames_per_s_1core": frames / sec,
    }, frames
