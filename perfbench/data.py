"""Seeded synthetic input tables.

Same table names, column names, types and value domains as the
harness's TPC-H-like scale-factor directories (``region`` .. ``lineitem``
plus the ``events`` stream table; one parquet file each), generated
from the workload seed so that the benchmark brings its own inputs:
``sf=0.1`` gives 100,000 events and 600,000 line items.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "green", "large", "metal", "red", "shiny", "small", "steel"]
P_NOUN = ["anvil", "bolt", "gear", "nut", "ring", "spring", "valve", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
US_DAY = 86_400_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _days(start: str, n_days: int, size: int, rng) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    return _ts(base + rng.integers(0, n_days, size) * US_DAY)


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _pick(rng, values: list[str], size: int) -> pa.Array:
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), size)],
                    type=pa.string())


def _region(rng, sf):
    return {"r_regionkey": pa.array(range(5), type=pa.int32()), "r_name": pa.array(REGIONS)}


def _nation(rng, sf):
    return {
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(rng.integers(0, 5, 25), type=pa.int32()),
    }


def _customer(rng, sf):
    n = int(150_000 * sf)
    return {
        "c_custkey": pa.array(np.arange(n), type=pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), type=pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    }


def _supplier(rng, sf):
    n = int(10_000 * sf)
    return {
        "s_suppkey": pa.array(np.arange(n), type=pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n), type=pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    }


def _part(rng, sf):
    n = int(200_000 * sf)
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    return {
        "p_partkey": pa.array(np.arange(n), type=pa.int64()),
        "p_name": _pick(rng, names, n),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _pick(rng, P_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), type=pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n) * 0.1, 1),
    }


def _orders(rng, sf):
    n, n_cust = int(1_500_000 * sf), int(150_000 * sf)
    # Two percent of customers never order (the no-order panels need some).
    return {
        "o_orderkey": pa.array(np.arange(n), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, int(n_cust * 0.98), n), type=pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
        "o_orderdate": _days("1995-01-01", 2405, n, rng),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    }


def _lineitem(rng, sf):
    n = int(6_000_000 * sf)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return {
        "l_orderkey": pa.array(rng.integers(0, int(1_500_000 * sf), n), type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, int(200_000 * sf), n), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, int(10_000 * sf), n), type=pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), type=pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days("1995-01-02", 2499, n, rng),
    }


def _events(rng, sf):
    n = int(1_000_000 * sf)
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    return {
        "event_id": pa.array(np.arange(n), type=pa.int64()),
        "ts": _ts(np.sort(start + rng.integers(0, 30 * US_DAY, n))),
        "user_id": pa.array(rng.integers(0, int(15_000 * sf), n), type=pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


TABLES = {
    "region": _region, "nation": _nation, "customer": _customer, "supplier": _supplier,
    "part": _part, "orders": _orders, "lineitem": _lineitem, "events": _events,
}


def table(seed: int, sf: float, name: str) -> pa.Table:
    """One table; each has its own random stream, so any subset of
    tables generated from one seed is the same data."""
    rng = np.random.default_rng([seed, list(TABLES).index(name)])
    return pa.table(TABLES[name](rng, sf))


def write(seed: int, sf: float, path: str, names: tuple[str, ...] | None = None) -> str:
    """Write the tables (or the named subset) as ``<path>/<name>.parquet``."""
    os.makedirs(path, exist_ok=True)
    for name in names or TABLES:
        pq.write_table(table(seed, sf, name), os.path.join(path, f"{name}.parquet"))
    return path


def event_blobs(seed: int, sf: float) -> pa.Table:
    """The (mountpoint, receive_time, blob) rows ``plans.rtcm.event_blobs``
    derives from the events table (one frame per event behind junk bytes,
    a CRC-corrupted decoy every 13th), built in-process with the same
    encoder; the oracle SQL of ``rt01_packages`` / ``rt02_observations``
    re-derives every frame from the same events."""
    from ntripmonitor_spark.sources.encoder_vec import encode_event_blobs

    ev = table(seed, sf, "events")
    e = ev.column("event_id").to_numpy()
    u = ev.column("user_id").to_numpy()
    ts_us = ev.column("ts").cast(pa.int64()).to_numpy()
    buf, offs = encode_event_blobs(e, u, ts_us, ev.column("props").to_pylist())
    blob = pa.Array.from_buffers(pa.binary(), len(e), [
        None, pa.py_buffer(offs.astype(np.int32).tobytes()), pa.py_buffer(buf.tobytes())])
    return pa.table({
        "mountpoint": pa.array(np.char.add("MP", (u % 8).astype(str))),
        "receive_time": pa.array(ts_us + ((e % 200) + 40) * 1000, type=pa.int64())
        .cast(pa.timestamp("us", tz="UTC")),
        "blob": blob,
    })


def write_days(t: pa.Table, path: str, files_per_day: int) -> list[str]:
    """Write the time-ordered blob rows as one directory per UTC day of
    ``receive_time``, named by the date (``2024-01-01``) and holding
    ``files_per_day`` parquet files of consecutive rows (one input split
    each), as an archive lands. Returns the day directories in time order."""
    days = pc.floor_temporal(t.column("receive_time"), unit="day").cast(pa.int64()).to_numpy()
    dates = days.astype("datetime64[us]").astype("datetime64[D]")
    cuts = np.flatnonzero(np.diff(days)) + 1
    out = []
    for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, t.num_rows]):
        day_dir = os.path.join(path, str(dates[lo]))
        os.makedirs(day_dir)
        step = -(-(hi - lo) // files_per_day)
        for i in range(files_per_day):
            pq.write_table(t.slice(lo + i * step, min(step, hi - lo - i * step)),
                           os.path.join(day_dir, f"part-{i:05d}.parquet"))
        out.append(day_dir)
    return out
