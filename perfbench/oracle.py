"""Result checks against the registry's DuckDB oracle SQL.

Canonical form as in the repository's parity tests (``canonicalize`` of
``tests/oracle.py``: columns sorted by name, floats rendered to 9
significant digits, rows sorted); two results match when their
canonical forms, with the sorted column names, are equal.

The oracle queries run in a child Python process (``in_child``, which
waits for it to end), so DuckDB's memory neither counts towards the
measured process tree nor stays in the benchmark process afterwards.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import duckdb

from tests.oracle import canonicalize


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A view per table file in ``sf_dir``. ``tests.oracle.duck_connection``
    needs every table of ``tables.TABLE_NAMES``, and the benchmark writes
    only those its queries read. Timestamps render in UTC, as the
    session's collected rows do."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(sf_dir, f)
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
    return con


def canonical(columns: list[str], rows: list[tuple]) -> list[tuple]:
    return [tuple(sorted(columns))] + canonicalize(columns, rows)


def digest(canon: list[tuple]) -> str:
    h = hashlib.sha256()
    for row in canon:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def oracle_canonical(con: duckdb.DuckDBPyConnection, sql: str) -> list[tuple]:
    cur = con.execute(sql)
    cols = [c[0] for c in cur.description]
    return canonical(cols, cur.fetchall())


def in_child(fn, *args: str):
    """Run this module's ``fn(*args)`` in a fresh Python process, wait
    for it to end and return its result, passed back as JSON."""
    out = subprocess.run([sys.executable, os.path.abspath(__file__), fn.__name__, *args],
                         stdout=subprocess.PIPE, text=True, check=True)
    return json.loads(out.stdout)


def panel_oracles(sf_dir: str) -> dict[str, tuple[str, int]]:
    """Oracle (digest, row count) of every dashboard panel."""
    from dashboard import panel_queries

    con = connect(sf_dir)
    try:
        out = {}
        for name, q in panel_queries().items():
            canon = oracle_canonical(con, q.oracle)
            out[name] = (digest(canon), len(canon) - 1)
        return out
    finally:
        con.close()


def silver_mismatches(sf_dir: str, silver: str) -> int:
    """Rows of the silver tables under ``silver`` that differ from the
    rt01_packages / rt02_observations oracles."""
    from ntripmonitor_spark.plans.registry import REGISTRY

    con = connect(sf_dir)
    try:
        bad = table_mismatches(
            con, os.path.join(silver, "packages", "*", "*", "*.parquet"),
            ["mountpoint", "receive_time", "obs_epoch", "msg_type", "msg_size", "sat_count"],
            set(), {"receive_time", "obs_epoch"}, REGISTRY["rt01_packages"].oracle)
        bad += table_mismatches(
            con, os.path.join(silver, "observations", "*", "*", "*.parquet"),
            ["mountpoint", "obs_epoch", "msg_type", "sat_id", "sat_signal", "code", "phase",
             "doppler", "snr", "lock", "constellation"],
            {"code", "phase", "doppler", "snr"}, {"obs_epoch"}, REGISTRY["rt02_observations"].oracle)
        return bad
    finally:
        con.close()


def table_mismatches(con: duckdb.DuckDBPyConnection, parquet_glob: str, columns: list[str],
                     float_cols: set[str], ts_cols: set[str], sql: str) -> int:
    """Rows of a written parquet dataset and of the oracle SQL that have
    no equal partner on the other side (multiset difference, both ways),
    in the same canonical form. Runs inside DuckDB: the datasets are far
    larger than a dashboard panel."""

    def proj(alias: str) -> str:
        out = []
        for c in columns:
            if c in float_cols:
                out.append(f"printf('%.9g', {alias}.{c}) AS {c}")
            elif c in ts_cols:
                out.append(f"CAST(epoch_us({alias}.{c}) AS VARCHAR) AS {c}")
            else:
                out.append(f"CAST({alias}.{c} AS VARCHAR) AS {c}")
        return ", ".join(out)

    got = (f"SELECT {proj('g')} FROM read_parquet('{parquet_glob}', "
           f"hive_partitioning = true) g")
    want = f"SELECT {proj('o')} FROM ({sql}) o"
    q = (f"SELECT (SELECT count(*) FROM ({got} EXCEPT ALL {want})) + "
         f"(SELECT count(*) FROM ({want} EXCEPT ALL {got}))")
    return int(con.execute(q).fetchone()[0])


if __name__ == "__main__":
    print(json.dumps(globals()[sys.argv[1]](*sys.argv[2:])))
