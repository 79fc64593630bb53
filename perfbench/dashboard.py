"""``dashboard``: closed loop, one client refreshing 35 panels.

Each refresh runs the panel-shaped registered queries (q01-q30,
sn01-sn03, st01-st02) over seeded sf0.01 tables and ``collect()``s every
result, as a dashboard renders it. The setup refreshes are checked
against the registry's DuckDB oracle SQL; timed results must equal the
checked ones.
"""

from __future__ import annotations

import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import data
import oracle

SF = 0.01
PANELS = tuple(
    [f"q{i:02d}" for i in range(1, 31)] + ["sn01", "sn02", "sn03", "st01", "st02"]
)


def panel_queries() -> dict[str, object]:
    from ntripmonitor_spark.plans.registry import REGISTRY

    out = {}
    for prefix in PANELS:
        (name,) = [n for n in REGISTRY if n.startswith(prefix + "_")]
        out[name] = REGISTRY[name]
    return out


class Dashboard:
    def __init__(self, spark, run_dir: str, seed: int):
        self.spark = spark
        self.sf_dir = data.write(seed, SF, os.path.join(run_dir, f"dashboard-sf{SF}"))
        self.queries = panel_queries()
        self.expected: dict[str, str] = {}

    def panel(self, name: str) -> tuple[str, float, list | None]:
        """Run one panel: (name, seconds, canonical result or None on error)."""
        t = time.perf_counter()
        try:
            df = self.queries[name].fn(self.spark, self.sf_dir)
            rows = df.collect()
            dt = time.perf_counter() - t
            return name, dt, oracle.canonical(df.columns, [tuple(r) for r in rows])
        except Exception as exc:  # a failing panel is counted, not fatal
            print(f"panel {name} failed: {exc!r}"[:500], file=sys.stderr)
            return name, time.perf_counter() - t, None

    def refresh(self, clients: int = 1) -> list[tuple[str, float, list | None]]:
        """One refresh of every panel. ``clients`` > 1 runs panels
        concurrently (used only to warm up: panel times then overlap)."""
        if clients == 1:
            return [self.panel(name) for name in self.queries]
        with ThreadPoolExecutor(clients) as pool:
            return list(pool.map(self.panel, self.queries))

    def check_with_oracle(self, results) -> list[str]:
        """Compare one refresh with the oracle; remember the digests."""
        want = oracle.in_child(oracle.panel_oracles, self.sf_dir)
        problems = []
        for name, _, canon in results:
            if canon is None:
                problems.append(f"{name}: error")
            elif oracle.digest(canon) != want[name][0]:
                problems.append(f"{name}: {len(canon) - 1} rows differ from the oracle's "
                                f"{want[name][1]}")
            else:
                self.expected[name] = want[name][0]
        return problems

    def failed(self, results) -> int:
        """Panels of a refresh that errored or differ from the checked result."""
        return sum(1 for name, _, canon in results
                   if canon is None or self.expected.get(name) != oracle.digest(canon))
