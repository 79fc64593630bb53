"""``backfill``: closed-loop bronze -> silver reprocessing, one archived
day per operation.

Input: the raw caster blobs that ``plans.rtcm.event_blobs`` derives
from the 100,000 events of a seeded sf0.1 ``events`` table (junk
prefixes and CRC-corrupted decoys included), materialized once as a
bronze archive: one directory per UTC day (30 days of about 3,300
blobs), each split into one parquet file per core. One operation
re-decodes one day: ``rtcm.decode_blobs`` -> ``rtcm.packages`` +
``rtcm.observations`` -> ``sinks.write_silver``, the decode persisted
across the two writes. A checked pass runs the same steps over the
whole archive and is compared with the registry's oracle SQL
(``rt01_packages`` / ``rt02_observations``); every operation must then
write as many package rows as the checked pass wrote for its day.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow.parquet as pq

import data
import oracle

SF = 0.1


class Backfill:
    def __init__(self, spark, run_dir: str, seed: int):
        self.run_dir = run_dir
        self.sf_dir = data.write(seed, SF, os.path.join(run_dir, f"backfill-sf{SF}"), ("events",))
        self.day_dirs = data.write_days(data.event_blobs(seed, SF),
                                        os.path.join(run_dir, "archive"),
                                        spark.sparkContext.defaultParallelism)
        schema = spark.read.parquet(self.day_dirs[0]).schema
        self.days = [spark.read.schema(schema).parquet(d) for d in self.day_dirs]
        self.archive = spark.read.schema(schema).parquet(*self.day_dirs)
        self.expected: dict[int, int] = {}  # day -> package rows of the checked pass
        self.outs = 0

    def new_out(self) -> str:
        """A fresh silver directory."""
        self.outs += 1
        return os.path.join(self.run_dir, f"silver-{self.outs}")

    @staticmethod
    def decode(blobs):
        """The blobs' persisted decode, not yet computed."""
        from ntripmonitor_spark.operators import rtcm

        return rtcm.decode_blobs(blobs).persist()

    @staticmethod
    def write(decoded, out: str) -> None:
        from ntripmonitor_spark import sinks
        from ntripmonitor_spark.operators import rtcm

        sinks.write_silver(rtcm.packages(decoded), os.path.join(out, "packages"))
        sinks.write_silver(rtcm.observations(decoded), os.path.join(out, "observations"),
                           time_col="obs_epoch")

    def run_blobs(self, blobs, out: str) -> float:
        """Decode the blobs into silver tables under ``out``; returns seconds."""
        t = time.perf_counter()
        decoded = self.decode(blobs)
        try:
            self.write(decoded, out)
        finally:
            decoded.unpersist()
        return time.perf_counter() - t

    def run_day(self, day: int, out: str, one_task: bool = False) -> float:
        """One operation: re-decode the day into ``out``; returns seconds.
        ``one_task`` runs it as a single task, the one-core baseline."""
        return self.run_blobs(self.days[day].coalesce(1) if one_task else self.days[day], out)

    def checked_pass(self) -> tuple[float, int]:
        """Decode the whole archive, compare it with the oracle and
        remember each day's package rows; returns (seconds, rows that
        differ from the oracle)."""
        out = self.new_out()
        sec = self.run_blobs(self.archive, out)
        for day, d in enumerate(self.day_dirs):
            date = os.path.basename(d)
            self.expected[day] = self.rows(os.path.join(out, "packages", f"p_date={date}"))
        try:
            return sec, oracle.in_child(oracle.silver_mismatches, self.sf_dir, out)
        finally:
            self.drop(out)

    @staticmethod
    def rows(path: str) -> int:
        """Rows of the parquet files under ``path``."""
        return sum(pq.read_metadata(os.path.join(dirpath, n)).num_rows
                   for dirpath, _, names in os.walk(path) for n in names if n.endswith(".parquet"))

    def package_rows(self, out: str) -> int:
        return self.rows(os.path.join(out, "packages"))

    @staticmethod
    def drop(out: str) -> None:
        shutil.rmtree(out, ignore_errors=True)
