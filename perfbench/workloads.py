"""The workloads. Each names its untimed warm-up requests for a fresh
session, an endless seeded stream of timed requests, ``execute`` (the timed
operation) and ``check`` (untimed, no Spark), which returns the operation's
input rows and output bytes."""

from __future__ import annotations

import itertools
import os
import shutil

import numpy as np
from pyspark.sql import functions as F

from nbi_oedi_etl_spark.config import ETLConfig, JobSpec
from nbi_oedi_etl_spark.sources.catalog import data_table_name

from perfbench import checks, gen

#: ``run_pipeline`` resolves the metadata directory relative to the series
#: root; the generated release keeps the two side by side, as OEDI does.
METADATA_SUBPATH = "../metadata"
ENTITY_COLS = ("bldg_id", "upgrade", "state")
ETL_STATES = 2
SAMPLES_PER_JOB = 3
MAX_FETCH_BUILDINGS = 4


def etl_config(manifest: dict, dest: str, states, src: str | None = None,
               upgrades=gen.UPGRADES) -> ETLConfig:
    return ETLConfig(
        src_path=src or manifest["timeseries"],
        dest_path=dest,
        job_specific=[
            JobSpec(release_year="2024", release_name="comstock", state=s, upgrades=list(upgrades))
            for s in states
        ],
    )


def pick_states(manifest: dict, seed: int, n: int, salt: int) -> list[str]:
    rng = np.random.default_rng([seed, salt])
    return sorted(rng.choice(manifest["states"], n, replace=False).tolist())


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile; a failed request is +inf, and so is
    the percentile of no requests."""
    v = sorted(values)
    if not v:
        return float("inf")
    pos = (len(v) - 1) * p / 100.0
    lo, hi = int(np.floor(pos)), int(np.ceil(pos))
    if np.isinf(v[hi]):
        return float("inf")
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def warmup(eng, spark, manifest: dict, dest: str) -> None:
    """The set-up's first job: the whole ETL, catalog registration included,
    over one building's baseline file, then a query of the table it
    registered, so every engine layer has run once in the session."""
    fixture = manifest["setup"]
    shutil.rmtree(dest, ignore_errors=True)
    eng.run_pipeline(
        spark, etl_config(manifest, dest, [fixture["state"]], fixture["timeseries"], upgrades=[0]),
        metadata_subpath=METADATA_SUBPATH, register_tables=True, table_prefix="setup",
    )
    table = data_table_name("setup", fixture["state"])
    rows = eng.action(eng.construct(spark.sql, f"SELECT COUNT(*) FROM {table}"), "collect")
    checks.expect(rows[0][0] * 4 == fixture["rows"], f"set-up ETL wrote {rows[0][0]} hourly rows")


class Workload:
    name = ""
    #: Timed requests per turn of the request mix; a session's window always
    #: ends on a whole turn, so every run times the same mix.
    cycle = 1

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.m = ctx.manifest

    def layer_counts(self) -> dict:
        """Per-layer counts only the workload can see."""
        return {}


class EtlBatch(Workload):
    """``run_pipeline`` over several per-state JobSpecs (both upgrades),
    metadata bypass and catalog registration on. The only writing workload."""

    name = "etl_batch"

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.states = pick_states(self.m, ctx.seed, ETL_STATES, salt=1)
        self.rng = np.random.default_rng([ctx.seed, 2])
        self.rows_listed = 0
        self.files_written = 0
        self.bytes_written = 0

    def _dest(self, tag: str) -> str:
        return os.path.join(self.ctx.work, "etl", tag)

    def warmup_requests(self, session: int) -> list:
        """None: the set-up's warm-up ETL has compiled this code path."""
        return []

    def requests(self):
        for i in itertools.count():
            yield self._dest(f"op{i}"), self.states

    def selected_bytes(self, req) -> int:
        _, states = req
        return gen.selected_bytes(self.m, states) + self.m["bytes"]["metadata"]

    def execute(self, eng, spark, req):
        dest, states = req
        shutil.rmtree(dest, ignore_errors=True)
        return eng.run_pipeline(
            spark, etl_config(self.m, dest, states),
            metadata_subpath=METADATA_SUBPATH, register_tables=True,
        )

    def check(self, req, results) -> tuple[int, int]:
        dest, states = req
        checks.expect([r.job.rsplit("_", 1)[-1] for r in results] == states, "one result per JobSpec")
        for state, res in zip(states, results):
            checks.check_etl_job(res, self.m, state, self.rng, SAMPLES_PER_JOB)
            self.rows_listed += res.counters["rows_listed"]
            _, files, size = checks.parquet_rows_and_bytes(res.output_path)
            self.files_written += files
            self.bytes_written += size
        checks.check_states_absent(os.path.join(dest, "etl_output"), states)
        _, _, out_bytes = checks.parquet_rows_and_bytes(dest)
        shutil.rmtree(dest, ignore_errors=True)
        return gen.selected_rows(self.m, states), out_bytes

    def layer_counts(self) -> dict:
        return {"monitor.rows_listed": self.rows_listed, "sinks.files_written": self.files_written,
                "sinks.bytes_written": self.bytes_written}


class SeriesFetch(Workload):
    """Per request: one state/upgrade partition, ``bldg_id IN`` a few seeded
    buildings, hourly resample, ``toPandas``. Little data per request, so
    per-request overhead dominates."""

    name = "series_fetch"
    cycle = MAX_FETCH_BUILDINGS

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.stream = self._fetches(np.random.default_rng([ctx.seed, 4]))
        self.warm = self._fetches(np.random.default_rng([ctx.seed, 6]))

    def _fetches(self, rng):
        """Seeded state, upgrade and buildings; the building count cycles
        through 1..MAX_FETCH_BUILDINGS, so every run has the same mix of
        request sizes whatever the seed."""
        for i in itertools.count():
            state = str(rng.choice(self.m["states"]))
            upgrade = int(rng.choice(gen.UPGRADES))
            ids = [b["bldg_id"] for b in self.m["buildings"][state]]
            k = 1 + i % MAX_FETCH_BUILDINGS
            yield state, upgrade, sorted(int(b) for b in rng.choice(ids, k, replace=False))

    def warmup_requests(self, session: int) -> list:
        """One fetch: the set-up's ETL compiled the scan and resample, not
        the Arrow collect."""
        return [next(self.warm)]

    def requests(self):
        return self.stream

    def _files(self, req):
        state, upgrade, bldgs = req
        return [gen.bldg_file(self.m, state, upgrade, b) for b in bldgs]

    def selected_bytes(self, req) -> int:
        return sum(os.path.getsize(f) for f in self._files(req))

    def execute(self, eng, spark, req):
        state, upgrade, bldgs = req
        df = eng.read_partitioned(spark, self.m["timeseries"],
                                  partition_filters={"state": state, "upgrade": upgrade})
        df = eng.construct(lambda d: d.where(F.col("bldg_id").isin(bldgs)), df)
        hourly = eng.resample_hourly(df, entity_cols=ENTITY_COLS, mean_cols=gen.MEASURE_COLUMNS)
        return eng.action(hourly, "toPandas")

    def check(self, req, pdf) -> tuple[int, int]:
        state, upgrade, bldgs = req
        checks.check_series_frame(pdf, state, upgrade, bldgs, self._files(req))
        return len(bldgs) * self.m["size"]["days"] * 96, int(pdf.memory_usage(deep=True).sum())


WORKLOADS = {w.name: w for w in (EtlBatch, SeriesFetch)}
