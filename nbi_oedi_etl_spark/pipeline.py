"""The ETL pipeline — the engine's restatement of the reference's whole
dataflow (SURVEY.md §3.1): list → fetch → transform → upload becomes
read (partition-pruned) → resample → write (hive-partitioned), with
metadata bypass, timestamped output epochs, catalog registration, and a
reconciliation summary.

What took the reference ~1,100 LoC of asyncio + multiprocessing queue
machinery (etl_job.py, fetch.py, transform.py, upload.py, monitor.py) is
four declarative Spark jobs here: Catalyst + the task scheduler replace the
hand-built pipeline, and every stage scales by partitioning instead of
local worker pools.

Scale posture: one shuffle total (the resample's entity×hour grouping);
the write re-clusters by partition columns to bound file counts. Listing
is NOT pruned: each read lists every file under the source root (on the
driver below ``spark.sql.sources.parallelPartitionDiscovery.threshold``
paths, as a Spark job above it), unlike the reference's prefix-scoped,
paced lister (fetch.py:60-126); partition pruning in the file index then
skips opening and decoding the unselected partitions.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nbi_oedi_etl_spark.config import ETLConfig, JobSpec
from nbi_oedi_etl_spark.monitor import StageCounters
from nbi_oedi_etl_spark.operators.resample import (
    REFERENCE_MEASURE_COLUMNS,
    resample_hourly,
)
from nbi_oedi_etl_spark.sources.catalog import (
    data_table_name,
    metadata_table_name,
    register_parquet_table,
)
from nbi_oedi_etl_spark.sources.parquet import read_partitioned
from nbi_oedi_etl_spark.sources.sinks import write_parquet


@dataclass
class JobResult:
    """Mirrors the reference monitor's summary JSON fields
    (monitor.py:108-136)."""

    job: str
    rows_in: int = 0
    rows_out: int = 0
    wall_seconds: float = 0.0
    output_path: str = ""
    counters: dict[str, int] = field(default_factory=dict)


def run_etl_job(
    spark: SparkSession,
    config: ETLConfig,
    job: JobSpec,
    epoch: str,
    ts_col: str = "timestamp",
    entity_cols: tuple[str, ...] = ("bldg_id", "upgrade", "state"),
    min_cols: tuple[str, ...] = ("bldg_id", "timestamp"),
    mean_cols: tuple[str, ...] | None = None,
) -> JobResult:
    """One (release, state, upgrades) ETL job: partition-pruned read →
    hourly resample → hive-partitioned snappy write.

    The reference's equivalent is etl_process (etl_job.py:52-154). Grouping
    includes the entity/partition keys so the unioned-files run is exactly
    equivalent to the reference's per-file run (SURVEY.md §7.4.2).
    """
    t0 = time.perf_counter()
    name = f"{job.release_name}_{job.release_year}_{job.state}".strip("_")
    filters: dict[str, object] = {}
    if job.state:
        filters["state"] = job.state
    if job.upgrades:
        filters["upgrade"] = list(job.upgrades)

    counters = StageCounters()
    src = read_partitioned(spark, config.src_path, partition_filters=filters or None)
    src = counters.count_stage(src, "rows_listed")

    measures = mean_cols if mean_cols is not None else tuple(
        c for c in REFERENCE_MEASURE_COLUMNS if c in src.columns
    )
    hourly = resample_hourly(
        src,
        ts_col=ts_col,
        entity_cols=tuple(c for c in entity_cols if c in src.columns),
        min_cols=tuple(c for c in min_cols if c in src.columns),
        mean_cols=measures,
    )

    out_path = f"{config.dest_path}/{config.output_dir}/{epoch}/{name}"
    part_cols = [c for c in ("upgrade", "state") if c in hourly.columns]
    write_parquet(hourly, out_path, partition_by=part_cols, mode="overwrite")

    # rows_out comes from the files on disk; the written frame's schema is
    # declared so the re-read skips a schema-inference job
    out_df = spark.read.schema(hourly.schema).parquet(out_path)
    rows_out = out_df.count()
    summary = counters.summary()
    return JobResult(
        job=name,
        rows_in=summary.get("rows_listed", 0),
        rows_out=rows_out,
        wall_seconds=round(time.perf_counter() - t0, 3),
        output_path=out_path,
        counters=summary,
    )


def bypass_metadata(
    spark: SparkSession, config: ETLConfig, metadata_subpath: str, epoch: str
) -> str:
    """S6 metadata bypass (fetch.py:161-196): copy the dimension table to the
    destination untransformed."""
    src = f"{config.src_path}/{metadata_subpath}"
    dest = f"{config.dest_path}/{config.output_dir}/{epoch}/{metadata_subpath}"
    spark.read.parquet(src).write.mode("overwrite").parquet(dest)
    return dest


def run_pipeline(
    spark: SparkSession,
    config: ETLConfig,
    metadata_subpath: str | None = None,
    register_tables: bool = False,
    table_prefix: str = "oedi",
    **job_kwargs,
) -> list[JobResult]:
    """Full pipeline: every job_specific entry (reference asyncio.gather
    fan-out, main.py:93-108 — here sequential Spark jobs; each is already
    cluster-parallel), plus optional metadata bypass + catalog registration
    (the crawler step, main.py:115-148).

    Output epoch: one timestamped dir per run, append-only (main.py:58-60).
    """
    epoch = time.strftime("%Y-%m-%d-%H-%M-%S", time.gmtime())
    results = []
    for job in config.job_specific:
        res = run_etl_job(spark, config, job, epoch, **job_kwargs)
        results.append(res)
        if register_tables:
            register_parquet_table(
                spark, data_table_name(table_prefix, job.state or "all"), res.output_path
            )
    if metadata_subpath:
        dest = bypass_metadata(spark, config, metadata_subpath, epoch)
        if register_tables:
            register_parquet_table(spark, metadata_table_name(table_prefix), dest)
    return results
