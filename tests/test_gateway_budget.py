"""Construct-cost budgets of the interactive fetch path.

A small ``read_partitioned`` → ``resample_hourly`` request is bounded by
per-request overhead, not data volume: py4j gateway commands while the
DataFrame is built, and eager Spark jobs hidden inside construction. These
tests pin both: the resample's command count is a small constant that does
not grow with the measure-column count, and a repeated read of an unchanged
partitioned root launches no Spark job (its inferred schema is memoized).
"""

from __future__ import annotations

import contextlib
import time

import numpy as np
import pandas as pd

from nbi_oedi_etl_spark.operators.resample import REFERENCE_MEASURE_COLUMNS, resample_hourly
from nbi_oedi_etl_spark.sources.parquet import read_partitioned

#: Commands allowed for one ``resample_hourly`` call, whatever its width.
RESAMPLE_COMMAND_BUDGET = 25


@contextlib.contextmanager
def _count_commands(spark):
    """Count the gateway client's ``send_command`` calls inside the block
    (the same instance-level wrapper the benchmark's tracer installs)."""
    client = spark.sparkContext._gateway._gateway_client
    send = type(client).send_command.__get__(client)
    n = [0]

    def counting_send(*args, **kwargs):
        n[0] += 1
        return send(*args, **kwargs)

    client.send_command = counting_send
    try:
        yield n
    finally:
        del client.send_command


def _jobs_launched(spark, group: str, fn):
    """``fn()``'s result and the Spark job ids it launched under job group
    ``group``.

    The status tracker is fed asynchronously by the listener bus, so a
    marker job in a second group is run afterwards and awaited: the bus is
    FIFO, so once the marker is visible every job ``fn`` launched is too."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    marker = f"{group}-marker"
    try:
        sc.setJobGroup(group, group)
        out = fn()
        sc.setJobGroup(marker, marker)
        sc.parallelize([1], 1).count()
    finally:
        sc._jsc.clearJobGroup()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(marker):
        assert time.monotonic() < deadline, "marker job never reached the status tracker"
        time.sleep(0.05)
    return out, list(tracker.getJobIdsForGroup(group))


def _partitioned_root(tmp_path, measures) -> str:
    root = tmp_path / "ts"
    for upgrade in (0, 1):
        d = root / f"upgrade={upgrade}" / "state=AK"
        d.mkdir(parents=True)
        n = 8
        pdf = pd.DataFrame(
            {
                "timestamp": pd.date_range("2024-01-01", periods=n, freq="15min").astype(
                    "datetime64[us]"
                ),
                "bldg_id": np.full(n, 100, dtype=np.int64),
            }
        )
        for i, m in enumerate(measures):
            pdf[m] = np.arange(n, dtype=float) + i
        pdf.to_parquet(d / "100.parquet", index=False)
    return str(root)


def test_resample_command_count_is_constant(spark, tmp_path):
    """5 and 51 measure columns cost the same small number of commands: the
    aggregate is one SQL text, not one Column per measure."""
    root = _partitioned_root(tmp_path, REFERENCE_MEASURE_COLUMNS)
    src = read_partitioned(spark, root, partition_filters={"state": "AK", "upgrade": 0})
    keys = ("bldg_id", "upgrade", "state")
    # first call pays one-off JVM class lookups; the budget is the warm cost
    resample_hourly(src, entity_cols=keys, mean_cols=REFERENCE_MEASURE_COLUMNS[:5])
    counts = {}
    for width in (5, 51):
        with _count_commands(spark) as n:
            out = resample_hourly(
                src, entity_cols=keys, mean_cols=REFERENCE_MEASURE_COLUMNS[:width]
            )
        counts[width] = n[0]
        assert len(out.columns) == 2 + width + len(keys) + 1
    assert counts[5] == counts[51], counts
    assert counts[51] <= RESAMPLE_COMMAND_BUDGET, counts


def test_repeated_read_partitioned_launches_no_job(spark, tmp_path):
    """The first read of a root infers its schema (a Spark job); a repeated
    read of the unchanged root reuses the memoized schema and launches none,
    while still listing the files and returning the same rows."""
    root = _partitioned_root(tmp_path, REFERENCE_MEASURE_COLUMNS[:3])
    filters = {"state": "AK", "upgrade": 0}
    first, cold = _jobs_launched(
        spark, "memo-cold", lambda: read_partitioned(spark, root, filters)
    )
    assert cold, "the cold read should infer the schema with a Spark job"
    again, warm = _jobs_launched(
        spark, "memo-warm", lambda: read_partitioned(spark, root, filters)
    )
    assert warm == []
    assert again.schema == first.schema
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, first.collect()))
