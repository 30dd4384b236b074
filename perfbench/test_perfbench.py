"""The benchmark's own tests; no Spark. Run: python3 -m pytest perfbench -q"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from perfbench import checks, gen, trace, workloads

SMALL = gen.Size(buildings_per_state=6, days=1)


@pytest.fixture(scope="module")
def data(tmp_path_factory):
    base = tmp_path_factory.mktemp("data")
    return {seed: gen.ensure(str(base / f"run{seed}"), seed, SMALL) for seed in (1, 2)}


def digests(m: dict) -> tuple[str, str]:
    return gen.tree_digest(m["timeseries"]), gen.tree_digest(m["metadata"])


def test_same_seed_gives_identical_files(data, tmp_path):
    assert digests(gen.ensure(str(tmp_path), 1, SMALL)) == digests(data[1])


def test_different_seed_gives_different_files(data):
    a, b = digests(data[1]), digests(data[2])
    assert a[0] != b[0] and a[1] != b[1]


def test_reuse_keeps_files_and_bounds_the_cache(tmp_path):
    m = gen.ensure(str(tmp_path), 7, SMALL)
    probe = gen.bldg_file(m, "AK", 0, m["buildings"]["AK"][0]["bldg_id"])
    mtime = os.path.getmtime(probe)
    assert gen.ensure(str(tmp_path), 7, SMALL) == m
    assert os.path.getmtime(probe) == mtime
    for seed in (8, 9, 10):
        gen.ensure(str(tmp_path), seed, SMALL, keep=2)
    assert len(os.listdir(tmp_path)) == 2


def test_manifest_matches_files(data):
    m = data[1]
    for state in m["states"]:
        for u in m["upgrades"]:
            rows = sum(pq.ParquetFile(gen.bldg_file(m, state, u, b["bldg_id"])).metadata.num_rows
                       for b in m["buildings"][state])
            assert rows == m["rows"][f"{u}/{state}"] == SMALL.rows_per_file * SMALL.buildings_per_state
    meta = pq.read_table(m["metadata"])
    assert meta.num_rows == len(m["states"]) * len(m["upgrades"]) * SMALL.buildings_per_state


def test_series_check_accepts_the_reference_and_rejects_a_wrong_mean(data):
    import numpy as np
    import pandas as pd

    m = data[1]
    b = m["buildings"]["CO"][0]["bldg_id"]
    f = gen.bldg_file(m, "CO", 1, b)
    ref = checks.hourly_reference(f)
    pdf = pd.DataFrame({k: v for k, v in ref.items() if k not in ("hour", "timestamp_min")})
    pdf["timestamp"] = ref["hour"].astype("datetime64[us]")
    pdf["timestamp_min"] = ref["timestamp_min"].astype("datetime64[us]")
    pdf["bldg_id"], pdf["upgrade"], pdf["state"] = b, 1, "CO"
    checks.check_series_frame(pdf, "CO", 1, [b], [f])
    col = f"{gen.MEASURE_COLUMNS[0]}_mean"
    pdf.loc[3, col] = pdf.loc[3, col] + 1e-6 + abs(pdf.loc[3, col]) * 1e-9
    with pytest.raises(checks.CheckFailed):
        checks.check_series_frame(pdf, "CO", 1, [b], [f])
    assert np.isfinite(ref[col]).all()


def test_series_check_rejects_a_frame_without_one_of_the_51_means(data):
    """The checks take the measure list from the benchmark, not the engine:
    a frame that lacks a mean column fails even if every other column is right."""
    import pandas as pd

    m = data[1]
    b = m["buildings"]["CO"][0]["bldg_id"]
    f = gen.bldg_file(m, "CO", 1, b)
    ref = checks.hourly_reference(f)
    last = f"{gen.MEASURE_COLUMNS[-1]}_mean"
    pdf = pd.DataFrame({k: v for k, v in ref.items() if k not in ("hour", "timestamp_min", last)})
    pdf["timestamp"] = ref["hour"].astype("datetime64[us]")
    pdf["timestamp_min"] = ref["timestamp_min"].astype("datetime64[us]")
    pdf["bldg_id"], pdf["upgrade"], pdf["state"] = b, 1, "CO"
    with pytest.raises(checks.CheckFailed, match="mean columns"):
        checks.check_series_frame(pdf, "CO", 1, [b], [f])


def test_percentile_counts_a_failure_as_infinite():
    assert workloads.percentile([1.0, 2.0, 3.0], 50) == 2.0
    assert workloads.percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert workloads.percentile([1.0, 2.0, float("inf")], 90) == float("inf")
    assert workloads.percentile([], 50) == float("inf")


def test_union_within_clips_and_merges():
    assert trace._union_within([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == pytest.approx(3.0)
    assert trace._union_within([], 0, 1) == 0.0


def test_layer_table_splits_the_wall_exactly(tmp_path):
    """Self times + attributed job wall + tracer time == wall of the roots,
    with jobs read from an uncompressed event log."""
    import json
    import time

    t = trace.Tracer(str(tmp_path / "log"))
    with t.span("bench.op", "op0"):
        with t.span("sources.read_partitioned") as read:
            time.sleep(0.02)
        with t.span("sinks.write") as write:
            time.sleep(0.05)
    job = {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
           "Submission Time": int(write.start * 1000) + 10, "Properties": {"spark.jobGroup.id": write.id}}
    end = {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": int(write.start * 1000) + 30,
           "Job Result": {"Result": "JobSucceeded"}}
    (tmp_path / "log").mkdir()
    (tmp_path / "log" / "events_1").write_text("\n".join(json.dumps(e) for e in (job, end)) + "\n")
    m = t.layer_table()
    assert m["execute.jobs"] == 1
    assert m["execute.job_wall_s"] == pytest.approx(0.02, abs=1e-6)
    assert m["sinks.write_s"] == pytest.approx(write.dur - 0.02, abs=1e-6)
    assert m["sources.read_partitioned_s"] == pytest.approx(read.dur)
    assert m["trace.unaccounted_s"] == pytest.approx(0.0, abs=1e-9)
