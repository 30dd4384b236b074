"""Correctness checks that do not use Spark: pyarrow/numpy recomputation of
the hourly resample from the generated source files."""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow.parquet as pq

from perfbench.gen import MEASURE_COLUMNS, UPGRADES, bldg_file, selected_rows

HOUR_US = 3_600_000_000
#: Spark's avg and numpy's sum run over the same 4 doubles in the same order;
#: the tolerance only absorbs a different summation order, never a wrong row.
RTOL, ATOL = 1e-12, 1e-15


class CheckFailed(AssertionError):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def expect_mean_columns(names, what: str) -> None:
    """The output's ``*_mean`` columns are exactly the 51 reference measures."""
    got = sorted(n for n in names if n.endswith("_mean"))
    want = sorted(f"{c}_mean" for c in MEASURE_COLUMNS)
    expect(got == want, f"{what}: mean columns {sorted(set(got) ^ set(want))[:5]} differ from the reference's 51")


def hourly_reference(path: str) -> dict[str, np.ndarray]:
    """The reference per-file resample of one source file: hour key,
    ``bldg_id_min``, ``timestamp_min`` (µs) and every ``<measure>_mean``."""
    t = pq.read_table(path)
    ts = t["timestamp"].cast("int64").to_numpy()
    hours, inv = np.unique(ts // HOUR_US * HOUR_US, return_inverse=True)
    counts = np.bincount(inv)
    out = {"hour": hours}
    ts_min = np.full(len(hours), np.iinfo(np.int64).max)
    np.minimum.at(ts_min, inv, ts)
    out["timestamp_min"] = ts_min
    b_min = np.full(len(hours), np.iinfo(np.int64).max)
    np.minimum.at(b_min, inv, t["bldg_id"].to_numpy())
    out["bldg_id_min"] = b_min
    for c in MEASURE_COLUMNS:
        out[f"{c}_mean"] = np.bincount(inv, weights=t[c].to_numpy()) / counts
    return out


def check_series_frame(pdf, state: str, upgrade: int, bldgs, files) -> None:
    """A fetched hourly frame equals the pyarrow group-by of its source files."""
    expect_mean_columns(pdf.columns, "frame")
    pdf = pdf.sort_values(["bldg_id", "timestamp"]).reset_index(drop=True)
    refs = [hourly_reference(f) for f in files]
    n = sum(len(r["hour"]) for r in refs)
    expect(len(pdf) == n, f"rows {len(pdf)} != {n}")
    expect(set(pdf["state"]) == {state}, "state column")
    expect(set(pdf["upgrade"].astype(int)) == {upgrade}, "upgrade column")
    lo = 0
    for b, ref in sorted(zip(bldgs, refs)):
        part = pdf.iloc[lo:lo + len(ref["hour"])]
        lo += len(ref["hour"])
        expect((part["bldg_id"] == b).all() and (part["bldg_id_min"] == b).all(), f"bldg {b}")
        hour = part["timestamp"].to_numpy().astype("datetime64[us]").astype(np.int64)
        expect(np.array_equal(hour, ref["hour"]), f"hours of {b}")
        tmin = part["timestamp_min"].to_numpy().astype("datetime64[us]").astype(np.int64)
        expect(np.array_equal(tmin, ref["timestamp_min"]), f"timestamp_min of {b}")
        for c in MEASURE_COLUMNS:
            got = part[f"{c}_mean"].to_numpy(dtype=float)
            expect(np.allclose(got, ref[f"{c}_mean"], rtol=RTOL, atol=ATOL), f"{c}_mean of {b}")


def parquet_rows_and_bytes(root: str) -> tuple[int, int, int]:
    """(rows, data files, bytes of every file) under a Spark output dir."""
    rows = files = size = 0
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            size += os.path.getsize(p)
            if f.endswith(".parquet"):
                files += 1
                rows += pq.ParquetFile(p).metadata.num_rows
    return rows, files, size


def check_etl_job(res, manifest: dict, state: str, rng: np.random.Generator, samples: int) -> None:
    """One ``run_etl_job`` result against the generated inputs."""
    rows_in = selected_rows(manifest, [state])
    expect(res.rows_in == rows_in, f"{state}: rows_in {res.rows_in} != generated {rows_in}")
    expect(res.counters.get("rows_listed") == rows_in, f"{state}: rows_listed")
    expect(res.rows_out * 4 == rows_in, f"{state}: rows_out {res.rows_out} != rows_in/4")
    parts = sorted(os.path.relpath(p, res.output_path)
                   for p in glob.glob(os.path.join(res.output_path, "upgrade=*", "state=*")))
    expect(parts == [f"upgrade={u}/state={state}" for u in UPGRADES], f"{state}: partitions {parts}")
    rows, _, _ = parquet_rows_and_bytes(res.output_path)
    expect(rows == res.rows_out, f"{state}: files hold {rows} rows, job reported {res.rows_out}")
    for f in glob.glob(os.path.join(res.output_path, "upgrade=*", "state=*", "*.parquet")):
        expect_mean_columns(pq.read_schema(f).names, f"{state}: {os.path.basename(f)}")

    bldgs = [b["bldg_id"] for b in manifest["buildings"][state]]
    for _ in range(samples):
        b = int(rng.choice(bldgs))
        u = int(rng.choice(UPGRADES))
        ref = hourly_reference(bldg_file(manifest, state, u, b))
        i = int(rng.integers(len(ref["hour"])))
        hour = np.datetime64(int(ref["hour"][i]), "us")
        got = pq.read_table(
            os.path.join(res.output_path, f"upgrade={u}", f"state={state}"),
            filters=[("bldg_id_min", "=", b), ("timestamp", "=", hour)],
        )
        expect(got.num_rows == 1, f"{state}/{u}/{b}@{hour}: {got.num_rows} rows")
        for c in MEASURE_COLUMNS:
            v = got[f"{c}_mean"][0].as_py()
            expect(np.isclose(v, ref[f"{c}_mean"][i], rtol=RTOL, atol=ATOL),
                   f"{state}/{u}/{b}@{hour} {c}_mean {v} != {ref[f'{c}_mean'][i]}")


def check_states_absent(etl_output: str, selected) -> None:
    """No state outside the selection has an output partition."""
    seen = {os.path.basename(p)[len("state="):]
            for p in glob.glob(os.path.join(etl_output, "*", "*", "upgrade=*", "state=*"))}
    expect(seen == set(selected), f"output states {sorted(seen)} != selected {sorted(selected)}")
