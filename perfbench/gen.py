"""Seeded generator of OEDI-shaped inputs for the benchmark.

Two file sets, laid out as the OEDI ComStock release the reference ETL reads:

- F1, time series: ``timeseries/upgrade=<u>/state=<XX>/<bldg_id>-<u>.parquet``,
  one file per (building, upgrade), with a µs ``timestamp`` on a 15-min grid,
  ``bldg_id`` and the 51 dotted reference measure columns (``MEASURE_COLUMNS``).
- F2, metadata: ``metadata/{state}_{baseline|upgradeNN}_metadata_and_annual_results.parquet``,
  one file per (state, upgrade), with ``bldg_id``, ``in.state``,
  ``in.county_name``, ``in.comstock_building_type`` and
  ``in.comstock_building_type_group``. Building types are skewed: a few
  common ones and a rare ``Hospital``.
- ``setup/``: the same layout holding one building's baseline files, the
  input of the set-up's warm-up ETL.

The same (seed, size) always gives byte-identical files. ``ensure`` reuses a
finished data set on disk; ``manifest.json`` is written last, so a set whose
writing was interrupted is regenerated.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: The reference ETL's 51 measure columns (its ``transform.py:64-114``), in
#: its order, as a fixed copy: the inputs, the requests and the checks take
#: them from here, never from the engine under test, so an engine that drops
#: a column fails the checks instead of doing less work.
MEASURE_COLUMNS = (
    "out.district_cooling.cooling.energy_consumption",
    "out.district_cooling.cooling.energy_consumption_intensity",
    "out.district_cooling.total.energy_consumption",
    "out.district_cooling.total.energy_consumption_intensity",
    "out.district_heating.heating.energy_consumption",
    "out.district_heating.heating.energy_consumption_intensity",
    "out.district_heating.total.energy_consumption",
    "out.district_heating.total.energy_consumption_intensity",
    "out.district_heating.water_systems.energy_consumption",
    "out.district_heating.water_systems.energy_consumption_intensity",
    "out.electricity.cooling.energy_consumption",
    "out.electricity.cooling.energy_consumption_intensity",
    "out.electricity.exterior_lighting.energy_consumption",
    "out.electricity.exterior_lighting.energy_consumption_intensity",
    "out.electricity.fans.energy_consumption",
    "out.electricity.fans.energy_consumption_intensity",
    "out.electricity.heat_recovery.energy_consumption",
    "out.electricity.heat_recovery.energy_consumption_intensity",
    "out.electricity.heat_rejection.energy_consumption",
    "out.electricity.heat_rejection.energy_consumption_intensity",
    "out.electricity.heating.energy_consumption",
    "out.electricity.heating.energy_consumption_intensity",
    "out.electricity.interior_equipment.energy_consumption",
    "out.electricity.interior_equipment.energy_consumption_intensity",
    "out.electricity.interior_lighting.energy_consumption",
    "out.electricity.interior_lighting.energy_consumption_intensity",
    "out.electricity.pumps.energy_consumption",
    "out.electricity.pumps.energy_consumption_intensity",
    "out.electricity.refrigeration.energy_consumption",
    "out.electricity.refrigeration.energy_consumption_intensity",
    "out.electricity.total.energy_consumption",
    "out.electricity.total.energy_consumption_intensity",
    "out.electricity.water_systems.energy_consumption",
    "out.electricity.water_systems.energy_consumption_intensity",
    "out.natural_gas.heating.energy_consumption",
    "out.natural_gas.heating.energy_consumption_intensity",
    "out.natural_gas.interior_equipment.energy_consumption",
    "out.natural_gas.interior_equipment.energy_consumption_intensity",
    "out.natural_gas.total.energy_consumption",
    "out.natural_gas.total.energy_consumption_intensity",
    "out.natural_gas.water_systems.energy_consumption",
    "out.natural_gas.water_systems.energy_consumption_intensity",
    "out.other_fuel.cooling.energy_consumption",
    "out.other_fuel.cooling.energy_consumption_intensity",
    "out.other_fuel.heating.energy_consumption",
    "out.other_fuel.heating.energy_consumption_intensity",
    "out.other_fuel.total.energy_consumption",
    "out.other_fuel.total.energy_consumption_intensity",
    "out.other_fuel.water_systems.energy_consumption",
    "out.site_energy.total.energy_consumption",
    "out.site_energy.total.energy_consumption_intensity",
)
assert len(MEASURE_COLUMNS) == 51
STATES = ("AK", "CO", "MA", "NY", "TX", "WA")
UPGRADES = (0, 1)
COUNTIES_PER_STATE = 3
COUNTY_NAMES = ("Adams", "Clark", "Jefferson", "Lincoln", "Madison", "Washington")
#: (type, group, weight): skewed like ComStock, Hospital rare.
BUILDING_TYPES = (
    ("SmallOffice", "Office", 0.24),
    ("RetailStripmall", "Mercantile", 0.16),
    ("Warehouse", "Warehouse and Storage", 0.16),
    ("RetailStandalone", "Mercantile", 0.10),
    ("MediumOffice", "Office", 0.07),
    ("QuickServiceRestaurant", "Food Service", 0.06),
    ("PrimarySchool", "Education", 0.05),
    ("SmallHotel", "Lodging", 0.05),
    ("FullServiceRestaurant", "Food Service", 0.04),
    ("SecondarySchool", "Education", 0.03),
    ("Outpatient", "Healthcare", 0.02),
    ("LargeOffice", "Office", 0.01),
    ("Hospital", "Healthcare", 0.01),
)
#: Fuels most buildings do not use; their columns are all zero for them.
RARE_FUELS = {"district_cooling": 0.1, "district_heating": 0.1, "other_fuel": 0.25}
#: Data sets (about 470 MB each) kept on disk for reuse across runs.
KEEP_DATA_SETS = 4


@dataclass(frozen=True)
class Size:
    buildings_per_state: int = 4
    days: int = 365

    @property
    def rows_per_file(self) -> int:
        return self.days * 96


def _bldg_file(root: str, state: str, upgrade: int, bldg: int) -> str:
    return os.path.join(root, f"upgrade={upgrade}", f"state={state}", f"{bldg}-{upgrade}.parquet")


def _metadata_file(root: str, state: str, upgrade: int) -> str:
    tag = "baseline" if upgrade == 0 else f"upgrade{upgrade:02d}"
    return os.path.join(root, f"{state}_{tag}_metadata_and_annual_results.parquet")


def _measures(rng: np.random.Generator, n: int, upgrade: int) -> dict[str, np.ndarray]:
    """Energy-like 15-min series for one building: a daily load shape times
    a building scale plus noise; rare fuels are all zero; an upgrade saves a
    seeded share."""
    t = np.arange(n)
    shape = 1.0 + 0.5 * np.sin(2 * np.pi * (t % 96) / 96.0 - np.pi / 2)
    scale = rng.uniform(0.5, 20.0)
    sqft = rng.uniform(2_000.0, 200_000.0)
    saving = 1.0 - (rng.uniform(0.05, 0.3) if upgrade else 0.0)
    unused = {f for f, p in RARE_FUELS.items() if rng.random() >= p}
    if rng.random() < 0.3:
        unused.add("natural_gas")
    out: dict[str, np.ndarray] = {}
    for col in MEASURE_COLUMNS:
        if col.endswith("_intensity"):
            out[col] = out[col.removesuffix("_intensity")] / sqft
            continue
        if col.split(".")[1] in unused:
            out[col] = np.zeros(n)
            continue
        noise = rng.normal(1.0, 0.1, n).clip(0.0)
        out[col] = np.round(scale * rng.uniform(0.05, 1.0) * shape * noise * saving, 6)
    return out


def generate(out: str, seed: int, size: Size = Size()) -> dict:
    """Write F1 and F2 for ``seed`` under ``out`` and return the manifest."""
    rng = np.random.default_rng(seed)
    ts_root = os.path.join(out, "timeseries")
    meta_root = os.path.join(out, "metadata")
    os.makedirs(meta_root)
    n = size.rows_per_file
    start = np.datetime64("2018-01-01T00:00:00", "us") + np.timedelta64(
        int(rng.integers(0, 300)) * 86_400, "s"
    )
    timestamps = start + np.arange(n) * np.timedelta64(15, "m")
    types = np.array([t for t, _, _ in BUILDING_TYPES])
    group_of = {t: g for t, g, _ in BUILDING_TYPES}
    weights = np.array([w for _, _, w in BUILDING_TYPES])
    weights /= weights.sum()
    all_ids = rng.choice(np.arange(1, 400_000), size=len(STATES) * size.buildings_per_state, replace=False)

    buildings: dict[str, list[dict]] = {}
    rows: dict[str, int] = {}
    for si, state in enumerate(STATES):
        ids = np.sort(all_ids[si * size.buildings_per_state:(si + 1) * size.buildings_per_state])
        counties = [f"{state}, {c} County" for c in rng.choice(COUNTY_NAMES, COUNTIES_PER_STATE, replace=False)]
        btypes = rng.choice(types, size=len(ids), p=weights)
        bcounty = rng.choice(counties, size=len(ids))
        buildings[state] = [
            {"bldg_id": int(b), "county": str(c), "type": str(t), "group": group_of[str(t)]}
            for b, c, t in zip(ids, bcounty, btypes)
        ]
        meta = pa.table({
            "bldg_id": pa.array(ids, pa.int64()),
            "in.state": pa.array([state] * len(ids)),
            "in.county_name": pa.array(bcounty.tolist()),
            "in.comstock_building_type": pa.array(btypes.tolist()),
            "in.comstock_building_type_group": pa.array([group_of[t] for t in btypes]),
        })
        for upgrade in UPGRADES:
            pq.write_table(meta, _metadata_file(meta_root, state, upgrade))
            part = os.path.dirname(_bldg_file(ts_root, state, upgrade, 0))
            os.makedirs(part)
            for b in ids:
                cols = {"timestamp": pa.array(timestamps, pa.timestamp("us")),
                        "bldg_id": pa.array(np.full(n, b), pa.int64())}
                cols.update({c: pa.array(v) for c, v in _measures(rng, n, upgrade).items()})
                # no dictionary for the all-distinct measures: 4x faster to
                # write, and keeps generation a small part of a run
                pq.write_table(pa.table(cols), _bldg_file(ts_root, state, upgrade, int(b)),
                               use_dictionary=["bldg_id"])
            rows[f"{upgrade}/{state}"] = n * len(ids)

    # Set-up fixture: one building, baseline only, for the set-up's warm-up ETL.
    state, bldg = STATES[0], buildings[STATES[0]][0]
    fixture = os.path.join(out, "setup")
    src = _bldg_file(ts_root, state, 0, bldg["bldg_id"])
    dst = _bldg_file(os.path.join(fixture, "timeseries"), state, 0, bldg["bldg_id"])
    os.makedirs(os.path.dirname(dst))
    shutil.copyfile(src, dst)
    os.makedirs(os.path.join(fixture, "metadata"))
    pq.write_table(
        pq.read_table(_metadata_file(meta_root, state, 0)).filter(pc.field("bldg_id") == bldg["bldg_id"]),
        _metadata_file(os.path.join(fixture, "metadata"), state, 0),
    )

    manifest = {
        "seed": seed,
        "setup": {"timeseries": os.path.join(fixture, "timeseries"), "state": state, "rows": n},
        "size": asdict(size),
        "timeseries": ts_root,
        "metadata": meta_root,
        "states": list(STATES),
        "upgrades": list(UPGRADES),
        "rows": rows,
        "buildings": buildings,
        "bytes": {k: _tree_bytes(p) for k, p in (("timeseries", ts_root), ("metadata", meta_root))},
    }
    return manifest


def _tree_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs)


def tree_digest(root: str) -> str:
    """sha256 over every file's relative path and bytes, in sorted order."""
    h = hashlib.sha256()
    for d, dirs, fs in os.walk(root):
        dirs.sort()
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure(base: str, seed: int, size: Size = Size(), keep: int = KEEP_DATA_SETS) -> dict:
    """The manifest of the data set for (seed, size), generating it first
    unless a complete one is already on disk. Only the ``keep`` most
    recently used data sets stay on disk."""
    out = os.path.join(base, f"seed{seed}-b{size.buildings_per_state}-d{size.days}")
    path = os.path.join(out, "manifest.json")
    if os.path.exists(path):
        os.utime(path)
        with open(path) as fh:
            return json.load(fh)
    os.makedirs(base, exist_ok=True)
    others = sorted(
        (os.path.join(base, d) for d in os.listdir(base) if d != os.path.basename(out)),
        key=lambda d: os.path.getmtime(os.path.join(d, "manifest.json"))
        if os.path.exists(os.path.join(d, "manifest.json")) else 0.0,
    )
    for d in others[:max(0, len(others) - (keep - 1))]:
        shutil.rmtree(d, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    manifest = generate(out, seed, size)
    with open(path + ".tmp", "w") as fh:
        json.dump(manifest, fh)
    os.replace(path + ".tmp", path)
    return manifest


def selected_rows(manifest: dict, states, upgrades=UPGRADES) -> int:
    """Generated 15-min rows of the selected (state, upgrade) partitions."""
    return sum(manifest["rows"][f"{u}/{s}"] for s in states for u in upgrades)


def selected_bytes(manifest: dict, states, upgrades=UPGRADES) -> int:
    root = manifest["timeseries"]
    return sum(
        _tree_bytes(os.path.join(root, f"upgrade={u}", f"state={s}")) for s in states for u in upgrades
    )


def bldg_file(manifest: dict, state: str, upgrade: int, bldg: int) -> str:
    return _bldg_file(manifest["timeseries"], state, upgrade, bldg)
