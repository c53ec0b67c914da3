"""Seeded input tree for the etl_hourly workload, shaped like the reference's
AK job: per-building 15-minute energy files under hive `upgrade=`/`state=`
directories, the per-upgrade metadata files the job copies through, a
`state=CO` tree the job must never read, one corrupt file and one
schema-drifted file.

`make(root, seed, buildings, days)` writes the tree and returns what was
planted: the ledger counts the job must report and the two odd files.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STATES = ("AK", "CO")
UPGRADES = (0, 1)

# (fuel, end uses) in the engine's declared order; other_fuel.water_systems
# has no _intensity column (SchemaDefs.energyColumns).
FUEL_END_USES = (
    ("district_cooling", ("cooling", "total")),
    ("district_heating", ("heating", "total", "water_systems")),
    ("electricity", ("cooling", "exterior_lighting", "fans", "heat_recovery",
                     "heat_rejection", "heating", "interior_equipment",
                     "interior_lighting", "pumps", "refrigeration", "total",
                     "water_systems")),
    ("natural_gas", ("heating", "interior_equipment", "total", "water_systems")),
    ("other_fuel", ("cooling", "heating", "total", "water_systems")),
    ("site_energy", ("total",)),
)


def energy_columns():
    cols = []
    for fuel, uses in FUEL_END_USES:
        for use in uses:
            base = f"out.{fuel}.{use}.energy_consumption"
            cols.append(base)
            if not (fuel == "other_fuel" and use == "water_systems"):
                cols.append(base + "_intensity")
    return cols


ENERGY_COLUMNS = energy_columns()
assert len(ENERGY_COLUMNS) == 51

# building type -> type group; the saved queries filter on Hospital,
# Healthcare and the Ketchikan Gateway Borough county
BUILDING_TYPES = (
    ("Hospital", "Healthcare"), ("Outpatient", "Healthcare"),
    ("SmallOffice", "Office"), ("LargeOffice", "Office"),
    ("RetailStandalone", "Mercantile"), ("PrimarySchool", "Education"),
    ("Warehouse", "Warehouse and storage"),
)
COUNTIES = ("AK, Ketchikan Gateway Borough", "AK, Anchorage Municipality",
            "AK, Juneau City and Borough")

DRIFT_MISSING = "out.site_energy.total.energy_consumption_intensity"
DRIFT_EXTRA = "out.unplanned.probe"


def upgrade_label(u):
    return "baseline" if u == 0 else f"upgrade{u:02d}" if u <= 9 else f"upgrade{u}"


def _timeseries(rng, bldg_id, start_us, rows):
    step = 15 * 60 * 1_000_000
    ts = pa.array(start_us + np.arange(rows, dtype=np.int64) * step,
                  type=pa.timestamp("us", tz="UTC"))
    cols = {"timestamp": ts, "bldg_id": pa.array(np.full(rows, bldg_id, np.int64))}
    values = rng.random((len(ENERGY_COLUMNS), rows)) * 100.0
    for name, v in zip(ENERGY_COLUMNS, values):
        cols[name] = pa.array(v)
    return pa.table(cols)


def _metadata(rng, state, ids):
    kinds = rng.integers(0, len(BUILDING_TYPES), len(ids))
    county = rng.integers(0, len(COUNTIES), len(ids))
    return pa.table({
        "bldg_id": pa.array(ids, pa.int64()),
        "in.state": [state] * len(ids),
        "in.county_name": [COUNTIES[c] if state == "AK" else f"{state}, County {c}"
                           for c in county],
        "in.comstock_building_type": [BUILDING_TYPES[k][0] for k in kinds],
        "in.comstock_building_type_group": [BUILDING_TYPES[k][1] for k in kinds],
        "out.site_energy.total.energy_consumption..kwh": rng.random(len(ids)) * 1e6,
    })


def make(root, seed, buildings, days):
    rng = np.random.default_rng(seed)
    rows = days * 96
    # a seed-chosen start day in 2018, at midnight UTC
    start_us = (1514764800 + int(rng.integers(0, 300)) * 86400) * 1_000_000
    ids = np.sort(rng.choice(np.arange(100_000, 100_000 + 50 * buildings),
                             buildings, replace=False))
    planted = {"requested_files": [], "input_rows": 0, "output_rows": 0}
    for u in UPGRADES:
        d = os.path.join(root, "src", f"upgrade={u}", "state=AK")
        os.makedirs(d)
        for i, b in enumerate(ids):
            t = _timeseries(rng, int(b), start_us, rows)
            path = os.path.join(d, f"bldg-{int(b):07d}.parquet")
            if u == 1 and i == len(ids) // 2:
                t = t.drop_columns([DRIFT_MISSING]).append_column(
                    DRIFT_EXTRA, pa.array(rng.random(rows)))
                planted["drift_file"] = path
            pq.write_table(t, path, compression="snappy")
            planted["requested_files"].append(path)
            planted["input_rows"] += rows
            planted["output_rows"] += days * 24
        if u == 0:
            # sorts before every building file, so footer-based schema
            # inference would pick it first
            bad = os.path.join(d, "corrupt-0000.parquet")
            with open(bad, "wb") as f:
                f.write(rng.bytes(4096))
            planted["corrupt_file"] = bad
            planted["requested_files"].append(bad)
        # the state=CO tree holds the same files (hard links): a job that
        # read it would double every hourly row
        shutil.copytree(d, os.path.join(root, "src", f"upgrade={u}", "state=CO"),
                        copy_function=os.link)
        label = upgrade_label(u)
        for state in STATES:
            meta_dir = os.path.join(root, "metadata", f"state={state}", "parquet")
            os.makedirs(meta_dir, exist_ok=True)
            meta = _metadata(np.random.default_rng([seed, u]), state, ids)
            for kind in ("basic_metadata_and_annual_results",
                         "metadata_and_annual_results"):
                pq.write_table(meta, os.path.join(
                    meta_dir, f"{state}_{label}_{kind}.parquet"))
    planted["listed"] = len(planted["requested_files"])
    planted["processed"] = planted["listed"] - 1
    planted["bypassed"] = 2 * len(UPGRADES)
    planted["metadata_files"] = sorted(
        os.path.join(root, "metadata", "state=AK", "parquet", f)
        for f in os.listdir(os.path.join(root, "metadata", "state=AK", "parquet")))
    return planted
