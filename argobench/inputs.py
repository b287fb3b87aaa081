"""Seeded, work-invariant GDAC trees for the benchmark.

Floats come from ``make_raw_pandas`` with the run seed. The seed moves
values, positions, dates and order; the selection below pins the amount
of work:

- floats are kept by strata (level-count band x latitude band) until each
  band holds its fixed quota, so the sum of levels and the latitude mix
  (which sets the pair count on a lon/lat grid) barely move with the seed;
- each kept float contributes a fixed number of profiles of each class
  (delayed-mode kept, other-mode kept, FLAG-rejected, gate-rejected), so
  the profile, kept-profile and atlas-input counts are exact.

Files are written as genuine NetCDF-3 ``<wmo>_prof.nc`` under
``<root>/<dac>/<wmo>/`` with the public codec.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

from argostats_spark.schemas import DACS, pref64
from argostats_spark.sources.netcdf import ARGO_EPOCH
from argostats_spark.sources.netcdf3 import write_netcdf3

N_LEVEL_BANDS = 10          # n_levels in [20, 120) -> 10 equal bands
# |lat| bands over [0, 40): the pairs a profile makes on a lon/lat grid
# grow as 1/cos(lat), so the band is on |lat|; floats centred further out
# are skipped, which keeps that factor within 1.3x
MAX_ABS_LAT = 40.0
BASE_CELLS = (N_LEVEL_BANDS, 3)      # base tree: one float per cell
ARRIVAL_CELLS = (N_LEVEL_BANDS // 2, 2)  # arrivals: coarser cells
PROFILES_GENERATED = 32     # per float, before class selection
CHUNK = 32                  # floats per make_raw_pandas call
# profiles written per float, by class
QUOTA = {"delayed": 8, "other": 4, "flag": 3, "gate": 1}
_PREF = pref64().astype("f8")
PROFILES_PER_FILE = sum(QUOTA.values())
_MODE_CHAR = {0: b"R", 1: b"D", 2: b"A"}


def passes_gates(pres: np.ndarray, qc: np.ndarray) -> bool:
    """NumPy model of the interpolation validity gates for files whose
    PRES/TEMP/PSAL QC are equal: >=5 good levels, >10 unique contiguous
    pressures, >=10 target levels inside the measured span."""
    good = qc == 1
    if good.sum() < 5:
        return False
    p = pres[good].astype("f8")
    _, jdx = np.unique(p, return_index=True)
    if jdx.shape[0] <= 10 or jdx.shape[0] != jdx[-1] - jdx[0] + 1:
        return False
    deltamin = 1.2 * (p[1] - p[0])
    return int(((_PREF >= p.min() - deltamin) & (_PREF <= p.max())).sum()) >= 10


def _classify(row) -> str:
    pres = np.asarray(row.PRES, "f4")
    qc = np.asarray(row.PRES_QC, "i1")
    if row.POSITION_QC != 1 or row.JULD_QC != 1:
        return "flag"
    if not passes_gates(pres, qc):
        return "gate"
    return "delayed" if row.DATA_MODE == 1 else "other"


@dataclass
class Float:
    wmo: int
    dac: int
    n_levels: int
    lat0: float
    profiles: pd.DataFrame  # the written profiles, file order


def _select_profiles(pdf: pd.DataFrame) -> pd.DataFrame | None:
    """Exactly QUOTA[c] profiles of each class c, in generated order, or
    None when the float lacks enough of one class."""
    classes = np.array([_classify(r) for r in pdf.itertuples(index=False)])
    take = []
    for c, k in QUOTA.items():
        idx = np.flatnonzero(classes == c)
        if idx.shape[0] < k:
            return None
        take.extend(idx[:k].tolist())
    out = pdf.iloc[sorted(take)].reset_index(drop=True)
    out["CLASS"] = classes[sorted(take)]
    return out


def _cell(pdf: pd.DataFrame, cells: tuple[int, int]) -> tuple[int, int] | None:
    """(level band, |lat| band) of a float on a ``cells`` = (level bands,
    |lat| bands) layout, or None when the float is centred beyond 40 deg."""
    n_levels = len(pdf["PRES"].iloc[0])
    lat0 = abs(float(np.median(pdf["LATITUDE"])))
    if lat0 >= MAX_ABS_LAT:
        return None
    lb = min((n_levels - 20) * cells[0] // 100, cells[0] - 1)
    return lb, int(lat0 * cells[1] // MAX_ABS_LAT)


def draw_floats(seed: int, arrivals: bool = False) -> tuple[list[Float], list[Float]]:
    """One float per BASE_CELLS cell for the base tree and, with
    ``arrivals``, one per ARRIVAL_CELLS cell for floats that land later.
    Floats are visited in generation order of seeded chunks; a float goes
    to the first open cell it fits. Each list is in generation order."""
    from argostats_spark.sources.synthetic import make_raw_pandas

    layouts = [BASE_CELLS] + ([ARRIVAL_CELLS] if arrivals else [])
    filled: list[dict] = [{} for _ in layouts]
    next_wmo = 2900000 + 1000 * (seed % 100)
    for chunk in range(10_000):
        raw = make_raw_pandas(CHUNK, PROFILES_GENERATED, seed=seed * 10_007 + chunk)
        for _, pdf in raw.groupby("WMO", sort=True):
            for layout, cells in zip(layouts, filled):
                cell = _cell(pdf, layout)
                if cell is None or cell in cells:
                    continue
                sel = _select_profiles(pdf)
                if sel is None:
                    break
                sel["WMO"] = next_wmo
                cells[cell] = Float(next_wmo, int(pdf["DAC"].iloc[0]),
                                    len(pdf["PRES"].iloc[0]), float(np.median(pdf["LATITUDE"])), sel)
                next_wmo += 1
                break
            if all(len(c) == a * b for (a, b), c in zip(layouts, filled)):
                out = [sorted(c.values(), key=lambda f: f.wmo) for c in filled]
                return out[0], (out[1] if arrivals else [])
    raise RuntimeError("stratified draw did not converge")


def write_float(root: str, f: Float) -> str:
    """Write one float as ``<root>/<dac>/<wmo>/<wmo>_prof.nc``; return the path."""
    d = os.path.join(root, DACS[f.dac], str(f.wmo))
    os.makedirs(d, exist_ok=True)
    return write_float_file(d, f)


def write_float_file(directory: str, f: Float) -> str:
    """Write ``f`` as ``<directory>/<wmo>_prof.nc``; JULD is whole seconds,
    as days since 1950, like the generator's dates."""
    p = f.profiles
    n_prof, n_lev = len(p), f.n_levels
    mat = lambda col, dt: np.stack(p[col].to_numpy()).astype(dt).reshape(n_prof, n_lev)  # noqa: E731
    qc = np.where(mat("PRES_QC", "i1") == 1, b"1", b"4").astype("S1")
    juld_days = ((p["JULD"] - ARGO_EPOCH) / pd.Timedelta(days=1)).to_numpy("f8")
    ch = lambda vals: np.array([str(int(v)).encode() for v in vals], "S1")  # noqa: E731
    variables = {
        "LONGITUDE": (("N_PROF",), p["LONGITUDE"].to_numpy("f8")),
        "LATITUDE": (("N_PROF",), p["LATITUDE"].to_numpy("f8")),
        "JULD": (("N_PROF",), np.asarray(juld_days, "f8")),
        "DATA_MODE": (("N_PROF",), np.array([_MODE_CHAR[int(m)] for m in p["DATA_MODE"]], "S1")),
        "POSITION_QC": (("N_PROF",), ch(p["POSITION_QC"])),
        "JULD_QC": (("N_PROF",), ch(p["JULD_QC"])),
        "PRES": (("N_PROF", "N_LEVELS"), mat("PRES", "f4")),
        "TEMP": (("N_PROF", "N_LEVELS"), mat("TEMP", "f4")),
        "PSAL": (("N_PROF", "N_LEVELS"), mat("PSAL", "f4")),
        "PRES_QC": (("N_PROF", "N_LEVELS"), qc),
        "TEMP_QC": (("N_PROF", "N_LEVELS"), qc),
        "PSAL_QC": (("N_PROF", "N_LEVELS"), qc),
    }
    path = os.path.join(directory, f"{f.wmo}_prof.nc")
    write_netcdf3(path, {"N_PROF": n_prof, "N_LEVELS": n_lev}, variables, version=1)
    return path


def pair_count(lons, lats, grid_lon, grid_lat, radius_deg: float) -> int:
    """Brute-force number of (cell, profile) pairs within ``radius_deg``
    of arc, on the haversine argument the neighborhood join filters on."""
    lon, lat = np.radians(np.asarray(lons, "f8"))[:, None], np.radians(np.asarray(lats, "f8"))[:, None]
    glon, glat = np.radians(grid_lon)[None, :], np.radians(grid_lat)[None, :]
    hav = np.sin((glat - lat) / 2) ** 2 + np.cos(lat) * np.cos(glat) * np.sin((glon - lon) / 2) ** 2
    return int((hav <= np.sin(np.radians(radius_deg) / 2) ** 2).sum())


def grid_centres(domain, reso_deg: float) -> tuple[np.ndarray, np.ndarray]:
    """Cell centres in ``make_grid``'s layout, flattened."""
    lon_min, lon_max, lat_min, lat_max = domain
    lons = lon_min + np.arange(int(round((lon_max - lon_min) / reso_deg))) * reso_deg + reso_deg / 2
    lats = lat_min + np.arange(int(round((lat_max - lat_min) / reso_deg))) * reso_deg + reso_deg / 2
    g_lon, g_lat = np.meshgrid(lons, lats, indexing="ij")
    return g_lon.ravel(), g_lat.ravel()


def work_counters(floats: list[Float], domain, reso_deg: float, radius_deg: float) -> dict:
    """The work a tree of ``floats`` implies, counted without Spark."""
    p = pd.concat([f.profiles for f in floats], ignore_index=True)
    kept = p[p["CLASS"].isin(["delayed", "other"])]
    dl = p[p["CLASS"] == "delayed"]
    g_lon, g_lat = grid_centres(domain, reso_deg)
    return {
        "files": len(floats),
        "profiles": len(p),
        "levels": int(sum(f.n_levels * len(f.profiles) for f in floats)),
        "kept": len(kept),
        "pairs": pair_count(dl["LONGITUDE"], dl["LATITUDE"], g_lon, g_lat, radius_deg),
    }
