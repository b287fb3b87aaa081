"""Output checks (every run) and known-defect probes (traced runs).

Each check returns (ok, detail). A failed check counts as a failed
operation; a probe is reported as a 0/1 metric and printed as FAIL.
"""

from __future__ import annotations

import math
import os
import shutil

import numpy as np

from . import inputs

KEPT = ("delayed", "other")


def _f4(x) -> np.ndarray:
    """Coordinates as the raw schema stores them (float), widened back."""
    return np.asarray(x, "f4").astype("f8")


def expected(floats: list[inputs.Float]) -> dict:
    p = [f.profiles for f in floats]
    return {
        "kept": sum(int(x["CLASS"].isin(KEPT).sum()) for x in p),
        "n_prof": {f.wmo: len(f.profiles) for f in floats},
    }


def check_summary(spark, summary_dir: str, floats) -> tuple[bool, str]:
    """Summary rows and per-WMO N_PROF equal what was written."""
    from pyspark.sql import functions as F

    got = (spark.read.parquet(summary_dir).groupBy("WMO")
           .agg(F.count(F.lit(1)).alias("rows"), F.min("N_PROF").alias("lo"), F.max("N_PROF").alias("hi"))
           .toPandas())
    want = expected(floats)["n_prof"]
    have = {int(r.WMO): (int(r.rows), int(r.lo), int(r.hi)) for r in got.itertuples()}
    bad = [w for w, n in want.items() if have.get(w) != (n, n, n)]
    ok = not bad and set(have) == set(want)
    return ok, f"{len(have)} WMOs, {int(got['rows'].sum())} rows; mismatched: {bad[:3]}"


def check_kept(n_profiles_out: int, floats) -> tuple[bool, str]:
    want = expected(floats)["kept"]
    return n_profiles_out == want, f"interpolated {n_profiles_out}, expected {want}"


def delayed_points(floats) -> tuple[np.ndarray, np.ndarray]:
    dl = [f.profiles[f.profiles["CLASS"] == "delayed"] for f in floats]
    return (_f4(np.concatenate([d["LONGITUDE"] for d in dl])),
            _f4(np.concatenate([d["LATITUDE"] for d in dl])))


def check_pairs(atlas_pdf, floats, grid_spec) -> tuple[bool, str]:
    """Sum of per-cell n_points equals the brute-force pair count."""
    domain, reso, sf = grid_spec
    lon, lat = delayed_points(floats)
    g_lon, g_lat = inputs.grid_centres(domain, reso)
    want = inputs.pair_count(lon, lat, g_lon, g_lat, reso * sf)
    got = int(atlas_pdf["n_points"].sum())
    return got == want, f"pairs {got}, brute force {want}"


def ts_numpy(prof_pdf, glon: float, glat: float, reso: float, sf: float):
    """Brute-force kernel-weighted CT/SR means of one cell: (n, CT, SR)."""
    theta = math.sin(math.radians(sf * reso) / 2.0) ** 2
    lon, lat = np.radians(_f4(prof_pdf["LONGITUDE"])), np.radians(_f4(prof_pdf["LATITUDE"]))
    gl, gt = math.radians(glon), math.radians(glat)
    hav = np.sin((lat - gt) / 2) ** 2 + np.cos(gt) * np.cos(lat) * np.sin((lon - gl) / 2) ** 2
    near = hav <= theta
    w = np.exp(-hav[near] / theta)
    idx = np.stack(prof_pdf["IDX"].to_numpy()[near]).astype("f8")
    coef = w[:, None] * idx
    n_lev = coef.sum(axis=0)
    means = []
    for col in ("CT", "SR"):
        v = np.stack(prof_pdf[col].to_numpy()[near]).astype("f8")
        m = np.zeros(n_lev.shape)
        ok = n_lev > 0
        m[ok] = (coef * v).sum(axis=0)[ok] / n_lev[ok]
        means.append(m)
    return int(near.sum()), means[0], means[1]


def check_cells(atlas_pdf, prof_pdf, grid_spec, rng, k: int = 8) -> tuple[bool, str]:
    """Sampled atlas cells match a NumPy recomputation from the profiles."""
    _, reso, sf = grid_spec
    rows = atlas_pdf.iloc[rng.choice(len(atlas_pdf), size=min(k, len(atlas_pdf)), replace=False)]
    bad = []
    for r in rows.itertuples():
        n, ct, sr = ts_numpy(prof_pdf, r.glon, r.glat, reso, sf)
        if n != r.n_points or not (np.allclose(r.CT, ct, rtol=1e-4, atol=1e-4)
                                   and np.allclose(r.SR, sr, rtol=1e-4, atol=1e-4)):
            bad.append((r.glon, r.glat))
    return not bad, f"{len(rows)} cells checked; mismatched: {bad[:3]}"


def check_stream_equals_batch(got_pdf, want_pdf) -> tuple[bool, str]:
    """The streamed atlas equals a batch clim_ts + clim_eape."""
    key = ["glon", "glat"]
    got = got_pdf.sort_values(key).reset_index(drop=True)
    want = want_pdf.sort_values(key).reset_index(drop=True)
    if len(got) != len(want) or not (got[key].to_numpy() == want[key].to_numpy()).all():
        return False, f"cells {len(got)} streamed vs {len(want)} batch"
    if not (got["n_points"].to_numpy() == want["n_points"].to_numpy()).all():
        return False, "n_points differ"
    for col in ("CT", "SR", "W", "RHO", "EAPE"):
        a, b = np.stack(got[col].to_numpy()), np.stack(want[col].to_numpy())
        if not np.allclose(a, b, rtol=1e-5, atol=1e-5):
            return False, f"{col} differs by up to {np.nanmax(np.abs(a - b)):.3g}"
    return True, f"{len(got)} cells equal"


def batch_atlas(spark, prof, grid, reso: float, sf: float, algo: str = "R14"):
    """TS + EAPE over the profiles frame ``prof`` in one batch."""
    from argostats_spark.operators.atlas import clim_eape, clim_ts

    ts = clim_ts(grid, prof, reso, sf).localCheckpoint(eager=True)
    eape = clim_eape(grid, prof, reso, sf, ts=ts, algo=algo)
    return ts.join(eape.select("glon", "glat", "RHO", "EAPE"), on=["glon", "glat"]).toPandas()


# ---------------------------------------------------------------------------
# Known-defect probes
# ---------------------------------------------------------------------------


def probe_ingest_gdac(spark, nc_file: str, scratch: str) -> tuple[bool, str]:
    """ingest_gdac on a real benchmark file, whose JULD (whole seconds in
    days since 1950) is not a whole number of microseconds as a float."""
    from argostats_spark.sources.netcdf import ingest_gdac

    d = os.path.join(scratch, "probe_ingest", "coriolis", "0")
    os.makedirs(d, exist_ok=True)
    shutil.copy(nc_file, d)
    want = spark.read.format("argo_gdac").load(os.path.join(scratch, "probe_ingest", "*", "*")).count()
    try:
        got = ingest_gdac(spark, os.path.join(scratch, "probe_ingest", "*", "*")).count()
    except Exception as e:  # the defect under probe surfaces as a task failure
        return False, f"ingest_gdac raised {type(e).__name__}: {str(e).splitlines()[0][:160]}"
    return got == want, f"ingest_gdac rows {got}, argo_gdac rows {want}"


def probe_stream_rewrite(spark, floats, scratch: str) -> tuple[bool, str]:
    """A float's file rewritten with one more cycle (the normal GDAC update)
    must leave the streamed atlas equal to a batch atlas over the current
    files. ``argo_gdac`` re-emits every profile of a rewritten file, and
    ``atlas_refresh_writer`` appends their pairs again."""
    from argostats_spark.operators.atlas import make_grid
    from argostats_spark.operators.interpolation import interpolate_profiles
    from argostats_spark.streaming.atlas import atlas_refresh_writer, current_atlas

    root = os.path.join(scratch, "probe_rewrite")
    tree = os.path.join(root, "gdac")
    first = [inputs.Float(f.wmo, f.dac, f.n_levels, f.lat0, f.profiles.iloc[:-1]) for f in floats]
    for f in first:
        inputs.write_float(tree, f)
    reso, sf = 10.0, 2.0
    grid = make_grid(spark, (-180.0, 180.0, -80.0, 80.0), reso)
    refresh = atlas_refresh_writer(grid, os.path.join(root, "pairs"), os.path.join(root, "atlas"), reso, sf)
    glob_ = os.path.join(tree, "*", "*")
    q = (spark.readStream.format("argo_gdac").load(glob_).writeStream
         .foreachBatch(lambda df, bid: refresh(interpolate_profiles(df), bid))
         .option("checkpointLocation", os.path.join(root, "ckpt")).start())
    try:
        q.processAllAvailable()
        inputs.write_float(tree, floats[0])  # the next cycle: same file, one more profile
        q.processAllAvailable()
    finally:
        q.stop()
        refresh.unpersist_grid()
    streamed = int(current_atlas(spark, os.path.join(root, "atlas")).agg({"n_points": "sum"}).first()[0])
    current = interpolate_profiles(spark.read.format("argo_gdac").load(glob_))
    batch = int(batch_atlas(spark, current, grid, reso, sf)["n_points"].sum())
    return streamed == batch, f"streamed n_points {streamed}, batch over current files {batch}"
