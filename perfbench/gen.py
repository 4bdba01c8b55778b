"""Seeded input generator for the benchmark workloads.

Every input a workload reads is written here, from one seed, before the
program sees it; the program only ever receives the generated files.
Each ``make_*`` function returns the expected answers (the ground truth
the correctness checks compare against) beside the paths it wrote.

Populations follow FIXTURES.md section 2: searched curves are
``cos(x) - 0.5 + U[0,1)`` and contamination curves ``exp(x * U[0,1))``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# dat-file rows the loader must drop (sources/files.py BAD_VALUES): a
# sentinel in the time or magnitude column, or a blank line
SENTINEL_LINES = ("-99 {mag:.3f} 0.010", "{t:.5f} N/A 0.010", "{t:.5f} -99.0 0.010", "")


def searched_curve(rng: np.random.Generator, x: np.ndarray) -> np.ndarray:
    return np.cos(x) - 0.5 + rng.random(len(x))


def contamination_curve(rng: np.random.Generator, x: np.ndarray) -> np.ndarray:
    return np.exp(x * rng.random(len(x)))


def _curve(rng, x, searched: bool) -> np.ndarray:
    return searched_curve(rng, x) if searched else contamination_curve(rng, x)


# --------------------------------------------------------------- survey


def make_survey(root: str, seed: int, n_stars: int, n_obs: int,
                n_queries: int, n_labelled: int) -> dict:
    """Parquet survey in long format plus the id-range query plan.

    The plan is ``n_queries`` disjoint id ranges of equal width; every
    fifth range holds no star, so some planned queries find nothing and
    must still write one ``found=false`` ledger row.
    """
    rng = np.random.default_rng([seed, 1])
    filled = [q for q in range(n_queries) if q % 5 != 3]
    width = -(-n_stars // len(filled))
    ids = np.concatenate([np.arange(q * width, (q + 1) * width) for q in filled])
    ids = ids[:n_stars].astype(np.int64)
    ranges = [(q * width, (q + 1) * width - 1) for q in range(n_queries)]
    searched = rng.random(n_stars) < 0.3

    x = np.linspace(0.0, 10.0, n_obs)
    t0 = np.round(rng.random(n_stars) * 1000.0, 5)
    mags = np.empty((n_stars, n_obs))
    for i in range(n_stars):
        mags[i] = _curve(rng, x, bool(searched[i]))
    mags = np.round(mags, 3)
    times = np.round(t0[:, None] + x[None, :], 5)

    survey_dir = os.path.join(root, "survey")
    os.makedirs(survey_dir, exist_ok=True)
    n_files = 8
    per = -(-n_stars // n_files)
    for f in range(n_files):
        sl = slice(f * per, min((f + 1) * per, n_stars))
        k = sl.stop - sl.start
        if k <= 0:
            continue
        tbl = pa.table({
            "star_id": np.repeat(ids[sl], n_obs),
            "t": times[sl].ravel(),
            "mag": mags[sl].ravel(),
            "err": np.full(k * n_obs, 0.01),
        })
        pq.write_table(tbl, os.path.join(survey_dir, f"part-{f:03d}.parquet"))

    # labelled training sample: the first n_labelled stars of each class
    lab_idx = np.concatenate([
        np.flatnonzero(searched)[:n_labelled],
        np.flatnonzero(~searched)[:n_labelled],
    ])
    labels = pa.table({
        "star_id": ids[lab_idx],
        "searched": searched[lab_idx],
    })
    labels_path = os.path.join(root, "labels.parquet")
    pq.write_table(labels, labels_path)

    counts = np.array([
        int(((ids >= lo) & (ids <= hi)).sum()) for lo, hi in ranges
    ])
    return {
        "survey_dir": survey_dir,
        "labels_path": labels_path,
        "ranges": ranges,
        "ids": ids,
        "times": times,
        "mags": mags,
        "expected_ledger_rows": int(counts.sum() + (counts == 0).sum()),
        "expected_not_found": int((counts == 0).sum()),
    }


# ------------------------------------------------------- sample folders


def make_samples(root: str, seed: int, n_files: int, n_pts: int,
                 n_templates: int) -> dict:
    """A searched folder of FITS files and a contamination folder of dat
    files with planted sentinel rows, plus comparative templates.

    File names are integer star ids: the comparative operator keys
    curves by a long ``star_id``.
    """
    from lightcurvesclassifier_spark.sources.fits import write_star_fits

    rng = np.random.default_rng([seed, 2])
    x = np.linspace(0.0, 10.0, n_pts)
    t = np.round(x * 4.0, 5)
    fits_dir = os.path.join(root, "searched_fits")
    dat_dir = os.path.join(root, "contamination_dat")
    os.makedirs(fits_dir, exist_ok=True)
    os.makedirs(dat_dir, exist_ok=True)

    for i in range(n_files):
        sid = 100_000 + i
        mag = searched_curve(rng, x)
        payload = write_star_fits(
            {"IDENT": str(sid)},
            [{"band": "V", "time": t, "mag": mag, "err": np.full(n_pts, 0.01)}],
        )
        with open(os.path.join(fits_dir, f"{sid}.fits"), "wb") as f:
            f.write(payload)

    planted = 0
    for i in range(n_files):
        sid = 200_000 + i
        mag = contamination_curve(rng, x)
        lines = ["#time mag err"]
        lines += [f"{t[k]:.5f} {mag[k]:.3f} 0.010" for k in range(n_pts)]
        n_bad = int(rng.integers(1, 4))
        for _ in range(n_bad):
            tpl = SENTINEL_LINES[int(rng.integers(len(SENTINEL_LINES)))]
            pos = int(rng.integers(1, len(lines) + 1))
            lines.insert(pos, tpl.format(t=float(rng.random() * 40.0),
                                         mag=float(rng.random() * 5.0)))
        planted += n_bad
        with open(os.path.join(dat_dir, f"{sid}.dat"), "w") as f:
            f.write("\n".join(lines) + "\n")

    templates = [
        (900_000 + k, t.tolist(), np.round(np.cos(x) + rng.normal(size=n_pts) * 0.1, 3).tolist())
        for k in range(n_templates)
    ]
    return {
        "fits_dir": fits_dir,
        "dat_dir": dat_dir,
        "templates": templates,
        "fits_rows": n_files * n_pts,
        "dat_lines": n_files * n_pts + planted,
        "planted_sentinels": planted,
    }


# --------------------------------------------------------- sky catalog


def make_catalog(root: str, seed: int, n_stars: int, n_requests: int,
                 batch_rows: int) -> dict:
    """Parquet sky catalog, uniform on the sphere, and the seeded request
    mix a closed-loop client replays against it."""
    rng = np.random.default_rng([seed, 3])
    ra = rng.random(n_stars) * 360.0
    dec = np.degrees(np.arcsin(rng.random(n_stars) * 2.0 - 1.0))
    v_mag = np.round(rng.normal(15.0, 2.0, n_stars), 3)
    b_mag = np.round(v_mag + rng.normal(0.6, 0.3, n_stars), 3)
    ids = np.arange(n_stars, dtype=np.int64)
    cat_dir = os.path.join(root, "catalog")
    os.makedirs(cat_dir, exist_ok=True)
    n_files = 4
    per = -(-n_stars // n_files)
    for f in range(n_files):
        sl = slice(f * per, min((f + 1) * per, n_stars))
        pq.write_table(
            pa.table({"star_id": ids[sl], "ra_deg": ra[sl], "dec_deg": dec[sl],
                      "v_mag": v_mag[sl], "b_mag": b_mag[sl]}),
            os.path.join(cat_dir, f"part-{f:03d}.parquet"),
        )

    # every block of ten requests holds the same mix, in a seeded order,
    # so a run's mix does not drift with the seed
    mix = ["cone"] * 4 + ["nearest"] * 2 + ["dict"] * 3 + ["crossmatch"]
    kinds = np.concatenate([rng.permutation(mix) for _ in range(-(-n_requests // 10))])
    requests = []
    for kind in kinds[:n_requests]:
        if kind in ("cone", "nearest"):
            requests.append({
                "kind": str(kind),
                "ra": float(rng.random() * 360.0),
                "dec": float(np.degrees(np.arcsin(rng.random() * 1.9 - 0.95))),
                "delta": float(rng.uniform(0.05, 2.0)),
            })
        elif kind == "dict":
            lo = float(np.round(rng.uniform(8.0, 21.0), 2))
            hi = float(np.round(lo + rng.uniform(0.001, 0.01), 3))
            blo = float(np.round(rng.uniform(8.0, 21.0), 2))
            requests.append({
                "kind": "dict",
                "queries": [{"v_mag": (lo, hi)}, {"b_mag": f"<{blo - 13.0:.2f}"}],
            })
        else:
            pick = rng.choice(n_stars, size=batch_rows, replace=False)
            # half the detections sit within 0.3 arcsec of a catalog
            # star, the rest land on random sky
            near = rng.random(batch_rows) < 0.5
            j_ra = np.where(near, ra[pick] + rng.normal(0, 3e-5, batch_rows),
                            rng.random(batch_rows) * 360.0) % 360.0
            j_dec = np.where(near, dec[pick] + rng.normal(0, 3e-5, batch_rows),
                             np.degrees(np.arcsin(rng.random(batch_rows) * 2 - 1)))
            requests.append({
                "kind": "crossmatch",
                "det_id": list(range(batch_rows)),
                "ra": j_ra.tolist(),
                "dec": np.clip(j_dec, -90.0, 90.0).tolist(),
            })
    return {
        "catalog_dir": cat_dir,
        "n_stars": n_stars,
        "ra": ra,
        "dec": dec,
        "v_mag": v_mag,
        "b_mag": b_mag,
        "requests": requests,
    }
