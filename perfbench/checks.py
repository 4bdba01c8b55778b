"""Correctness checks: each compares one operation's output with an
answer worked out in numpy from the generated inputs, and returns the
list of its failures (empty when the output is correct)."""

from __future__ import annotations

import numpy as np

from lightcurvesclassifier_spark.functions import kernels

# features compared relative to their size, and absolutely near zero
FEATURE_TOL = 1e-6
# separations this close to a search radius may fall on either side of
# it from rounding alone
EDGE_DEG = 1e-9


def _close(got, want) -> bool:
    return bool(np.isclose(got, want, rtol=FEATURE_TOL, atol=FEATURE_TOL))


def expected_features(t: np.ndarray, m: np.ndarray) -> dict:
    order = np.lexsort((m, t))
    t, m = t[order], m[order]
    n = len(m)
    return {
        "n_obs": n,
        "mean_mag": m.mean(),
        "std_mag": m.std(),
        "timespan": t.max() - t.min(),
        "curve_density": kernels.curve_density(t),
        "abbe": kernels.abbe(m, n),
    }


def check_ledger(ledger, truth: dict, rng: np.random.Generator,
                 n_sample: int) -> list[str]:
    """Ledger size and found=false rows against the query plan, and the
    features of sampled stars against the numpy kernels."""
    fails = []
    if len(ledger) != truth["expected_ledger_rows"]:
        fails.append(f"ledger rows {len(ledger)} != {truth['expected_ledger_rows']}")
    not_found = int((~ledger["found"].astype(bool)).sum())
    if not_found != truth["expected_not_found"]:
        fails.append(f"found=false rows {not_found} != {truth['expected_not_found']}")
    found = ledger[ledger["found"].astype(bool)]
    if len(found) == 0:
        return fails + ["no found rows"]
    ids = truth["ids"]
    pick = rng.choice(len(found), size=min(n_sample, len(found)), replace=False)
    for _, row in found.iloc[pick].iterrows():
        i = int(np.searchsorted(ids, row["star_id"]))
        if i >= len(ids) or ids[i] != row["star_id"]:
            fails.append(f"star {row['star_id']} not in the survey")
            continue
        for col, want in expected_features(truth["times"][i], truth["mags"][i]).items():
            if not _close(row[col], want):
                fails.append(f"star {row['star_id']} {col} {row[col]!r} != {want!r}")
    return fails


def check_ingest(counts: tuple[int, int], truth: dict) -> list[str]:
    """Rows ingested from each folder equal the rows written minus the
    planted sentinel rows."""
    fails = []
    fits_want = truth["fits_rows"]
    dat_want = truth["dat_lines"] - truth["planted_sentinels"]
    if counts[0] != fits_want:
        fails.append(f"FITS rows {counts[0]} != {fits_want}")
    if counts[1] != dat_want:
        fails.append(f"dat rows {counts[1]} != {dat_want}")
    return fails


def check_grid(combo: dict, stats: list[dict], deciders) -> list[str]:
    """One result per decider, and the chosen filter is the best one."""
    if len(stats) != len(deciders):
        return [f"{len(stats)} grid results for {len(deciders)} deciders"]
    scores = [s["precision"] for s in stats]
    if any(s is None for s in scores):
        return [f"undefined precision in {scores}"]
    best = stats[int(np.argmax(scores))]["params"]
    if combo != best:
        return [f"chose {combo}, best is {best}"]
    return []


def haversine_deg(ra1, dec1, ra2, dec2):
    """The separation formula of operators/sky.py, in numpy."""
    dlat = np.radians(dec2 - dec1) / 2.0
    dlon = np.radians(ra2 - ra1) / 2.0
    a = (np.sin(dlat) ** 2
         + np.cos(np.radians(dec1)) * np.cos(np.radians(dec2)) * np.sin(dlon) ** 2)
    return np.degrees(2.0 * np.arcsin(np.sqrt(np.minimum(a, 1.0))))


class SkyIndex:
    """Catalog sorted by declination, to find the stars near a point."""

    def __init__(self, ra: np.ndarray, dec: np.ndarray):
        self.order = np.argsort(dec, kind="stable")
        self.ra = ra[self.order]
        self.dec = dec[self.order]

    def within(self, ra: float, dec: float, radius: float):
        """(star ids, separations) of the stars closer than
        ``radius + EDGE_DEG``."""
        lo = np.searchsorted(self.dec, dec - radius - EDGE_DEG, "left")
        hi = np.searchsorted(self.dec, dec + radius + EDGE_DEG, "right")
        sep = haversine_deg(ra, dec, self.ra[lo:hi], self.dec[lo:hi])
        keep = sep < radius + EDGE_DEG
        return self.order[lo:hi][keep], sep[keep]


def _match_set(got: set, ids, sep, radius: float, what: str) -> list[str]:
    sure = {int(i) for i, s in zip(ids, sep) if s < radius - EDGE_DEG}
    maybe = {int(i) for i in ids}
    if not sure <= got <= maybe:
        return [f"{what}: missing {sorted(sure - got)[:5]}, extra {sorted(got - maybe)[:5]}"]
    return []


def check_lookup(req: dict, rows: list[tuple], truth: dict, index: SkyIndex,
                 eps_deg: float) -> list[str]:
    kind = req["kind"]
    if kind == "cone":
        got = [r[0] for r in rows]
        if len(got) != len(set(got)):
            return ["cone: duplicate rows"]
        ids, sep = index.within(req["ra"], req["dec"], req["delta"])
        return _match_set(set(got), ids, sep, req["delta"], "cone")
    if kind == "nearest":
        ids, sep = index.within(req["ra"], req["dec"], req["delta"])
        if not rows:
            return [] if not (sep < req["delta"] - EDGE_DEG).any() else ["nearest: no row"]
        if len(ids) == 0:
            return [f"nearest: expected none, got {rows}"]
        best = int(ids[np.lexsort((ids, sep))[0]])
        return [] if rows == [(best,)] else [f"nearest: {rows} != {best}"]
    if kind == "dict":
        mask = np.zeros(truth["n_stars"], dtype=bool)
        for q in req["queries"]:
            qmask = np.ones(truth["n_stars"], dtype=bool)
            for col, cond in q.items():
                vals = truth[col]
                if isinstance(cond, tuple):
                    qmask &= (vals >= cond[0]) & (vals <= cond[1])
                else:
                    qmask &= vals < float(cond.lstrip("<"))
            mask |= qmask
        want = set(np.flatnonzero(mask).tolist())
        got = [r[0] for r in rows]
        if len(got) != len(want) or set(got) != want:
            return [f"dict: {len(got)} rows, expected {len(want)}"]
        return []
    fails = []
    got = {}
    for star, det in rows:
        got.setdefault(det, set()).add(star)
    for k, det in enumerate(req["det_id"]):
        ids, sep = index.within(req["ra"][k], req["dec"][k], eps_deg)
        fails += _match_set(got.get(det, set()), ids, sep, eps_deg, f"crossmatch det {det}")
    return fails
