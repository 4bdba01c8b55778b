"""Tests of the benchmark's own pieces: the generator, the correctness
checks, the span arithmetic and how a run is measured. No Spark
session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

import checks
import gen
import run
from spans import Span, self_times


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


# ------------------------------------------------------------ generator


def test_survey_is_deterministic_per_seed(tmp_path):
    a = gen.make_survey(str(tmp_path / "a"), 5, 300, 20, 12, 10)
    b = gen.make_survey(str(tmp_path / "b"), 5, 300, 20, 12, 10)
    c = gen.make_survey(str(tmp_path / "c"), 6, 300, 20, 12, 10)
    assert _tree_bytes(str(tmp_path / "a")) == _tree_bytes(str(tmp_path / "b"))
    assert a["ranges"] == b["ranges"]
    assert a["expected_ledger_rows"] == b["expected_ledger_rows"]
    assert not np.array_equal(a["mags"], c["mags"])
    # some planned queries fall in an id gap and find no star
    assert a["expected_not_found"] > 0


def test_samples_are_deterministic_per_seed(tmp_path):
    a = gen.make_samples(str(tmp_path / "a"), 5, 4, 30, 2)
    gen.make_samples(str(tmp_path / "b"), 5, 4, 30, 2)
    gen.make_samples(str(tmp_path / "c"), 6, 4, 30, 2)
    assert _tree_bytes(str(tmp_path / "a")) == _tree_bytes(str(tmp_path / "b"))
    assert _tree_bytes(str(tmp_path / "a")) != _tree_bytes(str(tmp_path / "c"))
    assert a["planted_sentinels"] >= 4


def test_catalog_is_deterministic_per_seed(tmp_path):
    a = gen.make_catalog(str(tmp_path / "a"), 5, 2000, 30, 20)
    b = gen.make_catalog(str(tmp_path / "b"), 5, 2000, 30, 20)
    c = gen.make_catalog(str(tmp_path / "c"), 6, 2000, 30, 20)
    assert _tree_bytes(str(tmp_path / "a")) == _tree_bytes(str(tmp_path / "b"))
    assert a["requests"] == b["requests"]
    assert a["requests"] != c["requests"]
    kinds = [r["kind"] for r in a["requests"][:10]]
    assert sorted(kinds) == sorted(["cone"] * 4 + ["nearest"] * 2 + ["dict"] * 3
                                   + ["crossmatch"])


# --------------------------------------------------------------- checks


@pytest.fixture(scope="module")
def survey(tmp_path_factory):
    return gen.make_survey(str(tmp_path_factory.mktemp("s")), 3, 200, 20, 10, 5)


def _ledger(truth) -> pd.DataFrame:
    """The ledger a correct search writes for ``truth``."""
    rows = []
    ids = truth["ids"]
    for q, (lo, hi) in enumerate(truth["ranges"]):
        idx = np.flatnonzero((ids >= lo) & (ids <= hi))
        if len(idx) == 0:
            rows.append({"query_id": q, "star_id": None, "found": False})
        for i in idx:
            feats = checks.expected_features(truth["times"][i], truth["mags"][i])
            rows.append({"query_id": q, "star_id": int(ids[i]), "found": True, **feats})
    return pd.DataFrame(rows)


def _check(ledger, truth):
    return checks.check_ledger(ledger, truth, np.random.default_rng(0), n_sample=10**6)


def test_ledger_check_accepts_a_correct_ledger(survey):
    assert _check(_ledger(survey), survey) == []


def test_ledger_check_rejects_a_missing_row(survey):
    assert _check(_ledger(survey).iloc[1:], survey)


def test_ledger_check_rejects_a_wrong_found_flag(survey):
    ledger = _ledger(survey)
    ledger.loc[ledger["found"].idxmin(), "found"] = True
    assert _check(ledger, survey)


def test_ledger_check_rejects_a_wrong_feature(survey):
    ledger = _ledger(survey)
    i = ledger["found"].idxmax()
    ledger.loc[i, "abbe"] = ledger.loc[i, "abbe"] * (1 + 1e-5)
    assert _check(ledger, survey)


def test_ingest_check(tmp_path):
    truth = gen.make_samples(str(tmp_path), 1, 3, 20, 1)
    good = (truth["fits_rows"], truth["dat_lines"] - truth["planted_sentinels"])
    assert checks.check_ingest(good, truth) == []
    # a sentinel row that slipped through
    assert checks.check_ingest((good[0], good[1] + 1), truth)
    assert checks.check_ingest((good[0] - 1, good[1]), truth)


def test_grid_check():
    stats = [{"precision": 0.7, "params": {"decider": "A"}},
             {"precision": 0.9, "params": {"decider": "B"}}]
    assert checks.check_grid({"decider": "B"}, stats, "AB") == []
    assert checks.check_grid({"decider": "A"}, stats, "AB")
    assert checks.check_grid({"decider": "B"}, stats[:1], "AB")


@pytest.fixture(scope="module")
def catalog(tmp_path_factory):
    truth = gen.make_catalog(str(tmp_path_factory.mktemp("c")), 4, 20_000, 40, 30)
    return truth, checks.SkyIndex(truth["ra"], truth["dec"])


def _answer(req, truth):
    """Brute-force answers over the whole catalog."""
    sep = checks.haversine_deg(req["ra"], req["dec"], truth["ra"], truth["dec"]) \
        if req["kind"] in ("cone", "nearest") else None
    if req["kind"] == "cone":
        return [(int(i),) for i in np.flatnonzero(sep < req["delta"])]
    if req["kind"] == "nearest":
        inside = np.flatnonzero(sep < req["delta"])
        return [(int(inside[np.argmin(sep[inside])]),)] if len(inside) else []
    if req["kind"] == "dict":
        (vq,), (bq,) = (q.values() for q in req["queries"])
        mask = ((truth["v_mag"] >= vq[0]) & (truth["v_mag"] <= vq[1])) | (
            truth["b_mag"] < float(bq.lstrip("<")))
        return [(int(i),) for i in np.flatnonzero(mask)]
    rows = []
    for k, det in enumerate(req["det_id"]):
        s = checks.haversine_deg(req["ra"][k], req["dec"][k], truth["ra"], truth["dec"])
        rows += [(int(i), det) for i in np.flatnonzero(s < 0.000138)]
    return rows


def _first(truth, kind, nonempty=True):
    for req in truth["requests"]:
        if req["kind"] == kind and (_answer(req, truth) or not nonempty):
            return req
    raise AssertionError(f"no {kind} request with results")


@pytest.mark.parametrize("kind", ["cone", "nearest", "dict", "crossmatch"])
def test_lookup_check_accepts_brute_force_answers(catalog, kind):
    truth, index = catalog
    req = _first(truth, kind)
    assert checks.check_lookup(req, _answer(req, truth), truth, index, 0.000138) == []


@pytest.mark.parametrize("kind", ["cone", "nearest", "dict", "crossmatch"])
def test_lookup_check_rejects_a_missing_row(catalog, kind):
    truth, index = catalog
    req = _first(truth, kind)
    assert checks.check_lookup(req, _answer(req, truth)[1:], truth, index, 0.000138)


@pytest.mark.parametrize("kind", ["cone", "nearest", "dict"])
def test_lookup_check_rejects_an_extra_row(catalog, kind):
    truth, index = catalog
    req = _first(truth, kind)
    rows = _answer(req, truth)
    far = next(i for i in range(truth["n_stars"]) if (i,) not in rows)
    assert checks.check_lookup(req, rows + [(far,)], truth, index, 0.000138)


# ---------------------------------------------------------------- spans


def test_self_time_subtracts_the_children_union():
    spans = [
        Span(1, "op", None, "r", 0.0, 10.0),
        Span(2, "a", 1, "r", 1.0, 3.0),
        Span(3, "b", 1, "r", 2.0, 5.0),   # overlaps a: covered 1..5
        Span(4, "c", 1, "r", 8.0, 12.0),  # runs past its parent: 8..10
        Span(5, "d", 3, "r", 2.5, 3.5),   # grandchild: only b's time
    ]
    got = self_times(spans)
    assert got[1] == pytest.approx(10.0 - 4.0 - 2.0)
    assert got[2] == pytest.approx(2.0)
    assert got[3] == pytest.approx(3.0 - 1.0)
    assert got[4] == pytest.approx(4.0)
    assert got[5] == pytest.approx(1.0)


def test_self_time_of_a_leaf_is_its_duration():
    assert self_times([Span(1, "x", None, "r", 2.0, 2.5)]) == {1: pytest.approx(0.5)}


# ------------------------------------------------------------ measuring


class _Fake:
    """A workload whose operations take no time."""

    name = "fake"
    BLOCK = 10

    def op(self, tracer):
        return 1, None


def test_measure_ends_on_a_whole_block():
    from spans import Tracer

    ops = run.measure(_Fake(), Tracer(False, "r"), 0, per_op_reclaim=False, min_ops=3)
    assert len(ops) == 10
    assert all(o["error"] is None for o in ops)


def test_throughput_is_that_of_the_median_block():
    def block(s):
        return [{"s": s, "items": 1, "error": None}] * 2

    # per-operation seconds 0.1, 0.2 and 1.0: the slow block moves the
    # mean rate but not the median block's
    ops = block(0.1) + block(0.2) + block(1.0)
    m = run.end_to_end(ops, setup_s=3.0, block=2)
    assert m["items_per_s"] == (pytest.approx(5.0), "1/s")
    assert m["op_ms_p50"] == (pytest.approx(200.0), "ms")
    assert m["setup_s"] == (3.0, "s")
