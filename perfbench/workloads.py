"""The benchmark workloads, each re-running user-facing commands of the
reference through this package's public functions.

- ``filter_pipeline``: ``make_filter`` then ``filter_stars``. The first
  half (``TrainFilter``) ingests FITS and dat sample folders, computes
  per-curve descriptors and grid-searches deciders; the second half
  (``SurveySearch``) computes survey features, trains and scores a
  filter and runs a resumable systematic search that appends to a
  ledger.
- ``catalog_lookup``: ``db_tier`` cone, nearest, dict and crossmatch
  queries from one closed-loop client.

Each workload exposes ``generate()`` (inputs from the seed), ``op(tracer)``
(one timed operation, returning its item count and what the check needs)
and ``check(payload)`` (the untimed correctness check of one operation,
returning a list of failures).

With tracing on, each call into a layer runs inside a span named
``<layer>.<step>`` and the layer's output is materialised at the span's
end (``cache`` + ``count``, or a ``noop`` write), so the span holds that
layer's own work rather than work Spark deferred to a later action.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from lightcurvesclassifier_spark.cli.descriptors import _collect_curves
from lightcurvesclassifier_spark.functions.curve_udfs import variogram_slope
from lightcurvesclassifier_spark.functions.curves import curve_features
from lightcurvesclassifier_spark.functions.periodogram import best_period
from lightcurvesclassifier_spark.ml.deciders import make_decider
from lightcurvesclassifier_spark.ml.params_estim import ParamsEstimator
from lightcurvesclassifier_spark.ml.stars_filter import StarsFilter
from lightcurvesclassifier_spark.operators.comparative import comparative_scores
from lightcurvesclassifier_spark.operators.cone_search import cone_search
from lightcurvesclassifier_spark.operators.crossmatch import crossmatch
from lightcurvesclassifier_spark.operators import searcher
from lightcurvesclassifier_spark.plans.query_compiler import apply_queries
from lightcurvesclassifier_spark.schemas import CROSSMATCH_EPS_DEG
from lightcurvesclassifier_spark.sources.files import load_dat_curves
from lightcurvesclassifier_spark.sources.fits import load_fits_curves

import checks
import gen


def _materialise(df):
    """Cache ``df`` and run it, so the enclosing span holds its work."""
    df = df.cache()
    df.count()
    return df


def _dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) of a parquet directory Spark wrote."""
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    return len(files), sum(os.path.getsize(os.path.join(path, f)) for f in files)


class SurveySearch:
    """``filter_stars``: the heavy-throughput path that also writes."""

    N_STARS = 5_000
    N_OBS = 100
    N_QUERIES = 100
    N_BATCHES = 2
    N_LABELLED = 300
    FEATURES = ["abbe", "std_mag", "mean_mag"]

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.passes = 0

    def generate(self) -> None:
        self.truth = gen.make_survey(
            os.path.join(self.work, "in"), self.seed, self.N_STARS, self.N_OBS,
            self.N_QUERIES, self.N_LABELLED)

    def op(self, tracer):
        spark, truth = self.spark, self.truth
        traced = tracer.enabled
        self.passes += 1
        out = os.path.join(self.work, "out", f"pass-{self.passes}")
        ledger_dir = os.path.join(out, "ledger")
        passed_dir = os.path.join(out, "passed")
        ranges = truth["ranges"]
        with tracer.span("sources.scan"):
            obs = spark.read.parquet(truth["survey_dir"])
            if traced:
                obs.write.format("noop").mode("overwrite").save()
        # the features feed the filter's training and its scoring, and the
        # scores feed every search batch: a caller reuses them, cached
        with tracer.span("functions.features"):
            feats = _materialise(curve_features(obs))
        labels = spark.read.parquet(truth["labels_path"])
        lab = feats.join(labels, "star_id")
        filt = StarsFilter([make_decider("LDADec")], self.FEATURES)
        with tracer.span("ml.learn"):
            filt.learn(lab.filter(F.col("searched")), lab.filter(~F.col("searched")))
        with tracer.span("ml.predict"):
            # predictions(), not all_predictions(): the latter's ``passed``
            # column collides with the one run_search adds
            # (COLUMN_ALREADY_EXISTS)
            preds = _materialise(filt.predictions(feats))
        (prob_col,) = [c for c in preds.columns if c not in feats.columns]
        passed_ranges = {prob_col: (filt.deciders[0].threshold, None)}
        for b in range(1, self.N_BATCHES + 1):
            plan = searcher.queries_df(spark, ranges[: b * len(ranges) // self.N_BATCHES])
            if not traced:
                searcher.search_and_resume(
                    spark, lambda: preds, plan, passed_ranges, ledger_dir, passed_dir)
                continue
            # the body of search_and_resume, one span per step
            with tracer.span("operators.resume"):
                todo = plan
                if os.path.exists(ledger_dir):
                    todo = searcher.unsearched_queries(plan, spark.read.parquet(ledger_dir))
                todo = _materialise(todo)
            with tracer.span("operators.search"):
                ledger = _materialise(searcher.run_search(preds, todo, passed_ranges))
            with tracer.span("operators.ledger_write"):
                searcher.write_results(ledger, ledger_dir, passed_dir)
        if traced:
            self.ledger_stats = _dir_stats(ledger_dir)
        return self.N_STARS, ledger_dir

    def check(self, ledger_dir: str) -> list[str]:
        ledger = pq.read_table(ledger_dir).to_pandas()
        rng = np.random.default_rng([self.seed, self.passes, 7])
        return checks.check_ledger(ledger, self.truth, rng, n_sample=20)


class TrainFilter:
    """``make_filter``: many small files in, one fitted filter out."""

    N_FILES = 50
    N_PTS = 400
    N_TEMPLATES = 3
    FEATURES = ["abbe", "std_mag", "variogram_slope", "shape_score", "best_period"]
    DECIDERS = ("LDADec", "QDADec", "GaussianNBDec")

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed

    def generate(self) -> None:
        self.truth = gen.make_samples(
            os.path.join(self.work, "in"), self.seed, self.N_FILES, self.N_PTS,
            self.N_TEMPLATES)
        self.templates = self.spark.createDataFrame(
            self.truth["templates"], "star_id long, time array<double>, mag array<double>")

    def _features(self, obs, tracer):
        spark, traced = self.spark, tracer.enabled
        with tracer.span("functions.curves_view"):
            curves = _collect_curves(obs)
            if traced:
                curves = _materialise(curves)
        with tracer.span("functions.features"):
            base = curve_features(obs).select("star_id", "abbe", "std_mag")
            if traced:
                base = _materialise(base)
        with tracer.span("functions.variogram"):
            vario = variogram_slope(curves)
            if traced:
                vario = _materialise(vario)
        with tracer.span("operators.comparative"):
            shape = (
                comparative_scores(curves, self.templates, "curves_shape",
                                   alphabet_size=10, days_per_bin=2.0)
                .groupBy("star_id").agg(F.min("score").alias("shape_score"))
            )
            if traced:
                shape = _materialise(shape)
        with tracer.span("functions.period"):
            period = best_period(spark, obs).select("star_id", "best_period")
            if traced:
                period = _materialise(period)
        return base.join(vario, "star_id").join(shape, "star_id").join(period, "star_id")

    def op(self, tracer):
        spark, truth = self.spark, self.truth
        with tracer.span("sources.list"):
            fits = load_fits_curves(spark, os.path.join(truth["fits_dir"], "*.fits"))
            dat = load_dat_curves(spark, truth["dat_dir"])
        with tracer.span("sources.ingest"):
            # make_filter caches its ingested samples; the counts are the
            # cache's first action
            searched = fits.select(
                F.col("star_id").cast("long"), "t", "mag", "err").cache()
            others = dat.select(
                F.col("star_id").cast("long"), "t", "mag", "err").cache()
            counts = (searched.count(), others.count())
        # the grid splits each feature table in two; cached, the
        # descriptors run once per sample instead of once per split
        feats_s = _materialise(self._features(searched, tracer))
        feats_o = _materialise(self._features(others, tracer))
        cols = self.FEATURES
        with tracer.span("ml.grid"):
            best, combo, stats = ParamsEstimator(
                feats_s, feats_o,
                build=lambda c: StarsFilter([make_decider(c["decider"])], cols),
                combos=[{"decider": d} for d in self.DECIDERS],
                seed=self.seed,
            ).fit()
        return 2 * self.N_FILES, (counts, combo, stats)

    def check(self, payload) -> list[str]:
        counts, combo, stats = payload
        return checks.check_ingest(counts, self.truth) + checks.check_grid(
            combo, stats, self.DECIDERS)


class CatalogLookup:
    """``db_tier`` queries from one closed-loop client: the next request
    is sent when the last one returns."""

    name = "catalog_lookup"
    # every block of ten requests holds the whole mix (gen.make_catalog)
    BLOCK = 10
    # lookups keep getting faster over the first ~50-80 requests while
    # the JVM compiles Spark's hot paths (in one 4-core run its compile
    # rate fell sixfold over the first 80); warm four blocks so the timed
    # window starts near the end of that slope instead of on it
    WARM_OPS = 40
    # share of the cores the run keeps to: a lookup service on part of a
    # machine. On all of them, one client's tiny tasks contend with the
    # query-planning thread and the JIT compiler threads, which keep
    # compiling each request's fresh generated code, and a busy shared
    # host slows lookups about twice as much as it slows batch work. On
    # 4 cores, half the cores served lookups faster in 5 of 5 alternating
    # pairs of runs, with less spread between runs
    SLOT_SHARE = 0.5
    # a service does not clear its caches between requests
    RECLAIM_BETWEEN_OPS = False
    N_STARS = 200_000
    N_REQUESTS = 1_000
    BATCH_ROWS = 500

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.next = 0

    def generate(self) -> None:
        self.truth = gen.make_catalog(
            os.path.join(self.work, "in"), self.seed, self.N_STARS,
            self.N_REQUESTS, self.BATCH_ROWS)
        self.catalog = self.spark.read.parquet(self.truth["catalog_dir"])
        self.index = checks.SkyIndex(self.truth["ra"], self.truth["dec"])
        self.next = 0

    def _query(self, req: dict):
        cat = self.catalog
        kind = req["kind"]
        if kind in ("cone", "nearest"):
            return cone_search(cat, req["ra"], req["dec"], req["delta"],
                               nearest=kind == "nearest").select("star_id")
        if kind == "dict":
            return apply_queries(cat, req["queries"]).select("star_id")
        det = self.spark.createDataFrame(pd.DataFrame(
            {"det_id": req["det_id"], "ra_deg": req["ra"], "dec_deg": req["dec"]}))
        return crossmatch(cat, det, right_cols=["det_id"]).select(
            "l_star_id", "r_det_id")

    def op(self, tracer):
        req = self.truth["requests"][self.next % len(self.truth["requests"])]
        self.next += 1
        span = {"cone": "operators.cone", "nearest": "operators.cone",
                "dict": "plans.dict_query", "crossmatch": "operators.crossmatch"}
        scanned = None
        with tracer.span(span[req["kind"]]):
            df = self._query(req)
            if tracer.enabled:
                with tracer.span("plans.plan"):
                    df._jdf.queryExecution().executedPlan()
            rows = [tuple(r) for r in df.collect()]
            if tracer.enabled:
                scanned = scan_output_rows(df)
        return 1, (req, rows, scanned)

    def headline(self, ops) -> dict[str, str]:
        """Request latency: the median and the highest percentile with
        at least ten requests beyond it."""
        lat = sorted(o["s"] * 1000.0 for o in ops)
        out = {"lookup_ms_p50": f"{statistics.median(lat):.4g} ms",
               "requests": str(len(lat))}
        q = int(100 * (len(lat) - 10) / len(lat)) if len(lat) > 10 else 0
        if q > 50:
            out[f"lookup_ms_p{q}"] = f"{statistics.quantiles(lat, n=100)[q - 1]:.4g} ms"
        return out

    def layer_counts(self, traced_ops) -> dict:
        """Rows the scans emitted per row returned, over the traced cones."""
        cones = [o["payload"] for o in traced_ops
                 if o["payload"] is not None and o["payload"][0]["kind"] == "cone"]
        returned = sum(len(rows) for _, rows, _ in cones)
        scanned = sum(n for _, _, n in cones)
        return {"operators.cone_rows_scanned_per_result": (
            scanned / returned if returned else 0.0, "ratio")}

    def check(self, payload) -> list[str]:
        req, rows, _ = payload
        return checks.check_lookup(req, rows, self.truth, self.index,
                                   CROSSMATCH_EPS_DEG)


def scan_output_rows(df) -> int:
    """Rows the file scan nodes emitted in ``df``'s executed plan, read
    after its action (adaptive plans are unwrapped to their final plan)."""
    total = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if "QueryStage" in name:
            stack.append(node.plan())
            continue
        if name.startswith("Scan parquet") or "FileSourceScan" in name:
            metric = node.metrics().get("numOutputRows")
            if metric.isDefined():
                total += metric.get().value()
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return total


class FilterPipeline:
    """Train a filter from sample files, then search a survey. Items are
    the light curves the operation processed: sample curves trained on
    plus survey stars searched."""

    name = "filter_pipeline"
    BLOCK = 1
    WARM_OPS = 1
    SLOT_SHARE = 1.0
    RECLAIM_BETWEEN_OPS = True

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.train = TrainFilter(spark, work, seed)
        self.search = SurveySearch(spark, work, seed)
        self.phases: list[tuple[float, float]] = []

    def generate(self) -> None:
        self.train.generate()
        self.search.generate()

    def op(self, tracer):
        t0 = time.perf_counter()
        n_train, p_train = self.train.op(tracer)
        t1 = time.perf_counter()
        n_search, p_search = self.search.op(tracer)
        self.phases.append((t1 - t0, time.perf_counter() - t1))
        return n_train + n_search, (p_train, p_search)

    def headline(self, ops) -> dict[str, str]:
        """Throughput of each half over the measured operations."""
        train_s, search_s = (sum(p) for p in zip(*self.phases[-len(ops):]))
        return {
            "train_curves_per_s": f"{2 * self.train.N_FILES * len(ops) / train_s:.4g} 1/s",
            "search_stars_per_s": f"{self.search.N_STARS * len(ops) / search_s:.4g} 1/s",
        }

    def layer_counts(self, traced_ops) -> dict:
        """Ledger data files and bytes after the last traced batch."""
        files, size = self.search.ledger_stats
        return {"operators.ledger_files": (files, "count"),
                "operators.ledger_bytes": (size, "bytes")}

    def check(self, payload) -> list[str]:
        return self.train.check(payload[0]) + self.search.check(payload[1])


WORKLOADS = {w.name: w for w in (FilterPipeline, CatalogLookup)}
