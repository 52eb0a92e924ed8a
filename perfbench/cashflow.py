"""cashflow_forecast: the paper's three jobs, in order, every pass.

* generate: ``generate_series_frame`` writes the ts_balance table;
* train: ``clean_series`` -> ``pre_processing`` ->
  ``train_val_test_split`` -> ``fit_numpy_cnn`` ->
  ``LocalModelRegistry.register``;
* score: ``pre_processing`` -> ``score_dataframe(numpy_cnn_factory)``
  -> ``post_processing`` -> ``r2_metrics``.

Untraced, each job runs fused as a user would write it. Traced, the
stage boundaries are materialized so that each layer times apart, and
the trainer's feed is drained apart from the fit.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

import checks
from harness import fresh_dir

N_SERIES = 250
EPOCHS = 2
END_DATE = "2020-03-31"
N_DAYS = 487  # 2018-12-01 .. 2020-03-31
SAMPLE_IDS = 12
MODEL = "cashflow_cnn"


class CashflowForecast:
    ops_per_pass = 3  # generate, train, score

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.table = os.path.join(work, "ts_balance")
        self.model_path = os.path.join(work, "model", "cnn.npz")
        self.registry_root = os.path.join(work, "registry")
        self.last: dict = {}

    def build_inputs(self) -> None:
        """The only input is the seed; generation is part of every pass."""

    def reset(self) -> None:
        shutil.rmtree(self.table, ignore_errors=True)
        fresh_dir(os.path.dirname(self.model_path))
        fresh_dir(self.registry_root)

    # -- the three jobs ----------------------------------------------------
    def _generate(self) -> None:
        from time_series_prediction_spark.sources.generate import (
            generate_series_frame,
        )

        with self.tracer.span("generate"):
            generate_series_frame(
                self.spark, N_SERIES, end_date=END_DATE, seed=self.seed
            ).write.parquet(self.table)

    def _train(self, traced: bool) -> dict:
        from time_series_prediction_spark.model.numpy_cnn import fit_numpy_cnn
        from time_series_prediction_spark.model.registry import (
            LocalModelRegistry,
        )
        from time_series_prediction_spark.plans.preprocess import (
            clean_series,
            pre_processing,
            train_val_test_split,
        )

        balance = self.spark.read.parquet(self.table)
        prepared = pre_processing(clean_series(balance), END_DATE)
        train, val, _test = train_val_test_split(prepared)
        if traced:
            model, history = self._fit_apart(train, val)
        else:
            model, history = fit_numpy_cnn(train, val, epochs=EPOCHS, seed=self.seed)
        with self.tracer.span("registry.register"):
            model.save(self.model_path)
            version = LocalModelRegistry(self.registry_root).register(
                MODEL, run_id=f"seed{self.seed}", source=self.model_path
            )
        return {"history": history, "version": version.version}

    def _fit_apart(self, train, val):
        """``fit_numpy_cnn``'s epochs with the feed drained apart from
        the fit, so that the two layers time apart."""
        from time_series_prediction_spark.model.numpy_cnn import NumpyCNN1D
        from time_series_prediction_spark.model.train import training_batches

        model = NumpyCNN1D(365, 92, seed=self.seed)
        history: dict[str, list[float]] = {"loss": [], "val_loss": []}
        for _ in range(EPOCHS):
            with self.tracer.span("train.feed"):
                tb = list(training_batches(train, 200))
                vb = list(training_batches(val, 200))
            with self.tracer.span("train.fit"):
                history["loss"].append(
                    float(np.mean([model.train_batch(x, y) for x, y in tb]))
                )
                err = sum(float(np.abs(model.predict(x) - y).sum()) for x, y in vb)
                history["val_loss"].append(err / max(sum(y.size for _, y in vb), 1))
        return model, history

    def _score(self, traced: bool) -> dict:
        from time_series_prediction_spark.model.scoring import (
            numpy_cnn_factory,
            score_dataframe,
        )
        from time_series_prediction_spark.plans.preprocess import (
            post_processing,
            pre_processing,
            r2_metrics,
        )

        balance = self.spark.read.parquet(self.table)
        factory = numpy_cnn_factory(self.model_path)
        if not traced:
            row = r2_metrics(
                post_processing(
                    score_dataframe(pre_processing(balance, END_DATE), factory)
                )
            ).collect()[0]
            return row.asDict()
        pinned = []

        def pin(df):
            df = df.cache()
            df.count()
            pinned.append(df)
            return df

        with self.tracer.span("preprocess.pre_processing"):
            pre = pin(pre_processing(balance, END_DATE))
        with self.tracer.span("scoring.score", series=N_SERIES):
            scored = pin(score_dataframe(pre, factory))
        with self.tracer.span("preprocess.post_processing"):
            post = pin(post_processing(scored))
        with self.tracer.span("preprocess.r2_metrics"):
            row = r2_metrics(post).collect()[0]
        for df in pinned:
            df.unpersist()
        return row.asDict()

    def run_pass(self, rec: dict) -> None:
        traced = self.tracer.enabled
        t0 = time.perf_counter()
        self._generate()
        t1 = time.perf_counter()
        with self.tracer.span("train"):
            trained = self._train(traced)
        t2 = time.perf_counter()
        with self.tracer.span("score"):
            r2 = self._score(traced)
        t3 = time.perf_counter()
        rec.setdefault("generate_s", []).append(t1 - t0)
        rec.setdefault("train_s", []).append(t2 - t1)
        rec.setdefault("score_s", []).append(t3 - t2)
        self.last = {"r2": r2, **trained}

    def after_pass(self, rec: dict) -> tuple[int, int]:
        return self.ops_per_pass, 0

    # -- figures -----------------------------------------------------------
    def report(self, rec: dict, med) -> dict:
        return {
            "generate_s": (med(rec["generate_s"]), "s"),
            "train_s": (med(rec["train_s"]), "s"),
            "score_series_per_s": (N_SERIES / med(rec["score_s"]), "series/s"),
        }

    def layers(self, self_times: dict, stats: dict, setup_times: dict) -> dict:
        gen = self_times.get("generate", 0.0)
        score = self_times.get("scoring.score", 0.0)
        return {
            "generate.s": gen,
            "generate.series_per_s": N_SERIES / gen if gen else 0.0,
            "preprocess.pre_processing_s": self_times.get("preprocess.pre_processing", 0.0),
            "preprocess.post_processing_s": self_times.get("preprocess.post_processing", 0.0),
            "preprocess.r2_metrics_s": self_times.get("preprocess.r2_metrics", 0.0),
            "train.feed_s": self_times.get("train.feed", 0.0),
            "train.fit_s": self_times.get("train.fit", 0.0),
            "registry.register_s": self_times.get("registry.register", 0.0),
            "scoring.score_s": score,
            "scoring.series_per_s": N_SERIES / score if score else 0.0,
        }

    # -- correctness -------------------------------------------------------
    def check(self) -> list[str]:
        """Checks over the last pass's table, model and scores, against
        computations made apart from the program."""
        import duckdb

        from time_series_prediction_spark.model.numpy_cnn import NumpyCNN1D
        from time_series_prediction_spark.model.scoring import (
            numpy_cnn_factory,
            score_dataframe,
        )
        from time_series_prediction_spark.plans.preprocess import (
            post_processing,
            pre_processing,
        )
        from time_series_prediction_spark.sources.generate import (
            duckdb_series_cte,
        )

        problems: list[str] = []
        ids = sorted(
            {int(i) for i in np.random.default_rng(self.seed).integers(0, N_SERIES, SAMPLE_IDS)}
        )
        balance = self.spark.read.parquet(self.table)
        got = {
            r["primaryaccountholder"]: (r["signal_type"], r["balance"])
            for r in balance.where(balance.primaryaccountholder.isin(ids)).collect()
        }
        sql = (
            f"WITH {duckdb_series_cte(N_SERIES, N_DAYS, seed=self.seed)} "
            f"SELECT id, signal_type, b FROM gen WHERE id IN ({','.join(map(str, ids))})"
        )
        want = {int(i): (int(s), b) for i, s, b in duckdb.connect().execute(sql).fetchall()}
        problems += checks.series_match(got, want)

        scored = post_processing(
            score_dataframe(
                pre_processing(balance, END_DATE), numpy_cnn_factory(self.model_path)
            )
        ).select(
            "primaryaccountholder", "balance", "balance_detrend_1MW_scaled", "std",
            "X", "y", "trend_next_3months_1MW", "y_pred",
            "y_pred_rescaled_retrended",
        ).toPandas()
        problems += checks.preprocessed_shape(scored)
        problems += checks.scaled_moments(scored)
        problems += checks.constant_step(scored["trend_next_3months_1MW"])
        sample = scored[scored.primaryaccountholder.isin(ids)]
        model = NumpyCNN1D.load(self.model_path)
        problems += checks.predictions_match(
            np.stack(sample["y_pred"].to_numpy()),
            model.predict(np.stack(sample["X"].to_numpy()).astype(np.float32)),
        )
        problems += checks.r2_matches(self.last["r2"], scored)
        problems += checks.loss_falls(self.last["history"]["loss"])
        return problems
