"""Thin serving/orchestration driver — the library counterpart of the
reference's ML-pipeline API surface and poller.

Reference shape (SURVEY §3.3): ``POST /train_val``
(``ML Model/Scripts/main.py:197-233``) kicks a FastAPI background task
running ``train.main_train_val`` with ``parameters.json``; ``POST
/test`` runs ``test.main_test`` → reconstruction errors → percentile
thresholds → ``window_errors.json`` (``test.py:306-448``); ``GET
/status`` (``main.py:407-439``) reports per-phase state; and
``automate_pipeline.py:332-492`` drives the whole chain by polling
those endpoints. The survey scoped the HTTP transport out of the
engine core ("a thin driver above it") — this module IS that thin
driver, minus uvicorn: the identical lifecycle as plain synchronous
calls over the engine's operators, every phase logged to the parquet
:class:`~..plans.tracking.RunTracker` (the MLflow counterpart), the
window-errors report landing as a queryable parquet table instead of a
JSON file. A real deployment wraps the three public methods in any
HTTP framework and moves ``train_val`` onto a worker thread; nothing
in here would change.

Scale notes: the service holds only model parameters and status on the
driver (model-sized, never corpus-sized); featurization, training
gradients and scoring all run as the operators' distributed plans.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import persistent_rdd_ids, release_rdd_ids
from ..operators import autoencoder, mlfeat
from .tracking import RunTracker

# parameters.json shape (reference `ML Model/parameters.json` via
# `fastapi_utils.py:7-17`): model architecture + training budget +
# anomaly percentile thresholds.
DEFAULT_PARAMETERS: dict = {
    "model": {
        "hidden_dims": (32, 16),
        "latent_dim": 8,
        "use_batch_norm": True,
    },
    "training": {
        "n_epochs": 12,
        "learning_rate": 5e-3,
        "weight_decay": 1e-4,
        "clip_norm": 0.5,
        "n_batches": 4,
        "seed": 42,
    },
    "percentile_thresholds": (92.0, 99.5),
    "features": ("bid", "ask", "spread"),
    "window_size": 32,
}


def _merged(base: dict, override: dict | None) -> dict:
    out = {k: (dict(v) if isinstance(v, dict) else v) for k, v in base.items()}
    for k, v in (override or {}).items():
        if isinstance(v, dict) and isinstance(out.get(k), dict):
            out[k].update(v)
        else:
            out[k] = v
    return out


class MLPipelineService:
    """One ``parameters.json``-configured pipeline instance.

    Phases move ``idle → running → done`` (or ``failed``, re-raising),
    exactly the state machine ``/status`` exposes and the poller waits
    on; because calls are synchronous here, ``run_all`` — the
    ``automate_pipeline`` counterpart — is simply train_val then test.
    """

    PHASES = ("train_val", "test")

    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        parameters: dict | None = None,
        experiment: str = "tick_ae",
        model_kind: str = "ae",
    ):
        if model_kind not in ("ae", "pca"):
            raise ValueError(f"model_kind must be 'ae' or 'pca', got {model_kind!r}")
        self.spark = spark
        self.work_dir = work_dir.rstrip("/")
        self.parameters = _merged(DEFAULT_PARAMETERS, parameters)
        self.model_kind = model_kind
        self.tracker = RunTracker(spark, f"{self.work_dir}/runs", experiment)
        self._status = {p: "idle" for p in self.PHASES}
        self._phase_ckpt_ids: set[int] = set()
        self._last_run: dict[str, str | None] = {p: None for p in self.PHASES}
        self._model = None

    # -- /train_val ------------------------------------------------------

    def train_val(self, ticks: DataFrame) -> str:
        """Featurize → train (per-symbol, distributed gradients) → log
        the loss curve per epoch (``mlflow_utils.log_metrics(step=...)``
        counterpart). Returns the run id."""
        run_id = self._begin("train_val")
        try:
            p = self.parameters
            tensors = self._featurize(ticks)
            if self.model_kind == "ae":
                t = p["training"]
                model = autoencoder.fit_autoencoder(
                    tensors,
                    hidden_dims=tuple(p["model"]["hidden_dims"]),
                    latent_dim=p["model"]["latent_dim"],
                    use_batch_norm=p["model"]["use_batch_norm"],
                    n_epochs=t["n_epochs"],
                    lr=t["learning_rate"],
                    weight_decay=t["weight_decay"],
                    clip_norm=t["clip_norm"],
                    n_batches=t["n_batches"],
                    seed=t["seed"],
                )
                for sym, hist in sorted(model.history.items()):
                    for step, loss in enumerate(hist):
                        self.tracker.log_metrics(
                            run_id, {f"loss_{sym}": loss}, step=step
                        )
            else:
                model = mlfeat.fit_pca_reconstructor(
                    tensors,
                    dim=len(p["features"]),
                    n_components=min(p["model"]["latent_dim"], len(p["features"])),
                )
            self._model = model
            self.tracker.log_params(
                run_id,
                {
                    "model_kind": self.model_kind,
                    "hidden_dims": p["model"]["hidden_dims"],
                    "latent_dim": p["model"]["latent_dim"],
                    "window_size": p["window_size"],
                },
            )
            self._finish("train_val", run_id)
            return run_id
        except Exception:
            self._fail("train_val", run_id)
            raise
        finally:
            self._release_phase_checkpoints()

    # -- /test -----------------------------------------------------------

    def test(self, ticks: DataFrame) -> str:
        """Score reconstruction errors with the trained model, derive
        the percentile thresholds, persist the flagged window-errors
        table (the ``window_errors.json`` counterpart, as parquet) and
        log per-symbol summary metrics. Returns the run id."""
        if self._model is None:
            raise RuntimeError("train_val must complete before test")
        parent = self._last_run["train_val"]
        run_id = self._begin("test", parent_run_id=parent)
        errs = None
        try:
            lo, hi = self.parameters["percentile_thresholds"]
            tensors = self._featurize(ticks)
            errs = mlfeat.reconstruction_errors(tensors, model_fn=self._model).cache()
            # Collect the per-symbol thresholds ONCE (symbol-count rows —
            # metadata-scale) and rejoin them as a literal frame: the
            # expensive applyInPandas scoring then runs exactly one
            # distributed pass (the flagged write), instead of re-scoring
            # for the threshold agg, the join probe, and the metric log.
            thr_rows = sorted(
                errs.groupBy("symbol")
                .agg(
                    F.percentile(F.col("err"), F.lit(lo / 100.0)).alias("p_lo"),
                    F.percentile(F.col("err"), F.lit(hi / 100.0)).alias("p_hi"),
                )
                .collect(),
                key=lambda r: r["symbol"],
            )
            thresholds = self.spark.createDataFrame(
                [(r["symbol"], r["p_lo"], r["p_hi"]) for r in thr_rows],
                "symbol string, p_lo double, p_hi double",
            )
            # "99.5" would put a dot in a column name (breaks dotted-path
            # references and backtick-free SQL forever after) — sanitize
            lo_tag = f"{lo:g}".replace(".", "_")
            hi_tag = f"{hi:g}".replace(".", "_")
            flagged = errs.join(F.broadcast(thresholds), "symbol").select(
                "symbol",
                "window_id",
                "err",
                (F.col("err") > F.col("p_lo")).alias(f"anomaly_p{lo_tag}"),
                (F.col("err") > F.col("p_hi")).alias(f"anomaly_p{hi_tag}"),
            )
            out_path = f"{self.work_dir}/window_errors/{run_id.replace('/', '_')}"
            flagged.write.mode("overwrite").parquet(out_path)
            self.tracker.log_artifact(run_id, out_path, kind="table")
            for row in thr_rows:
                self.tracker.log_metrics(
                    run_id,
                    {
                        f"p{lo_tag}_{row['symbol']}": row["p_lo"],
                        f"p{hi_tag}_{row['symbol']}": row["p_hi"],
                    },
                )
            self._finish("test", run_id)
            return run_id
        except Exception:
            self._fail("test", run_id)
            raise
        finally:
            if errs is not None:
                errs.unpersist()
            self._release_phase_checkpoints()

    # -- /status + poller --------------------------------------------------

    def status(self) -> dict:
        """The ``GET /status`` payload: per-phase state + last run id."""
        return {
            "phases": dict(self._status),
            "runs": dict(self._last_run),
            "model_kind": self.model_kind,
            "model_trained": self._model is not None,
        }

    def run_all(self, train_ticks: DataFrame, test_ticks: DataFrame | None = None) -> dict:
        """The ``automate_pipeline.py:332-492`` counterpart: drive
        train_val then test (the poller's wait collapses to call order
        in a synchronous driver) and return the final status."""
        self.train_val(train_ticks)
        self.test(test_ticks if test_ticks is not None else train_ticks)
        return self.status()

    def window_errors(self, run_id: str | None = None) -> DataFrame:
        """Read back a test run's persisted window-errors table."""
        rid = run_id or self._last_run["test"]
        if rid is None:
            raise RuntimeError("no test run recorded")
        return self.spark.read.parquet(
            f"{self.work_dir}/window_errors/{rid.replace('/', '_')}"
        )

    # -- internals ---------------------------------------------------------

    def _featurize(self, ticks: DataFrame) -> DataFrame:
        p = self.parameters
        feats: Sequence[str] = tuple(p["features"])
        t = ticks
        if "spread" in feats and "spread" not in t.columns:
            from ..operators import ticks as ticks_ops

            t = ticks_ops.with_spread(t)
        t = mlfeat.scale_features(t, list(feats))
        # localCheckpoint pins the windowed tensors for the phase's many
        # passes (training epochs / scoring + thresholds) AND truncates
        # lineage, but Dataset.unpersist() does NOT release checkpoint
        # blocks — so track exactly the RDD ids this call creates and
        # free them in the phase's finally (otherwise a long-lived
        # service leaks one tensor copy per train/test call).
        before = persistent_rdd_ids(self.spark)
        out = mlfeat.window_tensors(
            t, feature_cols=feats, n_target=p["window_size"]
        ).localCheckpoint()
        self._phase_ckpt_ids.update(persistent_rdd_ids(self.spark) - before)
        return out

    def _release_phase_checkpoints(self) -> None:
        release_rdd_ids(self.spark, self._phase_ckpt_ids)
        self._phase_ckpt_ids.clear()

    def _begin(self, phase: str, parent_run_id: str | None = None) -> str:
        self._status[phase] = "running"
        run_id = self.tracker.start_run(phase, parent_run_id=parent_run_id)
        self._last_run[phase] = run_id
        return run_id

    def _finish(self, phase: str, run_id: str) -> None:
        self.tracker.end_run(run_id, status="FINISHED")
        self._status[phase] = "done"

    def _fail(self, phase: str, run_id: str) -> None:
        self.tracker.end_run(run_id, status="FAILED")
        self._status[phase] = "failed"
