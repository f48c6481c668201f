"""Fraud-model training/scoring as an MLlib Pipeline.

Reference flow (``back_end/flows/featurestore_flow.py`` + ``model/
training.py``): fetch rows over HTTP -> pandas -> sklearn LabelEncoder per
categorical + StandardScaler (fit on ALL data — leakage, M7) -> torch MLP
DeepFraudNet 11->256->128->64->1 with BatchNorm/Dropout (ML1) -> batched
scoring loop (M9).

Engine flow: DataFrame -> StringIndexer per categorical -> VectorAssembler
-> StandardScaler (fit on train only — the leakage is deliberately NOT
reproduced, SURVEY §7 trap 8) -> classifier -> evaluators. Everything
distributed; scoring is ``model.transform`` (no driver loop).

Model parity note (SURVEY §2.8): MLlib's MultilayerPerceptronClassifier
matches DeepFraudNet's layer shape but has no dropout/batchnorm; it is the
default here. Full training-semantics parity (BCELoss + Adam(1e-3, wd 1e-4)
+ ReduceLROnPlateau + Dropout/BatchNorm + best-loss checkpoint) lives in
``ml/numpy_training.py`` — a numpy implementation of the reference loop
whose trained state_dict npz drops straight into
``torch_scoring.score_dataframe``'s Arrow-batched serving path.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import (
    LogisticRegression,
    MultilayerPerceptronClassifier,
)
from pyspark.ml.evaluation import (
    BinaryClassificationEvaluator,
    MulticlassClassificationEvaluator,
)
from pyspark.ml.feature import StandardScaler, StringIndexer, VectorAssembler
from pyspark.sql import DataFrame

# Feature columns of the offline store row consumed by training
# (featurestore_flow.py:16-23 drops cc_num/timestamps, encodes these).
CATEGORICAL_COLS = ["category", "gender"]
NUMERIC_COLS = [
    "amt",
    "hour_of_day",
    "day_of_week",
    "age_at_txn",
    "distance_to_merchant",
    "txn_count_last_10_min",
    "avg_amt_last_1_hour",
    "city_pop",
]
LABEL_COL = "is_fraud"

# DeepFraudNet hidden geometry (model/training.py:33-54); MLlib's MLP output
# layer is 2 (softmax over classes) where torch used 1 sigmoid unit.
DEEPFRAUDNET_HIDDEN = [256, 128, 64]


@dataclass
class FraudModelConfig:
    model: str = "mlp"  # "mlp" (reference parity) or "logistic" (fast)
    hidden_layers: list[int] = field(default_factory=lambda: list(DEEPFRAUDNET_HIDDEN))
    max_iter: int = 100
    seed: int = 42


def build_pipeline(config: FraudModelConfig | None = None) -> Pipeline:
    config = config or FraudModelConfig()
    indexers = [
        StringIndexer(
            inputCol=c, outputCol=f"{c}_idx", handleInvalid="keep", stringOrderType="alphabetAsc"
        )
        for c in CATEGORICAL_COLS
    ]
    assembler = VectorAssembler(
        inputCols=NUMERIC_COLS + [f"{c}_idx" for c in CATEGORICAL_COLS],
        outputCol="features_raw",
    )
    scaler = StandardScaler(
        inputCol="features_raw", outputCol="features", withMean=True, withStd=True
    )
    n_features = len(NUMERIC_COLS) + len(CATEGORICAL_COLS)
    if config.model == "mlp":
        clf = MultilayerPerceptronClassifier(
            featuresCol="features",
            labelCol=LABEL_COL,
            layers=[n_features, *config.hidden_layers, 2],
            maxIter=config.max_iter,
            seed=config.seed,
        )
    else:
        clf = LogisticRegression(
            featuresCol="features", labelCol=LABEL_COL, maxIter=config.max_iter
        )
    return Pipeline(stages=[*indexers, assembler, scaler, clf])


def train(features: DataFrame, config: FraudModelConfig | None = None) -> PipelineModel:
    # fail loud on an empty training frame: MLlib's fit otherwise dies
    # deep inside the optimizer with an unnamed engine error (round-10
    # degenerate-probe finding). isEmpty reads one partition, not a
    # full count — trivial next to the fit itself.
    if features.isEmpty():
        raise ValueError(
            "ml.pipeline.train: empty training input — nothing to fit"
        )
    return build_pipeline(config).fit(features)


def evaluate(model: PipelineModel, test: DataFrame) -> dict[str, float]:
    """Reference ML3 metric set: accuracy/precision/recall/F1 + ROC/PR AUC."""
    pred = model.transform(test)
    out: dict[str, float] = {}
    for metric in ("areaUnderROC", "areaUnderPR"):
        out[metric] = BinaryClassificationEvaluator(
            labelCol=LABEL_COL, metricName=metric
        ).evaluate(pred)
    mc = {
        "accuracy": "accuracy",
        "f1": "f1",
        "precision": "weightedPrecision",
        "recall": "weightedRecall",
    }
    for name, metric in mc.items():
        out[name] = MulticlassClassificationEvaluator(
            labelCol=LABEL_COL, metricName=metric
        ).evaluate(pred)
    return out
