"""DeepFraudNet-parity scoring in one Arrow map stage (reference ML1/M9).

The reference scores with a PyTorch MLP (11->256->128->64->1, BatchNorm +
ReLU + Dropout, sigmoid head; ``model/training.py:33-54``) in a driver-side
512-row loop (``featurestore_flow.py:96-103``). The engine-native form is
one ``mapInArrow`` stage over the feature DataFrame: each Arrow batch is
stacked into a float64 matrix executor-side, scored, and passed on with a
``fraud_prob`` column appended. ``MapInArrow`` sits above its child in the
plan, so an ``orderBy().limit()`` export below it stays one top-k
(``TakeOrderedAndProject``) instead of a range shuffle and a global sort.

torch is not installed in this container, so the forward pass is a numpy
implementation of the SAME architecture in eval mode (BatchNorm folds into
an affine transform; Dropout is identity at inference). ``load_weights``
accepts a dict of numpy arrays — export a trained torch state_dict to npz
and this path serves it unchanged; the harness uses deterministic
seed-generated weights to exercise the plumbing.
"""

from __future__ import annotations

import numpy as np

DEEPFRAUDNET_LAYERS = [11, 256, 128, 64]  # hidden stack; head is 1 sigmoid


def init_weights(n_features: int = 11, seed: int = 42) -> dict[str, np.ndarray]:
    """Deterministic stand-in weights with the DeepFraudNet shapes."""
    rng = np.random.default_rng(seed)
    sizes = [n_features, *DEEPFRAUDNET_LAYERS[1:], 1]
    weights: dict[str, np.ndarray] = {}
    for i in range(len(sizes) - 1):
        fan_in, fan_out = sizes[i], sizes[i + 1]
        weights[f"w{i}"] = rng.normal(0, np.sqrt(2.0 / fan_in), (fan_in, fan_out))
        weights[f"b{i}"] = np.zeros(fan_out)
        if i < len(sizes) - 2:  # BatchNorm per hidden block (eval: affine)
            weights[f"bn_scale{i}"] = np.ones(fan_out)
            weights[f"bn_shift{i}"] = np.zeros(fan_out)
    return weights


#: nn.Sequential indices in the reference DeepFraudNet (model/training.py:36-50):
#: Linear at 0/4/8/12, BatchNorm1d at 1/5/9 (ReLU+Dropout hold the gaps).
_LINEAR_IDX = (0, 4, 8, 12)
_BN_IDX = (1, 5, 9)


def from_state_dict_arrays(
    arrays: dict[str, np.ndarray], eps: float = 1e-5
) -> dict[str, np.ndarray]:
    """Import a trained DeepFraudNet torch state_dict exported as plain
    numpy arrays (no torch required HERE; the training side exports with
    ``np.savez(path, **{k: v.numpy() for k, v in model.state_dict().items()})``
    — reading a torch-pickled ``.pth`` directly would need torch, which this
    container lacks).

    Maps ``model.{i}.weight/bias`` Linear params (transposing torch's
    (out, in) layout to our (in, out)) and FOLDS each eval-mode BatchNorm
    into an affine pair: ``scale = gamma / sqrt(running_var + eps)``,
    ``shift = beta - running_mean * scale`` — exactly what BN computes at
    inference, so scores match torch eval output.
    """
    # infer layer indices from the keys so smaller parity geometries (the
    # numpy trainer's test nets) fold the same way: Linear layers have
    # .weight but no .running_mean; BatchNorm layers have .running_mean
    idx = sorted(
        int(k.split(".")[1]) for k in arrays if k.endswith(".weight")
    )
    linear_idx = [i for i in idx if f"model.{i}.running_mean" not in arrays]
    bn_idx = [i for i in idx if f"model.{i}.running_mean" in arrays]
    if not linear_idx:
        linear_idx, bn_idx = list(_LINEAR_IDX), list(_BN_IDX)
    out: dict[str, np.ndarray] = {}
    for i, li in enumerate(linear_idx):
        out[f"w{i}"] = np.asarray(arrays[f"model.{li}.weight"], dtype=np.float64).T
        out[f"b{i}"] = np.asarray(arrays[f"model.{li}.bias"], dtype=np.float64)
    for i, bi in enumerate(bn_idx):
        gamma = np.asarray(arrays[f"model.{bi}.weight"], dtype=np.float64)
        beta = np.asarray(arrays[f"model.{bi}.bias"], dtype=np.float64)
        mean = np.asarray(arrays[f"model.{bi}.running_mean"], dtype=np.float64)
        var = np.asarray(arrays[f"model.{bi}.running_var"], dtype=np.float64)
        scale = gamma / np.sqrt(var + eps)
        out[f"bn_scale{i}"] = scale
        out[f"bn_shift{i}"] = beta - mean * scale
    return out


def save_weights(weights: dict[str, np.ndarray], path: str) -> None:
    """Persist folded weights as npz (the serving-side format)."""
    np.savez(path, **weights)


def load_weights(path: str) -> dict[str, np.ndarray]:
    """Load weights saved by :func:`save_weights`, or a raw exported
    state_dict npz (detected by its ``model.*`` keys and folded)."""
    with np.load(path) as data:
        arrays = {k: data[k] for k in data.files}
    if any(k.startswith("model.") for k in arrays):
        return from_state_dict_arrays(arrays)
    return arrays


def forward(x: np.ndarray, weights: dict[str, np.ndarray]) -> np.ndarray:
    """Eval-mode forward pass: Linear -> BN(affine) -> ReLU per block,
    Linear -> sigmoid head. Dropout is identity at inference."""
    h = x.astype(np.float64)
    # infer depth from the weights (default geometry has 3 hidden blocks)
    n_blocks = sum(1 for k in weights if k.startswith("bn_scale"))
    for i in range(n_blocks):
        h = h @ weights[f"w{i}"] + weights[f"b{i}"]
        h = h * weights[f"bn_scale{i}"] + weights[f"bn_shift{i}"]
        h = np.maximum(h, 0.0)
    logits = h @ weights[f"w{n_blocks}"] + weights[f"b{n_blocks}"]
    return 1.0 / (1.0 + np.exp(-logits[:, 0]))


def score_dataframe(features_df, feature_cols: list[str], weights=None):
    """Score a feature DataFrame with the MLP in one ``mapInArrow`` stage —
    Arrow batches executor-side, no driver loop (replaces reference M9).

    The output is the input's columns, in order, plus ``fraud_prob``
    (double), one row per input row in input order. The numeric
    ``feature_cols`` are cast to float64 and stacked per batch; a row with
    a NULL in any feature scores NULL (never NaN)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import DoubleType, StructField, StructType

    weights = weights or init_weights(n_features=len(feature_cols))
    schema = StructType(
        [*features_df.schema.fields, StructField("fraud_prob", DoubleType())]
    )

    def score(batches):
        for batch in batches:
            # unsafe cast: integers past 2**53 round as Spark's cast does
            cols = [
                pc.cast(batch.column(c), pa.float64(), safe=False)
                for c in feature_cols
            ]
            null = np.zeros(batch.num_rows, dtype=bool)
            for col in cols:
                if col.null_count:
                    null |= col.is_null().to_numpy(zero_copy_only=False)
            x = np.column_stack([c.to_numpy(zero_copy_only=False) for c in cols])
            prob = pa.array(forward(x, weights), mask=null)
            yield pa.RecordBatch.from_arrays(
                [*batch.columns, prob], names=[*batch.schema.names, "fraud_prob"]
            )

    return features_df.mapInArrow(score, schema)
