"""DeepFraudNet training semantics in numpy (reference ML2 closure).

The reference trains DeepFraudNet with BCELoss + Adam(lr 1e-3, weight_decay
1e-4) + ReduceLROnPlateau(factor 0.5, patience 3) + Dropout(0.3) + BatchNorm,
batch_size 512, shuffled epochs, checkpointing the best-train-loss state
(``back_end/model/training.py:12-125``). torch is not installed in this
container, so this module implements the SAME training loop in numpy:

- the full DeepFraudNet geometry (in -> 256 -> 128 -> 64 -> 1) with
  training-mode BatchNorm (batch statistics + running-stat tracking, torch
  momentum 0.1, unbiased running var) and inverted Dropout;
- sigmoid + BCE fused gradient (p - y)/N — the numerically stable form of
  what torch's ``nn.Sigmoid`` + ``nn.BCELoss`` compute;
- Adam exactly as torch implements it (L2-coupled weight_decay added to the
  gradient, bias-corrected first/second moments, eps 1e-8);
- ReduceLROnPlateau with torch's 'rel' threshold semantics (improvement =
  metric < best * (1 - 1e-4), patience epochs of no improvement halves lr);
- early-best checkpoint: the state with the lowest epoch train loss is what
  :func:`train` returns, mirroring ``torch.save(model.state_dict(), ...)``
  on improvement.

The trained state is returned in torch ``state_dict`` key layout
(``model.{0,4,8,12}.weight/bias`` Linear params in (out, in) orientation,
``model.{1,5,9}.{weight,bias,running_mean,running_var}`` BatchNorm params),
so ``np.savez(path, **state)`` produces exactly the npz that
``torch_scoring.load_weights`` folds for eval-mode serving — the trained
model drops straight into ``score_dataframe``'s Arrow-batched scoring path.

The reference itself trains on a driver-side pandas sample (rebalanced
5:1, ``training.py:64-67``); :func:`train_from_dataframe` reproduces that
shape: rebalance + standardize (train-fit only) in Spark, sample to pandas,
train here. Distributed scoring of the result stays executor-side.

What is NOT reproduced: cuDNN/torch RNG streams (dropout masks and batch
shuffles use numpy's seeded Generator), so trained weights match torch's
semantics, not torch's bitstream. Documented in PERF.md.
"""

from __future__ import annotations

import numpy as np

from feature_store_fraud_detection_spark.ml.torch_scoring import (
    DEEPFRAUDNET_LAYERS,
)

#: training.py:12-20 CONFIG, verbatim semantics
CONFIG = {
    "batch_size": 512,
    "epochs": 300,
    "learning_rate": 1e-3,
    "patience": 3,
    "lr_reduce_factor": 0.5,
    "weight_decay": 1e-4,
    "dropout_rate": 0.3,
}

_BN_EPS = 1e-5
_BN_MOMENTUM = 0.1
_ADAM_B1, _ADAM_B2, _ADAM_EPS = 0.9, 0.999, 1e-8
_PLATEAU_THRESHOLD = 1e-4  # torch ReduceLROnPlateau default, mode 'rel'


def _layer_sizes(n_features: int, hidden: tuple[int, ...] | None) -> list[int]:
    h = tuple(hidden) if hidden is not None else tuple(DEEPFRAUDNET_LAYERS[1:])
    return [n_features, *h, 1]


def init_params(
    n_features: int,
    seed: int = 42,
    hidden: tuple[int, ...] | None = None,
) -> dict[str, np.ndarray]:
    """torch-default init: Linear weights/bias ~ U(-1/sqrt(fan_in), +),
    BatchNorm gamma=1 beta=0 running_mean=0 running_var=1.

    Internal layout: w{i} is (in, out); BN params are gamma{i}/beta{i}/
    rmean{i}/rvar{i}. Export to state-dict layout via :func:`to_state_dict`.
    """
    rng = np.random.default_rng(seed)
    sizes = _layer_sizes(n_features, hidden)
    p: dict[str, np.ndarray] = {}
    for i in range(len(sizes) - 1):
        fan_in, fan_out = sizes[i], sizes[i + 1]
        bound = 1.0 / np.sqrt(fan_in)
        p[f"w{i}"] = rng.uniform(-bound, bound, (fan_in, fan_out))
        p[f"b{i}"] = rng.uniform(-bound, bound, fan_out)
        if i < len(sizes) - 2:
            p[f"gamma{i}"] = np.ones(fan_out)
            p[f"beta{i}"] = np.zeros(fan_out)
            p[f"rmean{i}"] = np.zeros(fan_out)
            p[f"rvar{i}"] = np.ones(fan_out)
    return p


def to_state_dict(params: dict[str, np.ndarray]) -> dict[str, np.ndarray]:
    """Internal params -> torch state_dict key layout (the npz format
    ``torch_scoring.load_weights`` consumes)."""
    n_blocks = sum(1 for k in params if k.startswith("gamma"))
    out: dict[str, np.ndarray] = {}
    for i in range(n_blocks + 1):
        # nn.Sequential indices: Linear at 4i (BN/ReLU/Dropout fill the
        # gaps) — (0, 4, 8, 12) for the reference geometry (_LINEAR_IDX)
        out[f"model.{4 * i}.weight"] = params[f"w{i}"].T.copy()
        out[f"model.{4 * i}.bias"] = params[f"b{i}"].copy()
    for i in range(n_blocks):
        bi = 4 * i + 1
        out[f"model.{bi}.weight"] = params[f"gamma{i}"].copy()
        out[f"model.{bi}.bias"] = params[f"beta{i}"].copy()
        out[f"model.{bi}.running_mean"] = params[f"rmean{i}"].copy()
        out[f"model.{bi}.running_var"] = params[f"rvar{i}"].copy()
    return out


def _forward_train(
    x: np.ndarray,
    params: dict[str, np.ndarray],
    dropout_rate: float,
    rng: np.random.Generator,
    n_blocks: int,
) -> tuple[np.ndarray, list[dict]]:
    """Training-mode forward: BN uses batch stats (and updates running
    stats in-place, torch momentum semantics), inverted dropout. Returns
    (sigmoid probabilities, per-block caches for backward)."""
    caches: list[dict] = []
    h = x
    n = x.shape[0]
    keep = 1.0 - dropout_rate
    for i in range(n_blocks):
        z = h @ params[f"w{i}"] + params[f"b{i}"]
        mu = z.mean(axis=0)
        var = z.var(axis=0)  # biased, what BN normalizes with
        inv_std = 1.0 / np.sqrt(var + _BN_EPS)
        zhat = (z - mu) * inv_std
        a = params[f"gamma{i}"] * zhat + params[f"beta{i}"]
        # torch tracks running stats with UNBIASED batch var
        unbiased = var * n / max(n - 1, 1)
        params[f"rmean{i}"] *= 1.0 - _BN_MOMENTUM
        params[f"rmean{i}"] += _BN_MOMENTUM * mu
        params[f"rvar{i}"] *= 1.0 - _BN_MOMENTUM
        params[f"rvar{i}"] += _BN_MOMENTUM * unbiased
        r = np.maximum(a, 0.0)
        if dropout_rate > 0.0:
            mask = (rng.random(r.shape) < keep).astype(r.dtype) / keep
        else:
            mask = np.ones_like(r)
        out = r * mask
        caches.append(
            {"h": h, "zhat": zhat, "inv_std": inv_std, "a": a, "mask": mask}
        )
        h = out
    logits = h @ params[f"w{n_blocks}"] + params[f"b{n_blocks}"]
    p = 1.0 / (1.0 + np.exp(-logits[:, 0]))
    caches.append({"h": h})
    return p, caches


def _backward(
    p: np.ndarray,
    y: np.ndarray,
    params: dict[str, np.ndarray],
    caches: list[dict],
    n_blocks: int,
) -> dict[str, np.ndarray]:
    """Gradients of mean BCE loss w.r.t. every trainable param (Linear
    w/b, BN gamma/beta). Sigmoid+BCE fuse to dlogits = (p - y)/N."""
    n = p.shape[0]
    grads: dict[str, np.ndarray] = {}
    dlogits = ((p - y) / n)[:, None]
    head = caches[n_blocks]
    grads[f"w{n_blocks}"] = head["h"].T @ dlogits
    grads[f"b{n_blocks}"] = dlogits.sum(axis=0)
    dh = dlogits @ params[f"w{n_blocks}"].T
    for i in range(n_blocks - 1, -1, -1):
        c = caches[i]
        dr = dh * c["mask"]
        da = dr * (c["a"] > 0.0)
        grads[f"gamma{i}"] = (da * c["zhat"]).sum(axis=0)
        grads[f"beta{i}"] = da.sum(axis=0)
        dzhat = da * params[f"gamma{i}"]
        m = da.shape[0]
        dz = (
            c["inv_std"]
            / m
            * (
                m * dzhat
                - dzhat.sum(axis=0)
                - c["zhat"] * (dzhat * c["zhat"]).sum(axis=0)
            )
        )
        grads[f"w{i}"] = c["h"].T @ dz
        grads[f"b{i}"] = dz.sum(axis=0)
        dh = dz @ params[f"w{i}"].T
    return grads


def bce_loss(p: np.ndarray, y: np.ndarray) -> float:
    """Mean BCE with torch's log clamp (log values floored at -100)."""
    logp = np.maximum(np.log(np.clip(p, 1e-300, None)), -100.0)
    log1mp = np.maximum(np.log(np.clip(1.0 - p, 1e-300, None)), -100.0)
    return float(-(y * logp + (1.0 - y) * log1mp).mean())


#: params Adam applies weight decay to — torch's Adam(weight_decay=) couples
#: L2 onto EVERY param group, including BN affine params (the reference
#: passes model.parameters() wholesale, training.py:81)
def _trainable(params: dict[str, np.ndarray]) -> list[str]:
    return [
        k
        for k in params
        if k[0] in ("w", "b", "g")
        and not k.startswith("rmean")
        and not k.startswith("rvar")
    ]


def train(
    X: np.ndarray,
    y: np.ndarray,
    config: dict | None = None,
    seed: int = 42,
    hidden: tuple[int, ...] | None = None,
) -> tuple[dict[str, np.ndarray], dict]:
    """The reference training loop (training.py:75-125) in numpy.

    Returns (best_state_dict, history) where best_state_dict is the
    torch-layout state at the lowest-train-loss epoch (the reference's
    ``torch.save`` checkpoint) and history carries per-epoch train loss
    and the lr schedule for inspection.
    """
    cfg = {**CONFIG, **(config or {})}
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64).reshape(-1)
    rng = np.random.default_rng(seed)
    params = init_params(X.shape[1], seed=seed, hidden=hidden)
    n_blocks = sum(1 for k in params if k.startswith("gamma"))
    trainables = _trainable(params)
    m_t = {k: np.zeros_like(params[k]) for k in trainables}
    v_t = {k: np.zeros_like(params[k]) for k in trainables}
    step = 0
    lr = cfg["learning_rate"]
    wd = cfg["weight_decay"]
    plateau_best = np.inf
    plateau_bad = 0
    best_loss = np.inf
    best_state = to_state_dict(params)
    losses: list[float] = []
    lrs: list[float] = []
    n = X.shape[0]
    bs = cfg["batch_size"]
    for _epoch in range(cfg["epochs"]):
        order = rng.permutation(n)
        epoch_loss = 0.0
        n_batches = 0
        for start in range(0, n, bs):
            idx = order[start : start + bs]
            if len(idx) < 2:
                continue  # BatchNorm needs >=2 rows (torch raises on 1)
            xb, yb = X[idx], y[idx]
            p, caches = _forward_train(
                xb, params, cfg["dropout_rate"], rng, n_blocks
            )
            epoch_loss += bce_loss(p, yb)
            n_batches += 1
            grads = _backward(p, yb, params, caches, n_blocks)
            step += 1
            bc1 = 1.0 - _ADAM_B1**step
            bc2 = 1.0 - _ADAM_B2**step
            for k in trainables:
                g = grads[k] + wd * params[k]
                m_t[k] = _ADAM_B1 * m_t[k] + (1.0 - _ADAM_B1) * g
                v_t[k] = _ADAM_B2 * v_t[k] + (1.0 - _ADAM_B2) * g * g
                params[k] -= (
                    lr * (m_t[k] / bc1) / (np.sqrt(v_t[k] / bc2) + _ADAM_EPS)
                )
        avg_loss = epoch_loss / max(n_batches, 1)
        losses.append(avg_loss)
        lrs.append(lr)
        # ReduceLROnPlateau(mode='min', rel threshold): improvement resets
        # the bad-epoch counter; patience breaches halve the lr
        if avg_loss < plateau_best * (1.0 - _PLATEAU_THRESHOLD):
            plateau_best = avg_loss
            plateau_bad = 0
        else:
            plateau_bad += 1
            if plateau_bad > cfg["patience"]:
                lr *= cfg["lr_reduce_factor"]
                plateau_bad = 0
        if avg_loss < best_loss:  # training.py:120-123 checkpoint
            best_loss = avg_loss
            best_state = to_state_dict(params)
    return best_state, {"train_losses": losses, "lrs": lrs, "best_loss": best_loss}


def train_from_dataframe(
    df,
    feature_cols: list[str],
    label_col: str,
    id_col: str,
    config: dict | None = None,
    seed: int = 42,
    max_rows: int = 100_000,
    hidden: tuple[int, ...] | None = None,
):
    """The reference's preprocess+train shape on a Spark DataFrame:
    rebalance non-fraud to 5x fraud (training.py:64-66), standardize, then
    train driver-side on the (bounded) pandas sample — the reference itself
    trains on a pandas frame, so the driver-side step is faithful, and the
    bound keeps the collect explicit. Returns (state_dict, scaler, history);
    score with ``torch_scoring.score_dataframe`` after applying the scaler.
    """
    from pyspark.sql import functions as F

    from feature_store_fraud_detection_spark.operators.sampling import (
        rebalance_classes_hash,
    )

    bal = rebalance_classes_hash(
        df, label_col, id_col=id_col, positive_value=1, negative_ratio=5.0
    )
    pdf = (
        bal.select(
            F.col(id_col).alias("__id"),
            *[F.col(c).cast("double") for c in feature_cols],
            F.col(label_col).cast("double"),
        )
        # deterministic sample: orderBy+limit is a TakeOrdered, so the
        # collected frame (and therefore the trained weights) is a pure
        # function of (data, seed), not of partitioning
        .orderBy("__id")
        .limit(max_rows)
        .toPandas()
    )
    X = pdf[feature_cols].to_numpy(dtype=np.float64)
    y = pdf[label_col].to_numpy(dtype=np.float64)
    mean = X.mean(axis=0)
    std = X.std(axis=0)
    std[std == 0.0] = 1.0
    state, history = train(
        (X - mean) / std, y, config=config, seed=seed, hidden=hidden
    )
    return state, {"mean": mean, "std": std}, history
