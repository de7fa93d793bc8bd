#!/usr/bin/env python3
"""Golden oracle for the TRAIN-MODE (batch-statistics) trunk gradient
(TrunkGrad.scala train-mode section / TrunkTrainer.gradPassBn).

Independent NumPy implementation of the masked-BCE backward pass through
the whole reference CNN with BATCH BatchNorm statistics — the reference's
from-scratch recipe (model/model_training.py:76-103,115-177): each BN
layer normalizes with the current batch's per-channel mean and BIASED
variance, and the backward includes the d(stats)/dx coupling terms, so
rows of the batch interact in both directions.

Mirrors the engine's numerics: forward float32 with stats computed in
float64 over the float32 pre-activations then CAST TO float32 (the
precision the engine's BnW slots hold); backward float64. Self-checks the
analytic gradient against central finite differences of a float64
batch forward (stats recomputed inside each perturbed forward, so the FD
captures the coupling terms) before writing the fixture.

Inputs: the 8 golden windows from cnn_golden.parquet as ONE batch,
labels y_k = NaN if (win_id+k)%5==0 else ((win_id+k)%3)/2.0.

Output: src/test/resources/trunk_grad_bn_golden.parquet with one row per
parameter block: (block, value) where value = round3(log(L2 norm of the
batch gradient)), plus ("loss", round3(log loss)) and ("labeled", count).

Usage: python3 tools/golden_trunk_grad_bn.py
"""
import sys
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, "/root/repo/tools")
from export_weights import load_state_dict
from golden_trunk_grad import (P, conv1d, relu, masked_bce, conv_backward,
                               relu_backward, BLOCKS)

REF = "/root/reference"
OUT = "/root/repo/src/test/resources/trunk_grad_bn_golden.parquet"

EPS = 1e-5
# BN layers in forward-dependency order with (pre-act key, param prefix)
BN_LAYERS = [("c1pre", "b1"), ("r2pre", "rb"), ("c2pre", "b2"),
             ("c3pre", "b3"), ("c4pre", "b4")]
BN_NAME = {"b1": "bn1", "rb": "resbn", "b2": "bn2", "b3": "bn3", "b4": "bn4"}


def batch_stats(pres, stats_dtype):
    """Per-channel (mean, biased var) over a list of (C,T) f32 arrays,
    accumulated in float64 exactly like the engine's gradPassBn stat pass
    (TrunkGrad.rowPreBnSums into a HeadTrainer.SumAgg buffer), then cast
    to stats_dtype (float32 in production, float64 for the FD check)."""
    cat = np.concatenate([p.astype(np.float64) for p in pres], axis=1)
    m = cat.shape[1]
    mean = cat.sum(axis=1) / m
    varb = np.maximum((cat ** 2).sum(axis=1) / m - mean ** 2, 0.0)
    return mean.astype(stats_dtype), varb.astype(stats_dtype), m


def bn_apply(x, g, bta, mean, varb, dtype):
    inv = 1.0 / np.sqrt(varb.astype(np.float64)[:, None] + EPS)
    return ((x - mean[:, None].astype(dtype)) * inv * g[:, None]
            + bta[:, None]).astype(dtype)


def batch_forward(wins, p, dtype=np.float32, stats_dtype=np.float32):
    """Full train-mode batch forward: 5 sequential stat resolutions (each
    re-normalizes with the batch stats resolved so far), caches per row.
    Returns (caches, stats dict name -> (mean, varb, m))."""
    n = len(wins)
    caches = [dict() for _ in range(n)]
    for i, w in enumerate(wins):
        caches[i]["x0"] = w.T.astype(dtype)
        caches[i]["c1pre"] = conv1d(caches[i]["x0"], p.c1w, p.c1b, dtype=dtype)
    stats = {}

    def resolve(key, prefix):
        mean, varb, m = batch_stats([c[key] for c in caches], stats_dtype)
        stats[BN_NAME[prefix]] = (mean, varb, m)
        return mean, varb

    mean, varb = resolve("c1pre", "b1")
    for c in caches:
        c["b1out"] = bn_apply(c["c1pre"], p.b1g, p.b1b, mean, varb, dtype)
        c["h1"] = relu(c["b1out"])
        c["r1pre"] = conv1d(c["h1"], p.r1w, p.r1b, dtype=dtype)
        c["r1post"] = relu(c["r1pre"])
        c["r2pre"] = conv1d(c["r1post"], p.r2w, p.r2b, dtype=dtype)
    mean, varb = resolve("r2pre", "rb")
    for c in caches:
        c["rbnOut"] = bn_apply(c["r2pre"], p.rbg, p.rbb, mean, varb, dtype)
        c["s2"] = (relu(c["rbnOut"]) + c["h1"]).astype(dtype)
        c["h2"] = relu(c["s2"])
        c["c2pre"] = conv1d(c["h2"], p.c2w, p.c2b, dtype=dtype)
    mean, varb = resolve("c2pre", "b2")
    for c in caches:
        c["b2out"] = bn_apply(c["c2pre"], p.b2g, p.b2b, mean, varb, dtype)
        c["h3"] = relu(c["b2out"])
        c["c3pre"] = conv1d(c["h3"], p.c3w, p.c3b, dilation=2, dtype=dtype)
    mean, varb = resolve("c3pre", "b3")
    for c in caches:
        c["b3out"] = bn_apply(c["c3pre"], p.b3g, p.b3b, mean, varb, dtype)
        c["h4"] = relu(c["b3out"])
        c["c4pre"] = conv1d(c["h4"], p.c4w, p.c4b, dilation=2, dtype=dtype)
    mean, varb = resolve("c4pre", "b4")
    for c in caches:
        c["b4out"] = bn_apply(c["c4pre"], p.b4g, p.b4b, mean, varb, dtype)
        c["h5"] = relu(c["b4out"])
        c["pooled"] = c["h5"].mean(axis=1).astype(dtype)
        c["logits"] = (p.hw.astype(np.float64) @ c["pooled"].astype(np.float64)
                       + p.hb.astype(np.float64))
    return caches, stats


def bn_backward_train(x_pres, g, mean, varb, dys):
    """Train-mode BN backward over the whole batch: x_pres/dys are lists
    of per-row (C,T) arrays; returns (dg, db, [dx per row])."""
    inv = 1.0 / np.sqrt(varb.astype(np.float64) + EPS)
    mu = mean.astype(np.float64)
    m = sum(x.shape[1] for x in x_pres)
    s_dy = np.zeros(len(mu))
    s_dyx = np.zeros(len(mu))
    xhats = []
    for x, dy in zip(x_pres, dys):
        xh = (x.astype(np.float64) - mu[:, None]) * inv[:, None]
        xhats.append(xh)
        s_dy += dy.sum(axis=1)
        s_dyx += (dy * xh).sum(axis=1)
    dxs = [(g.astype(np.float64) * inv)[:, None]
           * (dy - s_dy[:, None] / m - xh * s_dyx[:, None] / m)
           for dy, xh in zip(dys, xhats)]
    return s_dyx, s_dy, dxs


def batch_gradient(wins, ys, p, dtype=np.float32, stats_dtype=np.float32):
    caches, stats = batch_forward(wins, p, dtype, stats_dtype)
    n = len(wins)
    g = {b: None for b in BLOCKS}

    def add(block, val):
        g[block] = val if g[block] is None else g[block] + val

    total_loss, total_labeled = 0.0, 0
    dHs = []
    for c, y in zip(caches, ys):
        loss, dz, labeled = masked_bce(c["logits"], y)
        total_loss += loss
        total_labeled += labeled
        add("head.w", np.outer(dz, c["pooled"].astype(np.float64)))
        add("head.b", dz.copy())
        d_pooled = p.hw.astype(np.float64).T @ dz
        t4 = c["h5"].shape[1]
        dH = np.repeat((d_pooled / t4)[:, None], t4, axis=1)
        dHs.append(relu_backward(c["b4out"], dH))

    def conv_step(block, x_key, w, dHs, dilation=1):
        dW = dB = None
        out = []
        for c, dy in zip(caches, dHs):
            dw, db, dx = conv_backward(c[x_key], w, dy, dilation=dilation)
            dW = dw if dW is None else dW + dw
            dB = db if dB is None else dB + db
            out.append(dx)
        add(block + ".w", dW)
        add(block + ".b", dB)
        return out

    def bn_step(block, pre_key, gamma, name, dHs):
        mean, varb, _ = stats[name]
        dg, db, dxs = bn_backward_train([c[pre_key] for c in caches],
                                        gamma, mean, varb, dHs)
        add(block + ".g", dg)
        add(block + ".b", db)
        return dxs

    dHs = bn_step("bn4", "c4pre", p.b4g, "bn4", dHs)
    dHs = conv_step("conv4", "h4", p.c4w, dHs, dilation=2)
    dHs = [relu_backward(c["b3out"], d) for c, d in zip(caches, dHs)]
    dHs = bn_step("bn3", "c3pre", p.b3g, "bn3", dHs)
    dHs = conv_step("conv3", "h3", p.c3w, dHs, dilation=2)
    dHs = [relu_backward(c["b2out"], d) for c, d in zip(caches, dHs)]
    dHs = bn_step("bn2", "c2pre", p.b2g, "bn2", dHs)
    dHs = conv_step("conv2", "h2", p.c2w, dHs)
    dS2s = [relu_backward(c["s2"], d) for c, d in zip(caches, dHs)]
    dBlks = [relu_backward(c["rbnOut"], d) for c, d in zip(caches, dS2s)]
    dBlks = bn_step("resbn", "r2pre", p.rbg, "resbn", dBlks)
    dBlks = conv_step("res2", "r1post", p.r2w, dBlks)
    dBlks = [relu_backward(c["r1pre"], d) for c, d in zip(caches, dBlks)]
    dBlks = conv_step("res1", "h1", p.r1w, dBlks)
    dH1s = [a + b for a, b in zip(dS2s, dBlks)]
    dB1s = [relu_backward(c["b1out"], d) for c, d in zip(caches, dH1s)]
    dB1s = bn_step("bn1", "c1pre", p.b1g, "bn1", dB1s)
    conv_step("conv1", "x0", p.c1w, dB1s)
    return g, total_loss, total_labeled


def batch_loss(wins, ys, p, dtype, stats_dtype):
    caches, _ = batch_forward(wins, p, dtype, stats_dtype)
    return sum(masked_bce(c["logits"], y)[0] for c, y in zip(caches, ys))


def self_check(wins, ys, sd):
    """Central FD on a float64 batch forward (stats recomputed inside, so
    the d(stats)/d(theta) coupling is in the FD) vs the analytic train-mode
    gradient, a few params in stat-coupled blocks."""
    rng = np.random.RandomState(7)
    p64 = P(sd, dtype=np.float64)
    g, _, _ = batch_gradient(wins, ys, p64, dtype=np.float64,
                             stats_dtype=np.float64)
    checks = [("conv1.w", "c1w"), ("bn1.g", "b1g"), ("res2.w", "r2w"),
              ("bn3.g", "b3g"), ("conv4.w", "c4w"), ("head.w", "hw")]
    for block, attr in checks:
        arr = getattr(p64, attr)
        idx = tuple(rng.randint(s) for s in arr.shape)
        eps = 1e-6
        orig = arr[idx]
        arr[idx] = orig + eps
        lp = batch_loss(wins, ys, p64, np.float64, np.float64)
        arr[idx] = orig - eps
        lm = batch_loss(wins, ys, p64, np.float64, np.float64)
        arr[idx] = orig
        fd = (lp - lm) / (2 * eps)
        an = g[block][idx]
        rel = abs(fd - an) / max(1e-6, abs(fd), abs(an))
        assert rel < 1e-4, f"{block}{idx}: fd {fd} vs analytic {an} (rel {rel})"
    print("train-mode BN FD self-check passed")


def main():
    sd = load_state_dict(f"{REF}/best_model.pt")
    ns = np.load(f"{REF}/model/norm_stats.npz", allow_pickle=True)
    mean = ns["mean"].astype(np.float32)
    std = ns["std"].astype(np.float32)
    p = P(sd)

    golden = pq.read_table(
        "/root/repo/src/test/resources/cnn_golden.parquet").to_pydict()
    K = 13
    wins, ys = [], []
    for win_id, flat in zip(golden["win_id"], golden["window"]):
        raw = np.array(flat, dtype=np.float32).reshape(30, 24)
        wins.append(((raw - mean) / std).astype(np.float32))
        # win_id 3 is FULLY unlabeled: zero-label rows still couple into
        # every layer below the topmost BN through the batch-statistics
        # terms — the r05 sign bug survived this oracle because no fixture
        # row exercised that path; now the driver gate pins it
        ys.append(np.full(K, np.nan) if win_id == 3
                  else np.array([np.nan if (win_id + k) % 5 == 0
                                 else ((win_id + k) % 3) / 2.0 for k in range(K)]))

    self_check(wins, ys, sd)
    g, total_loss, total_labeled = batch_gradient(wins, ys, p)

    def r3(x):
        return np.floor(x * 1000 + 0.5) / 1000.0

    def enc(norm):
        # conv biases feeding straight into a BN layer have an EXACTLY-zero
        # train-mode gradient (the batch mean absorbs them); both engines
        # compute ~1e-8 float noise there, so clamp to a sentinel
        return -999.0 if norm < 1e-6 else r3(float(np.log(norm)))

    rows = [(b, enc(float(np.sqrt((g[b] ** 2).sum())))) for b in BLOCKS]
    rows.append(("loss", r3(float(np.log(total_loss)))))
    rows.append(("labeled", float(total_labeled)))
    pq.write_table(pa.table({
        "block": [r[0] for r in rows],
        "value": [r[1] for r in rows],
    }), OUT)
    print(f"wrote {OUT}: loss={total_loss:.6f} labeled={total_labeled}")


if __name__ == "__main__":
    main()
