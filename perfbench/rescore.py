"""Independent re-scoring of an isolation-forest model saved by the program.

Reads the model's NodeData parquet (`<model>/data`: one row per node,
`treeID` plus a `nodeData` struct with pre-order ids, leaf sentinel
`featureIndex = -1`), walks every tree for each sampled row in numpy, and
scores with the paper's formula (Liu/Ting/Zhou, ICDM 2008):

    s(x) = 2 ** (-E[h(x)] / c(psi)),  h = depth + c(leaf size),
    c(n) = 2 (ln(n - 1) + gamma) - 2 (n - 1) / n  (n > 2), 1 (n = 2), 0 else

with the reference implementation's 10-digit Euler-Mascheroni constant.
Nothing here calls the program's scoring code.
"""
import math

import numpy as np
import pyarrow.parquet as pq

EULER_GAMMA = 0.5772156649


def c(n):
    if n > 2:
        return 2.0 * (math.log(n - 1.0) + EULER_GAMMA) - 2.0 * (n - 1.0) / n
    return 1.0 if n == 2 else 0.0


def load_trees(model_dir):
    t = pq.read_table(f"{model_dir}/data").to_pylist()
    trees = {}
    for r in t:
        trees.setdefault(r["treeID"], []).append(r["nodeData"])
    out = []
    for tid in sorted(trees):
        nodes = sorted(trees[tid], key=lambda d: d["id"])
        assert [d["id"] for d in nodes] == list(range(len(nodes))), "non-contiguous node ids"
        out.append((
            np.array([d["featureIndex"] for d in nodes], dtype=np.int64),
            np.array([d["featureValue"] for d in nodes], dtype=np.float64),
            np.array([d["leftChild"] for d in nodes], dtype=np.int64),
            np.array([d["rightChild"] for d in nodes], dtype=np.int64),
            np.array([c(float(d["numInstance"])) if d["featureIndex"] == -1 else 0.0
                      for d in nodes], dtype=np.float64)))
    return out


def path_lengths(tree, x):
    """Path length of every row of `x` through one tree (all rows walk in
    lock-step, one level per loop turn)."""
    fi, fv, left, right, adj = tree
    rows = np.arange(len(x))
    node = np.zeros(len(x), dtype=np.int64)
    depth = np.zeros(len(x), dtype=np.float64)
    active = fi[node] >= 0
    while active.any():
        a = rows[active]
        n = node[a]
        go_left = x[a, fi[n]] < fv[n]
        node[a] = np.where(go_left, left[n], right[n])
        depth[a] += 1.0
        active = fi[node] >= 0
    return depth + adj[node]


def check(model_dir, sample_dir, max_samples, tolerance):
    """Re-score the sample and compare with the program's scores. Returns
    (ok, detail)."""
    trees = load_trees(model_dir)
    t = pq.read_table(sample_dir).to_pydict()
    x = np.array(t["features"], dtype=np.float64)
    got = np.array(t["anomalyScore"], dtype=np.float64)
    total = np.zeros(len(x), dtype=np.float64)
    for tree in trees:  # tree order, as the program sums
        total += path_lengths(tree, x)
    want = np.power(2.0, -(total / len(trees)) / c(float(max_samples)))
    diff = float(np.max(np.abs(want - got))) if len(x) else float("inf")
    ok = len(x) >= 1000 and diff <= tolerance
    return ok, f"{len(x)} rows x {len(trees)} trees re-scored, max |diff| {diff:.3g} (tolerance {tolerance:g})"
