"""Seeded pokec-profile graph for the benchmark.

The same shape as the repository's pokec generator (Pareto out-degrees
scaled to a target mean, Zipf-like destination popularity over a random
permutation of the id space, no self loops, no parallel edges, user
properties as functions of the id), but every random draw comes from the
workload seed, so each seed gives its own graph and the same seed gives
the same bytes.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# name: (users, target FRIEND edges), as in the repository's generator
PROFILES = {"small": (10000, 121716)}


def user_props(ids):
    """Property formulas shared with the engine's pokec gate graph."""
    return {
        "age": (ids * 37) % 80,
        "gender": ids % 2,
        "completion_percentage": (ids * 13) % 100,
    }


def generate(seed, profile):
    """Return (n_users, src, dst) for the profile, drawn from `seed`."""
    n, target_edges = PROFILES[profile]
    rng = np.random.RandomState(seed)
    ids = np.arange(n, dtype=np.int64)
    # the 1.14 factor compensates for the parallel-edge dedup below
    mean_deg = target_edges / n * 1.14
    raw = rng.pareto(2.0, size=n) + 1.0
    deg = np.maximum(1, (raw * (mean_deg / 2.0)).astype(np.int64))
    deg = np.minimum(deg, n - 1)
    perm = rng.permutation(n)
    pop = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** 0.9
    pop /= pop.sum()
    srcs = np.repeat(ids, deg)
    dsts = perm[rng.choice(n, size=srcs.size, p=pop)]
    keep = srcs != dsts
    pairs = np.unique(srcs[keep] * np.int64(n) + dsts[keep])
    return n, pairs // n, pairs % n


def write(out_dir, n, src, dst):
    os.makedirs(out_dir, exist_ok=True)
    ids = np.arange(n, dtype=np.int64)
    users = {"id": ids, **user_props(ids)}
    pq.write_table(pa.table(users), os.path.join(out_dir, "users.parquet"))
    pq.write_table(
        pa.table({"src": src.astype(np.int64), "dst": dst.astype(np.int64)}),
        os.path.join(out_dir, "friendships.parquet"))
