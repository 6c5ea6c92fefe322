"""Seeded catch-up backlog for the consumer workload.

``backlog(out_dir, files, per_file, seed, start_us)`` writes wire-format
JSON lines shaped like the reference producer's `gen_event()` (users
1..100k, items 1..10k, five interaction types, ISO `...Z` timestamps),
event time advancing 10k events per second, `per_file` events per text
file. The same seed gives the same files.
"""
import os

import numpy as np

INTERACTIONS = ["click", "view", "purchase", "like", "add_to_cart"]


def backlog(out_dir, files, per_file, seed, start_us):
    """Catch-up backlog; returns the number of events written."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    for f in range(files):
        n = per_file
        base = f * per_file
        users = rng.integers(1, 100_001, n)
        items = rng.integers(1, 10_001, n)
        kinds = rng.integers(0, 5, n)
        # 10k events per second of event time, millisecond wire precision
        ms = (start_us // 1000) + (base + np.arange(n)) // 10
        stamps = np.datetime_as_string(ms.astype("datetime64[ms]"), unit="ms")
        lines = [
            f'{{"user_id": "user_{u}", "item_id": "item_{i}", '
            f'"interaction_type": "{INTERACTIONS[k]}", "timestamp": "{t}Z"}}'
            for u, i, k, t in zip(users, items, kinds, stamps)]
        with open(os.path.join(out_dir, f"part-{f:05d}.txt"), "w") as fh:
            fh.write("\n".join(lines))
            fh.write("\n")
    return files * per_file
