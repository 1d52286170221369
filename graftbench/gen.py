"""Seeded inputs for the graft benchmark.

The base tables are the project's test data (TESTDATA.md), kept unchanged
under `data/sf<scale>/` and copied into the run's input directory. The seed
makes only what varies between runs:
  * `deltas/dNNN.parquet`: upsert batches for the `orders` primary-key
    table, about 1.5% of the keys each, a fifth of them new keys past the
    current maximum and the rest uniformly chosen existing keys. Each row
    takes the non-key values of a uniformly chosen order of the base table,
    so the batches follow the table's own value distribution;
  * `plan.json`: the seeded choices the harness replays (delete key ranges,
    uniform draws for lookup keys and snapshot picks).

The same seed and scale always give byte-identical inputs.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings")
KEY = "o_orderkey"


def generate(out, seed, scale, n_deltas):
    base = os.path.join(HERE, "data", f"sf{scale}")
    if not os.path.isdir(base):
        raise FileNotFoundError(f"no test data for scale {scale} under {base}")
    os.makedirs(os.path.join(out, "deltas"), exist_ok=True)
    for t in TABLES:
        shutil.copyfile(os.path.join(base, f"{t}.parquet"), os.path.join(out, f"{t}.parquet"))

    rng = np.random.default_rng(seed)
    orders = pq.read_table(os.path.join(out, "orders.parquet"))
    n_ord = orders.num_rows
    key_at = orders.schema.get_field_index(KEY)
    # the harness and the ranges below rely on the keys being 0..n-1
    assert np.array_equal(np.sort(orders.column(KEY).to_numpy()), np.arange(n_ord))

    per = max(20, int(n_ord * 0.0155))
    next_key = n_ord
    for d in range(n_deltas):
        n_new = per // 5
        old = rng.choice(next_key, per - n_new, replace=False)
        keys = np.sort(np.concatenate([old, np.arange(next_key, next_key + n_new)]))
        next_key += n_new
        batch = orders.take(pa.array(rng.integers(0, n_ord, per)))
        batch = batch.set_column(key_at, orders.schema.field(key_at), pa.array(keys, pa.int64()))
        pq.write_table(batch, os.path.join(out, "deltas", f"d{d:03d}.parquet"))

    # Two tombstone ranges of ~0.7% of the key space each.
    width = max(10, n_ord // 150)
    plan = {
        "deltas": n_deltas,
        "delete_width": width,
        "delete_lo": [int(x) for x in rng.integers(0, n_ord - width, 2)],
        # uniform draws; the harness maps them onto its own key sets
        "picks": [int(x) for x in rng.integers(0, 2**31 - 1, 4096)],
    }
    with open(os.path.join(out, "plan.json"), "w") as f:
        json.dump(plan, f)
