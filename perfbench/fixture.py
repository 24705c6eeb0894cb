"""Derive a seeded fixture with the same shape as the committed one.

The derivation follows the engine's scale-fixture generator (MakeSf) for a
single copy numbered by the seed:
- every primary and foreign key is shifted by seed x (max key + 1), so
  per-key cardinalities stay exactly those of the source;
- document text gets a seed-derived suffix on every token, and n_chars is
  recomputed, so token and shingle hashes change while the near-duplicate
  structure of the corpus is kept;
- p_name gets a seed-derived suffix;
- embeddings get a seed-derived sign pattern over coordinates, which keeps
  every norm and every pairwise cosine.
Nation, region and every non-key value are unchanged. The engine generates
its spatial fixtures (parcels, scenes, elevation grid) itself from the
events row count, so those grids are the same for every seed.

Tables are written as one parquet file each with one row group, the layout
the engine's file sources expect.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# table -> {key column: table whose key span it shifts by}
SHIFTS = {
    "customer": {"c_custkey": ("customer", "c_custkey")},
    "supplier": {"s_suppkey": ("supplier", "s_suppkey")},
    "part": {"p_partkey": ("part", "p_partkey")},
    "orders": {"o_orderkey": ("orders", "o_orderkey"),
               "o_custkey": ("customer", "c_custkey")},
    "lineitem": {"l_orderkey": ("orders", "o_orderkey"),
                 "l_partkey": ("part", "p_partkey"),
                 "l_suppkey": ("supplier", "s_suppkey")},
    "events": {"event_id": ("events", "event_id"), "user_id": ("events", "user_id")},
    "documents": {"doc_id": ("documents", "doc_id")},
    "embeddings": {"vec_id": ("embeddings", "vec_id")},
}


def _base36(n):
    digits = "0123456789abcdefghijklmnopqrstuvwxyz"
    out = ""
    while True:
        n, r = divmod(n, 36)
        out = digits[r] + out
        if n == 0:
            return out


def _set(t, name, arr):
    return t.set_column(t.schema.get_field_index(name), t.schema.field(name), arr)


def derive(src, out, seed):
    """Write the seed's fixture to `out` unless it is already complete."""
    done = os.path.join(out, "_COMPLETE")
    if os.path.exists(done):
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    tables = {t: pq.read_table(os.path.join(src, f"{t}.parquet")) for t in TABLES}
    span = {}
    for cols in SHIFTS.values():
        for tbl, key in cols.values():
            span[(tbl, key)] = pc.max(tables[tbl][key]).as_py() + 1
    rng = np.random.default_rng(seed)
    for name, t in tables.items():
        for col, ref in SHIFTS.get(name, {}).items():
            shifted = pc.add(t[col], pa.scalar(seed * span[ref], t.schema.field(col).type))
            t = _set(t, col, shifted)
        if name == "part":
            salt = "".join(c * 3 for c in str(seed))
            t = _set(t, "p_name", pc.binary_join_element_wise(
                t["p_name"], pa.scalar(f" {salt}"), ""))
        if name == "documents":
            tag = f"{_base36(span[('documents', 'doc_id')])}_{seed}"
            text = pc.replace_substring_regex(t["text"], pattern=r"(\S+)",
                                              replacement=r"\1" + tag)
            t = _set(t, "text", text)
            t = _set(t, "n_chars", pc.cast(pc.utf8_length(text), pa.int64()))
        if name == "embeddings":
            emb = t["embedding"].combine_chunks()
            lengths = pc.list_value_length(emb).to_numpy(zero_copy_only=False)
            dim = int(lengths.max()) if len(lengths) else 0
            signs = np.where(rng.integers(0, 2, size=dim) == 0, 1.0, -1.0).astype(np.float32)
            offsets = emb.offsets.to_numpy()
            values = emb.values.to_numpy(zero_copy_only=False)
            idx = np.arange(len(values)) - np.repeat(offsets[:-1], lengths)
            flipped = pa.array(values * signs[idx], type=emb.type.value_type)
            t = _set(t, "embedding", pa.ListArray.from_arrays(
                emb.offsets, flipped, type=emb.type, mask=emb.is_null()))
        pq.write_table(t, os.path.join(out, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows))
    open(done, "w").close()
