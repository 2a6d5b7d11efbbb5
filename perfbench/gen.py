"""Seeded benchmark inputs, derived from the committed base tables.

Every generator is a pure function of (base tables, seed): the same seed
writes the same bytes, a different seed keeps every row count and the
table structure but changes the content the engine sees.
"""
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

# Java's default `\w` is ASCII-only; the inflation must tokenize the way
# the engine's own InflateDataset regex does.
_WORD = re.compile(r"(\w+)", re.ASCII)

# Copies of an inflated corpus get disjoint doc_id ranges this far apart
# (the InflateDataset convention; base doc_ids stay below it).
COPY_STRIDE = 10_000_000


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _shuffled(table, rng):
    return table.take(pa.array(rng.permutation(table.num_rows)))


def query_inputs(base_dir, out_dir, seed):
    """Seeded copy of every base table for the query workloads.

    Rows of every table are written in a seeded order, and `documents`
    gets a seeded bijection of its doc_id set. The id set, every table's
    row count and every join key range stay as in the base, so eval
    splits such as `doc_id < 50` keep their size while holding other
    documents."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        table = pq.read_table(os.path.join(base_dir, f"{name}.parquet"))
        if name == "documents":
            ids = table.column("doc_id").to_numpy()
            table = table.set_column(table.schema.get_field_index("doc_id"),
                                     "doc_id", pa.array(rng.permutation(ids)))
        _write(_shuffled(table, rng), os.path.join(out_dir, f"{name}.parquet"))


def inflated_documents(base_dir, out_dir, seed, mult):
    """`mult` disjoint copies of the base corpus, in a seeded row order.

    Copy 0 is the base corpus unchanged. Copy k >= 1 offsets doc_id by
    k * COPY_STRIDE and prefixes every word with a seed-derived tag, so
    each copy repeats the base's duplicate and vocabulary structure
    without sharing tokens with any other copy; n_chars is recomputed.
    Every other table is copied unchanged."""
    rng = np.random.default_rng(seed)
    base = pq.read_table(os.path.join(base_dir, "documents.parquet"))
    ids = base.column("doc_id").to_numpy()
    if ids.max() >= COPY_STRIDE:
        raise ValueError(f"base doc_id {ids.max()} overlaps the copy stride")
    texts = base.column("text").to_pylist()
    tags = rng.integers(0, 26, size=(mult, 2))
    parts = [base]
    for k in range(1, mult):
        prefix = f"c{k}{chr(97 + tags[k][0])}{chr(97 + tags[k][1])}_"
        new_texts = [None if t is None else _WORD.sub(prefix + r"\1", t)
                     for t in texts]
        copy = base.set_column(base.schema.get_field_index("doc_id"), "doc_id",
                               pa.array(ids + k * COPY_STRIDE))
        copy = copy.set_column(copy.schema.get_field_index("text"), "text",
                               pa.array(new_texts, pa.string()))
        copy = copy.set_column(
            copy.schema.get_field_index("n_chars"), "n_chars",
            pa.array([None if t is None else len(t) for t in new_texts],
                     pa.int64()))
        parts.append(copy)
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        if name != "documents":
            shutil.copyfile(os.path.join(base_dir, f"{name}.parquet"),
                            os.path.join(out_dir, f"{name}.parquet"))
    table = pa.concat_tables(parts)
    _write(_shuffled(table, rng), os.path.join(out_dir, "documents.parquet"))
    return table.num_rows
