"""Seeded benchmark inputs, derived with pyarrow/NumPy from the base tables.

``perfbench/data`` holds a copy of the sf0.01 synthetic tables (the
TPC-H-ish star schema, the ``events`` changelog, ``documents`` and
``embeddings``).  Each run writes its own input directory from them:

* every table is a seeded row permutation of its base table, so the
  physical row order (and with it file layout, split boundaries and the
  order rows reach every operator) changes with the seed while the
  results of the order-insensitive queries do not;
* ``documents`` additionally gains a seeded choice of planted
  near-duplicates: ``DUP_SHARE`` of the base documents are copied with a
  fresh ``doc_id`` and one appended tag token, the same copy-tag
  perturbation ``scale_rehearsal.py`` uses to inflate the corpus.  The
  copy keeps every word 3-gram of its original and adds one, so each
  planted pair is a true near-duplicate at the dedup threshold.

The share is fixed, not drawn from the seed, so every seed gives inputs of
the same size and the runs of different seeds measure the same amount of
work.  The program under test only ever sees the generated directory.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_DIR = Path(__file__).resolve().parent / "data"
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
DUP_SHARE = 0.10
# Planted copies live far above every base doc_id.
DUP_ID_OFFSET = 10**9


def plant_near_duplicates(docs: pa.Table, rng: np.random.Generator) -> pa.Table:
    """Append ``DUP_SHARE`` of ``docs`` as tagged near-duplicate copies."""
    n_dup = round(DUP_SHARE * docs.num_rows)
    picked = np.sort(rng.choice(docs.num_rows, size=n_dup, replace=False))
    copies = docs.take(pa.array(picked))
    tags = pa.array([f" rep{t}" for t in rng.integers(0, 10**6, size=n_dup)])
    text = pc.binary_join_element_wise(copies["text"], tags, "")
    copies = copies.set_column(
        copies.schema.get_field_index("doc_id"),
        "doc_id",
        pc.add(copies["doc_id"], DUP_ID_OFFSET),
    )
    copies = copies.set_column(copies.schema.get_field_index("text"), "text", text)
    copies = copies.set_column(
        copies.schema.get_field_index("n_chars"),
        "n_chars",
        pc.utf8_length(text).cast(pa.int64()),
    )
    return pa.concat_tables([docs, copies])


def make_inputs(seed: int, dest: Path) -> dict[str, int]:
    """Write the seed's input tables to ``dest``; returns rows per table."""
    rng = np.random.default_rng(seed)
    dest.mkdir(parents=True, exist_ok=True)
    rows: dict[str, int] = {}
    for name in TABLES:
        table = pq.read_table(BASE_DIR / f"{name}.parquet")
        if name == "documents":
            table = plant_near_duplicates(table, rng)
        table = table.take(pa.array(rng.permutation(table.num_rows)))
        pq.write_table(table, dest / f"{name}.parquet")
        rows[name] = table.num_rows
    return rows
