"""Shared helpers of the entity-linking operators.

The reference links with one faiss IVF index (build-index.py:80-107)
queried at ``nprobe`` (query-index.py:30,111); exact search is the same
index probed at every cell.  The engine keeps that shape.  The linking
kernels live in operators/ann.py and operators/pq.py:

- ``link_ivf_broadcast`` (and the fused ``encode_and_link``,
  operators/fused.py) — IVF search against a broadcast cell-grouped
  index inside ``mapInPandas``; zero shuffle.  Exact search is a
  one-cell index (``train_centroids(emat, nlist=1)``) searched with
  ``nprobe=1``: its dense branch scans every entity.
- ``link_ann_join`` — IVF cells as a bucket equi-join, for entity sides
  too big to broadcast.
- ``link_pq`` — product-quantised codes with a full-precision rescore.

This module holds what they share: the entity-array layout and the
Catalyst cosine expression.  Scores are float64; ties break by
entity_id ascending, deterministic across partitionings.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import functions as F


def _entity_arrays(entities_pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Sorted-by-entity_id (id array, [E, dim] float64 matrix)."""
    ents = entities_pdf.sort_values("entity_id").reset_index(drop=True)
    eids = ents["entity_id"].to_numpy()
    emat = np.stack(ents["embedding"].to_numpy()).astype(np.float64)
    return eids, emat


def cosine_expr(a: str, b: str):
    """Dot product of two array<float> columns via zip_with/aggregate —
    pure Catalyst expression, whole-stage-codegen friendly.  Inputs are
    unit vectors (encoder normalizes), so dot == cosine, exactly the
    reference's trick (build-index.py:50, query-index.py:108)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )

