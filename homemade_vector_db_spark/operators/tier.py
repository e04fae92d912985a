"""Parts every vector-index tier shares: one frame walker and one
shortlist → exact-rerank path.

A tier index is a dataclass whose DataFrame fields are its relations
(codes, cell assignments, graph rows) and whose other fields are
JSON-able geometry (centroids, codebooks, thresholds, rotation, graph
parameters). A field holding another tier index (the rotation wrapper's
inner PQ index) is walked the same way. Over that shape one walker does
persistence, deletion and the facade's storage bookkeeping:

- `save_index` writes one `index.json` (kind, format_version, geometry)
  plus one parquet dir per frame. A frame with a `cluster` or `shard`
  column is written `partitionBy` that column, so a reloaded cell probe
  or shard scan is partition pruning, not a filter over every file.
- `load_index` reads that layout back.
- `without_ids` filters every frame by the id predicate: the code tiers
  store per-row codes against frozen trained geometry, so a delete is an
  exact filter and the result equals a rebuild minus the rows.
- `settle` materializes the frames a mutation produced and releases the
  ones they replace.

Raw vectors are never stored by a tier; `rerank` joins the shortlist
back to the caller's corpus by id.
"""

from __future__ import annotations

import dataclasses
import json
import os
from typing import Callable, Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from homemade_vector_db_spark.operators.knn import knn_exact
from homemade_vector_db_spark.session import materialize

FORMAT_VERSION = 1
# a frame carrying one of these columns is written partitioned by it
_PARTITION_COLS = ("cluster", "shard")


def _kinds() -> dict[str, type]:
    from homemade_vector_db_spark.operators import ann, bq, nsw, opq, pq, sq

    return {
        cls.__name__: cls
        for cls in (
            ann.IVFIndex, nsw.NSWIndex, pq.PQIndex, pq.IVFPQIndex,
            sq.SQIndex, bq.BQIndex, bq.IVFBQIndex, opq.Rotated,
        )
    }


def vector_dim(df: DataFrame, vec_col: str, dim: int | None = None) -> int:
    """`dim` when given, else the length of the first vector."""
    if dim is not None:
        return dim
    first = df.select(vec_col).first()
    if first is None:
        raise ValueError("cannot build an index on an empty table")
    return len(first[0])


def frames(index) -> dict[str, DataFrame]:
    """Every frame of `index` keyed by its path ('codes', 'inner/codes')."""
    out = {}
    for f in dataclasses.fields(index):
        v = getattr(index, f.name)
        if isinstance(v, DataFrame):
            out[f.name] = v
        elif dataclasses.is_dataclass(v):
            out.update(
                {f"{f.name}/{p}": df for p, df in frames(v).items()}
            )
    return out


def map_frames(
    index, fn: Callable[[str, DataFrame], DataFrame], prefix: str = ""
):
    """Copy of `index` with every frame replaced by fn(path, frame)."""
    changes = {}
    for f in dataclasses.fields(index):
        v = getattr(index, f.name)
        if isinstance(v, DataFrame):
            changes[f.name] = fn(prefix + f.name, v)
        elif dataclasses.is_dataclass(v):
            changes[f.name] = map_frames(v, fn, f"{prefix}{f.name}/")
    return dataclasses.replace(index, **changes)


def without_ids(index, ids: Sequence[int]):
    """`index` with the rows of `ids` filtered out of every frame."""
    keep = ~F.col(index.id_col).isin([int(i) for i in ids])
    return map_frames(index, lambda _, df: df.where(keep))


def settle(index, previous=None):
    """Materialize each frame of `index` that is neither a frame of
    `previous` nor already materialized, releasing the frame at the same
    path in `previous`. Storage then holds one copy of each relation
    however many mutations came before, and every read plan is one scan."""
    before = frames(previous) if previous is not None else {}

    def fix(path: str, df: DataFrame) -> DataFrame:
        old = before.get(path)
        if df is old or df.is_cached:
            return df
        return materialize(df, supersedes=old)

    return map_frames(index, fix)


def _encode(index) -> dict:
    geometry, frame_names = {}, []
    for f in dataclasses.fields(index):
        v = getattr(index, f.name)
        if isinstance(v, DataFrame):
            frame_names.append(f.name)
        elif dataclasses.is_dataclass(v):
            geometry[f.name] = _encode(v)
        else:
            geometry[f.name] = v
    return {
        "kind": type(index).__name__, "geometry": geometry,
        "frames": frame_names,
    }


def _decode(spark: SparkSession, node: dict, path: str):
    kinds = _kinds()
    args = {
        name: (
            _decode(spark, v, os.path.join(path, name))
            if isinstance(v, dict) and v.get("kind") in kinds
            else v
        )
        for name, v in node["geometry"].items()
    }
    for name in node["frames"]:
        args[name] = spark.read.parquet(os.path.join(path, name))
    return kinds[node["kind"]](**args)


def save_index(index, path: str) -> None:
    """One parquet dir per frame plus `index.json`; see the module doc."""
    for name, df in frames(index).items():
        writer = df.write.mode("overwrite")
        part = [c for c in _PARTITION_COLS if c in df.columns]
        if part:
            writer = writer.partitionBy(*part)
        writer.parquet(os.path.join(path, name))
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "index.json"), "w") as f:
        json.dump(
            {"format_version": FORMAT_VERSION, "index": _encode(index)},
            f,
            default=_array_to_list,
        )


def _array_to_list(v):
    if isinstance(v, np.ndarray):
        return v.tolist()
    raise TypeError(f"{type(v).__name__} is not JSON-able geometry")


def load_index(spark: SparkSession, path: str):
    with open(os.path.join(path, "index.json")) as f:
        meta = json.load(f)
    if meta.get("format_version") != FORMAT_VERSION:
        raise ValueError(
            f"index at {path!r} has format_version "
            f"{meta.get('format_version')!r}, expected {FORMAT_VERSION}; "
            "rebuild it from the corpus"
        )
    return _decode(spark, meta["index"], path)


def rerank(
    shortlist: DataFrame,
    corpus: DataFrame,
    query: Sequence[float],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k over the corpus rows a tier's shortlist names: the
    compressed or pruned scan bounds the work, the exact pass touches
    only the shortlisted rows (a broadcast-joinable id set), so every
    returned score is the exact flat-path score."""
    cand = corpus.join(F.broadcast(shortlist.select(id_col)), id_col)
    return knn_exact(cand, list(query), id_col=id_col, vec_col=vec_col, k=k)
