"""Persisted integer-model artifacts: the model-registry step between
training and serving for the engine's exact-integer models (Lloyd
centroids, PCA components, perceptron weights).

The ANN/text indexes persist their LAYOUTS (sources/ann_index,
sources/text_index); this module persists small trained VECTORS the same
way — parquet rows, a meta table carrying the layout constants, and a
loader that trusts the artifact over the caller (the r5 text-index
lesson: serving with a caller-guessed constant silently corrupts; the
artifact records its own shape and the loader reads it back).

Layout: `<path>/<name>/vectors` holds (kind, j, v) rows — one named
integer vector per `kind`, 0-based positions — and `<path>/<name>/meta`
one row per kind with its length.  Everything is exact BIGINT, so a
round-tripped model is bit-identical to the trained one by construction
(no float serialization ambiguity exists to worry about).

Scale: models here are intentionally tiny (dim-sized); both tables go
through the io.meta_write / meta_read metadata-table path, and serving
embeds the loaded vector as a literal fold exactly like the in-memory
path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from codecdb_queryengine_spark.sources import io as IO


def save_model(
    spark: SparkSession, path: str, name: str, vectors: dict[str, list[int]]
) -> None:
    """Persist named integer vectors as a model artifact (overwrite)."""
    import pyarrow as pa

    kinds = sorted(vectors)
    tables = {
        "vectors": pa.table(
            {
                "kind": pa.array([k for k in kinds for _ in vectors[k]], pa.string()),
                "j": pa.array(
                    [j for k in kinds for j in range(len(vectors[k]))], pa.int32()
                ),
                "v": pa.array([int(v) for k in kinds for v in vectors[k]], pa.int64()),
            }
        ),
        "meta": pa.table(
            {
                "kind": pa.array(kinds, pa.string()),
                "dim": pa.array([len(vectors[k]) for k in kinds], pa.int32()),
            }
        ),
    }
    for table, t in tables.items():
        IO.meta_write(spark, os.path.join(path, name, table), t)


def load_model(spark: SparkSession, path: str, name: str) -> dict[str, list[int]]:
    """Load a model artifact back as {kind: vector}; lengths come from the
    artifact's own meta and are validated against the stored rows, so a
    torn or mixed-version artifact fails loudly instead of serving a
    truncated model."""
    base = os.path.join(path, name)
    meta, vecs = (
        IO.meta_read(spark, os.path.join(base, t)) for t in ("meta", "vectors")
    )
    if meta is None or vecs is None:
        raise FileNotFoundError(f"no model artifact {name!r} at {path}")
    dims = {
        k: int(d)
        for k, d in zip(
            meta.column("kind").to_pylist(), meta.column("dim").to_pylist()
        )
    }
    out: dict[str, list[int]] = {k: [0] * d for k, d in dims.items()}
    counts: dict[str, int] = {k: 0 for k in dims}
    for kind, j, v in zip(*(vecs.column(c).to_pylist() for c in ("kind", "j", "v"))):
        out[kind][int(j)] = int(v)
        counts[kind] += 1
    bad = {k: (counts[k], dims[k]) for k in dims if counts[k] != dims[k]}
    if bad:
        raise ValueError(f"model artifact {name!r} is torn: rows != meta dim {bad}")
    return out
