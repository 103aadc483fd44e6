"""Shared operator utilities."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition a narrow input for compute-heavy per-row derivations.

    Small parquet files scan as one partition (maxPartitionBytes), which
    serializes CPU-bound work like shingling, signature hashing, or
    per-row dot products. A round-robin repartition to the session's
    default parallelism restores full-width execution; it's a cheap
    shuffle of the narrow input, never of the derived (wide) data.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.isStreaming:
        # no rdd/partition introspection on a stream; a round-robin
        # repartition keeps the stateless per-row operators (signatures,
        # shingles, features) usable unchanged in streaming pipelines
        return df.repartition(target)
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def salted_join(skewed: DataFrame, other: DataFrame, key: str,
                salt: int = 8, how: str = "inner") -> DataFrame:
    """Equi-join where `skewed` has hot keys: spread each hot key over
    `salt` shuffle partitions by appending a deterministic salt derived
    from the full row hash, and replicate `other` across all salt values.

    AQE's skew-join split handles sort-merge cases automatically; explicit
    salting remains the tool when a single key exceeds what one task can
    hold (the 100 TB hot-product / power-user case) or when the join is a
    shuffled hash join AQE won't split. Deterministic: salt comes from
    xxhash64 of the skewed row, not rand(), so replays and retries agree.
    """
    salted_left = skewed.withColumn(
        "__salt", F.pmod(F.xxhash64(*skewed.columns), F.lit(salt)).cast("int"))
    replicated_right = other.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
    out = salted_left.join(replicated_right, [key, "__salt"], how)
    return out.drop("__salt")


def sorted_distinct(*cols: pa.ChunkedArray) -> pa.Array:
    """The distinct values of Arrow columns of one type, sorted: the code
    book of `codes`."""
    values = pc.unique(pa.chunked_array(
        [chunk for col in cols for chunk in col.chunks], cols[0].type))
    return values.take(pc.sort_indices(values))


def codes(col: pa.ChunkedArray, values: pa.Array) -> np.ndarray:
    """The int64 position of each entry of `col` in `values`, -1 where
    `values` does not hold it."""
    return (pc.index_in(col, value_set=values).fill_null(-1)
            .to_numpy().astype(np.int64))
