"""Shard layer shared by the sharded seen-set filters (operators/bloom.py,
operators/cuckoo.py).

A filter is a shard TABLE — one row ``(shard_id, <payload> binary,
n_inserted)`` per shard, so the whole seen set is itself a DataFrame
that checkpoints like any other table — plus numpy kernels over one
shard's payload bytes. Everything between the two lives here, so the
filters differ only in their kernels:

- routing: ``shard_id = pmod(url_hash, n_shards)``;
- the all-zero table, built distributedly (``spark.range``) so that a
  4096-shard × multi-MB filter never materializes on the driver;
- ONE per-shard cogroup, ``probe_update``: candidates grouped by
  shard_id cogrouped with the shard rows, one Arrow batch per shard, the
  kernel called once per group on whole numpy arrays — no per-row
  Python. Every Spark-level filter operation (bloom test+insert, cuckoo
  test+insert, cuckoo delete) is this one pass with its own kernel; each
  cogroup is a shuffle of both sides plus an Arrow round trip, so an
  operation never pays for two.

Empty-side rules, the same for every filter and every operation: a
shard with no candidates passes through unchanged; candidates whose
shard row is missing get a False flag and no shard row — shards are
never invented for stray shard_ids.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def with_shard_id(df: DataFrame, n_shards: int, hash_col: str = "url_hash") -> DataFrame:
    return df.withColumn(
        "shard_id", F.pmod(F.col(hash_col), F.lit(n_shards)).cast("int")
    )


def empty_table(spark: SparkSession, n_shards: int, schema: T.StructType,
                payload_bytes: int) -> DataFrame:
    """All-zero shard table in ``schema`` (shard_id, payload, n_inserted)."""
    return spark.range(n_shards).select(
        F.col("id").cast("int").alias("shard_id"),
        F.lit(bytes(payload_bytes)).alias(schema.names[1]),
        F.lit(0).cast("long").alias("n_inserted"),
    )


def probe_update(candidates: DataFrame, shards: DataFrame, schema: T.StructType,
                 n_shards: int,
                 kernel: Callable[[bytes, np.ndarray], tuple[np.ndarray, bytes, int]],
                 hash_col: str = "url_hash") -> DataFrame:
    """The shard layer's one cogrouped pass. ``kernel(payload, hashes)``
    returns (one flag per hash, the shard's new payload, the change to
    its ``n_inserted``); for a test+insert the flag is ``maybe_seen``
    against the PRE-batch payload. Emits a UNION-shaped frame the caller
    persists and splits with ``verdicts`` and ``shard_rows``:

    - ``row_kind='v'``: one row per candidate — (hash_col, maybe_seen);
    - ``row_kind='s'``: one row per existing shard — (shard_id, payload,
      n_inserted)."""
    cand = with_shard_id(candidates.select(hash_col), n_shards, hash_col)
    payload_col = schema.names[1]
    out_schema = T.StructType(
        [
            T.StructField("row_kind", T.StringType(), False),
            T.StructField("shard_id", T.IntegerType(), True),
            T.StructField(payload_col, T.BinaryType(), True),
            T.StructField("n_inserted", T.LongType(), True),
            T.StructField(hash_col, T.LongType(), True),
            T.StructField("maybe_seen", T.BooleanType(), True),
        ]
    )
    empty = pd.DataFrame(
        {
            "row_kind": pd.Series(dtype="object"),
            "shard_id": pd.Series(dtype="int32"),
            payload_col: pd.Series(dtype="object"),
            "n_inserted": pd.Series(dtype="int64"),
            hash_col: pd.Series(dtype="int64"),
            "maybe_seen": pd.Series(dtype="object"),
        }
    )

    def shard_row(shard_id: int, payload: bytes, n: int) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "row_kind": ["s"],
                "shard_id": [shard_id],
                payload_col: [payload],
                "n_inserted": [n],
                hash_col: [None],
                "maybe_seen": [None],
            }
        )

    def per_shard(key, shard_pdf: pd.DataFrame, cand_pdf: pd.DataFrame) -> pd.DataFrame:
        if cand_pdf.empty and shard_pdf.empty:
            return empty
        if cand_pdf.empty:
            return shard_row(
                int(shard_pdf["shard_id"].iloc[0]),
                shard_pdf[payload_col].iloc[0],
                int(shard_pdf["n_inserted"].iloc[0]),
            )
        out = []
        hashes = cand_pdf[hash_col].to_numpy()
        if shard_pdf.empty:
            seen = np.zeros(len(hashes), dtype=bool)
        else:
            seen, payload, n_delta = kernel(shard_pdf[payload_col].iloc[0], hashes)
            out.append(
                shard_row(
                    int(shard_pdf["shard_id"].iloc[0]),
                    payload,
                    int(shard_pdf["n_inserted"].iloc[0]) + int(n_delta),
                )
            )
        out.append(
            pd.DataFrame(
                {
                    "row_kind": "v",
                    "shard_id": None,
                    payload_col: None,
                    "n_inserted": None,
                    hash_col: hashes,
                    "maybe_seen": seen,
                }
            )
        )
        return pd.concat(out, ignore_index=True)

    return (
        shards.groupBy("shard_id")
        .cogroup(cand.groupBy("shard_id"))
        .applyInPandas(per_shard, schema=out_schema)
    )


def verdicts(fused: DataFrame, hash_col: str = "url_hash") -> DataFrame:
    """The ``row_kind='v'`` rows of a ``probe_update`` frame: (hash_col,
    maybe_seen)."""
    return fused.filter(F.col("row_kind") == "v").select(hash_col, "maybe_seen")


def shard_rows(fused: DataFrame) -> DataFrame:
    """The ``row_kind='s'`` rows of a ``probe_update`` frame: the new
    shard table (shard_id, payload, n_inserted)."""
    return fused.filter(F.col("row_kind") == "s").select(*fused.columns[1:4])
