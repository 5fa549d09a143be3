"""Explicit partitioning & skew handling (north_rule requirement).

Crumble's skew is coverage depth, guarded by a decayed running average and
a MAX_DEPTH bail (snp_score.c:1671-1687, 92, 1493-1500).  Ours is token
count: a few documents carry orders of magnitude more tokens than the
median (FIXTURES.md skew fixture).  Two layers of defense:

1. giant-document block-parallel path — rows above a fixed token
   threshold are exploded into per-block rows, hash-spread on
   (doc_id, block_id) so one long document's blocks land on many tasks,
   and reassembled by a groupBy(doc_id); row_hash is block-combinable
   (hashing.py) precisely so this path needs no full-row pass anywhere;
2. bounded Arrow slices inside the kernel (encode.bounded_slices) as the
   last-resort memory guard, plus AQE skew-join/partition coalescing as
   the runtime backstop.

Ordinary rows are never shuffled: task granularity comes from input
splits.  At 100 TB the same code holds: the explode is a narrow op, the
block-spread shuffle moves only the giant rows, and the reassembly
shuffle moves only encoded bytes — i.e. post-compression, typically
5-20x smaller than the input.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import DEFAULT_BLOCK_SIZE, cost, hashing
from .encode import BLOCK_OVERHEAD, encode_df, with_split_id
from .schema import BLOCK_SCHEMA, ENCODED_SCHEMA

GIANT_ROW_TOKENS = 262_144  # rows longer than this take the block-parallel path

_CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("split_id", T.IntegerType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("block", BLOCK_SCHEMA, False),
        T.StructField("block_bytes", T.LongType(), False),
        T.StructField("block_hash", T.LongType(), False),
    ]
)


def _encode_chunks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Kernel for pre-exploded (one row == one block) chunk rows."""
    for pdf in batches:
        if not len(pdf):
            continue
        rows = []
        for doc_id, toks, n_tok, source, split_id, bi in zip(
            pdf["doc_id"], pdf["tokens"], pdf["n_tok"], pdf["source"],
            pdf["split_id"], pdf["block_id"],
        ):
            chunk = np.asarray(toks, dtype=np.int32)
            codec_id, payload = cost.choose(chunk)
            bi = int(bi)
            rows.append(
                (
                    doc_id,
                    source,
                    int(n_tok),
                    int(split_id),
                    bi,
                    {"block_id": bi, "codec_id": codec_id, "n": len(chunk), "payload": payload},
                    len(payload) + BLOCK_OVERHEAD,
                    hashing.block_hash(bi, chunk),
                )
            )
        yield pd.DataFrame(rows, columns=[f.name for f in _CHUNK_SCHEMA.fields])


def encode_giant_rows(df: DataFrame, block_size: int = DEFAULT_BLOCK_SIZE) -> DataFrame:
    """Block-parallel encode for giant documents.

    Explode each row into per-block chunk rows *before* the heavy work, so
    the chunks of one document land on many tasks; reassemble with one
    groupBy over already-encoded (small) payloads.
    """
    # one exploded row per block: slice(tokens, ...) keeps this JVM-side.
    # The block count comes from the array itself, not n_tok: a row whose
    # n_tok understates its length would lose its tail blocks, and one
    # that overstates it would emit empty blocks.
    nb = F.ceil(F.size("tokens") / F.lit(block_size)).cast("int")
    exploded = (
        df.withColumn("block_id", F.explode(F.sequence(F.lit(0), nb - 1)))
        .withColumn(
            "tokens", F.slice("tokens", F.col("block_id") * block_size + 1, block_size)
        )
    )
    # spread blocks uniformly; the subsequent mapInPandas sees ~equal work
    exploded = exploded.repartition(F.xxhash64("doc_id", "block_id"))
    chunks = exploded.mapInPandas(_encode_chunks, schema=_CHUNK_SCHEMA)
    return (
        chunks.groupBy("doc_id", "source", "n_tok", "split_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("block_id", "block"))).alias("bs"),
            F.sum("block_bytes").alias("bytes_out"),
            # row_hash is defined mod 2^63 (hashing.combine); the int64 sum
            # wraps mod 2^64, and (x mod 2^64) mod 2^63 == x mod 2^63, so
            # masking the wrapped sum reproduces the fused path / decode-
            # verify value even for docs with enough blocks to overflow
            # (session.py pins ANSI off so the sum wraps instead of throwing)
            F.sum("block_hash").bitwiseAND(F.lit((1 << 63) - 1)).alias("row_hash"),
        )
        .select(
            "doc_id",
            "source",
            "n_tok",
            "split_id",
            F.col("bs.block").alias("blocks"),
            (F.col("n_tok").cast("long") * 4).alias("bytes_in"),
            "bytes_out",
            "row_hash",
        )
    )


def encode_df_skewaware(
    df: DataFrame,
    block_size: int = DEFAULT_BLOCK_SIZE,
    n_splits: int = 256,
    giant_threshold: int = GIANT_ROW_TOKENS,
) -> DataFrame:
    """Route giant rows to the block-parallel path, everything else to the
    fused single-pass path; union the (identical) encoded schemas.

    Parallelism strategy: encode is CPU-bound (~40 MB/s/core), so task
    granularity comes from *input splits* (session.py caps
    files.maxPartitionBytes at 8 MB) — shuffling raw token arrays just to
    rebalance costs more than it saves.  Routing is on n_tok so both
    predicates push down to the parquet scan.
    """
    df = with_split_id(df, n_splits)
    small = df.filter(F.col("n_tok") <= giant_threshold)
    big = df.filter(F.col("n_tok") > giant_threshold)
    enc_small = encode_df(small, block_size=block_size, n_splits=n_splits)
    enc_big = encode_giant_rows(big, block_size=block_size)
    return enc_small.unionByName(enc_big.select(*[f.name for f in ENCODED_SCHEMA.fields]))
