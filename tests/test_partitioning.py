"""Skew handling: giant documents take the block-parallel path and still
round-trip bit-identically with the same row_hash as the fused path."""

import numpy as np
from pyspark.sql import functions as F

from crumble_spark import synth
from crumble_spark.decode import decode_df
from crumble_spark.encode import encode_df, with_split_id
from crumble_spark.partitioning import encode_df_skewaware


def _tokens_row(doc_id, n, seed, source="web", n_tok=None):
    rng = np.random.default_rng(seed)
    toks = synth.gen_tokens(rng, "runs", n).tolist()
    return (doc_id, toks, len(toks) if n_tok is None else n_tok, source)


def test_giant_rows_roundtrip(spark):
    rows = [
        _tokens_row("web-giant-1", 50_000, 1),
        _tokens_row("web-giant-2", 30_000, 2),
        _tokens_row("web-small-1", 500, 3),
        ("web-empty", [], 0, "web"),
    ]
    df = spark.createDataFrame(
        rows, schema="doc_id string, tokens array<int>, n_tok int, source string"
    )
    enc = encode_df_skewaware(df, block_size=1024, n_splits=8, giant_threshold=10_000)
    dec = decode_df(enc, verify=True)  # verify raises if any hash is wrong
    got = {r["doc_id"]: r["tokens"] for r in dec.collect()}
    want = {r[0]: r[1] for r in rows}
    assert got == want


def test_giant_path_matches_fused_path_exactly(spark):
    rows = [_tokens_row(f"web-doc-{i}", 20_000 + i, 100 + i) for i in range(4)]
    # n_tok only routes: a row whose n_tok under- or overstates its token
    # array must still encode every token, in as many blocks as the fused
    # path uses
    rows.append(_tokens_row("web-n_tok-low", 5_000, 11, n_tok=2_000))
    rows.append(_tokens_row("web-n_tok-high", 3_000, 12, n_tok=9_000))
    df = spark.createDataFrame(
        rows, schema="doc_id string, tokens array<int>, n_tok int, source string"
    )
    df = with_split_id(df, 8)
    fused = encode_df(df, block_size=1024)
    giant = encode_df_skewaware(df, block_size=1024, n_splits=8, giant_threshold=1_000)
    dec = decode_df(giant, verify=True)
    assert {r["doc_id"]: r["tokens"] for r in dec.collect()} == {r[0]: r[1] for r in rows}

    def key(enc):
        cols = enc.select("doc_id", "row_hash", "bytes_out", F.size("blocks").alias("nb"))
        return {r["doc_id"]: (r["row_hash"], r["bytes_out"], r["nb"]) for r in cols.collect()}

    assert key(fused) == key(giant)


def test_split_id_crc32_parity_jvm_python(spark):
    # the split routing invariant: F.crc32 (JVM, used by with_split_id)
    # and zlib.crc32 (python, used by parquet_direct and lookup.split_of)
    # must agree byte-for-byte, including non-ASCII doc ids
    import zlib

    from crumble_spark.encode import with_split_id

    ids = ["a", "web-0000000001", "doc/with/slashes", "émoji-✓-id",
           "x" * 300, "0", "ID_UPPER", "ид-кириллица"]
    df = spark.createDataFrame([(d,) for d in ids], "doc_id string")
    jvm = {r["doc_id"]: r["split_id"] for r in with_split_id(df, 64).collect()}
    py = {d: zlib.crc32(d.encode("utf-8")) % 64 for d in ids}
    assert jvm == py


def test_giant_hash_reassembly_survives_int64_wrap(spark):
    # block hashes near 2^63 must reassemble to the python-side combine()
    # (sum mod 2^63) even when the Spark int64 sum wraps negative — the
    # exact regression the masked aggregate in encode_giant_rows guards
    from crumble_spark import hashing

    hs = [(1 << 62) + 12345, (1 << 62) + 67890, (1 << 61) + 7]
    want = hashing.combine(hs)
    df = spark.createDataFrame([(h,) for h in hs], "block_hash long")
    got = df.agg(
        F.sum("block_hash").bitwiseAND(F.lit((1 << 63) - 1)).alias("row_hash")
    ).collect()[0]["row_hash"]
    assert got == want
    assert sum(hs) >= (1 << 63)  # the fixture really does overflow int64's positive range
