"""Seeded input generation for the three benchmark workloads.

Every table is a pure function of (seed, size constants below): the same
seed writes byte-identical parquet, and the program under test only ever
sees these files.  Token content comes from crumble_spark.synth.gen_tokens
(the FIXTURES.md regimes).  The pipeline tables are not generated: sf/
holds copies of the sf0.1 testdata tables that q3-q8 read (see README.md).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from crumble_spark import synth

# bulk_direct: regime-balanced mixed table + boundary rows + long-doc tail
BULK_ROWS = 8_000
BULK_FILES = 8
BULK_ROW_GROUPS_PER_FILE = 4  # 32 (file, row_group) splits
MEAN_LEN = 1024
BLOCK_SIZE = 4096
# document lengths (the work per pass) come from this fixed seed; the run
# seed draws the token values, so seeds differ in content, not in size
LENGTH_SEED = 0

# job_skewed: FIXTURES.md skew fixture — one source holds 1% of rows and
# about half of the tokens, a few of its rows above the giant threshold
SKEW_ROWS = 1_500
SKEW_HOT_SOURCE = "books"
SKEW_GIANTS = 3
SKEW_FILES = 4

# pipeline_sf: fixed copies of the sf0.1 tables q3-q8 read
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf")
SF_TABLES = ("documents", "embeddings", "lineitem")

TOKENS_PA = pa.schema(
    [
        ("doc_id", pa.string(), False),
        ("tokens", pa.list_(pa.field("element", pa.int32(), False)), False),
        ("n_tok", pa.int32(), False),
        ("source", pa.string(), False),
    ]
)


@dataclass
class TokenTable:
    """A generated token table: where it was written plus what the checks
    need (the rows themselves, kept for byte-equality lookups)."""

    path: str
    doc_ids: list[str]
    tokens: list[np.ndarray]
    n_tokens: int
    digest: str


def _regime_row(seed: int, row_id: int, regime: str, n: int) -> np.ndarray:
    return synth.gen_tokens(np.random.default_rng([seed, row_id]), regime, n)


def _lognormal_len(row_id: int) -> int:
    rng = np.random.default_rng([LENGTH_SEED, row_id, 1])
    return int(rng.lognormal(np.log(MEAN_LEN), 0.6))


def bulk_rows(seed: int):
    """(doc_id, tokens, source) rows: regimes assigned round-robin so the
    mix (and so the compression ratio) barely moves between seeds, one
    long-tail document per regime (32-256x the median), and the FIXTURES
    `boundary` lengths once per regime."""
    rows = []
    for i in range(BULK_ROWS):
        regime = synth.REGIMES[i % len(synth.REGIMES)]
        src = synth.SOURCES[(i // len(synth.REGIMES)) % len(synth.SOURCES)]
        rows.append((f"{src}-{i:010d}", _regime_row(seed, i, regime, _lognormal_len(i)), src))
    rid = BULK_ROWS
    for regime in synth.REGIMES:
        rng = np.random.default_rng([LENGTH_SEED, rid, 2])
        n = MEAN_LEN * int(rng.integers(32, 257))
        rows.append((f"web-{rid:010d}", _regime_row(seed, rid, regime, n), "web"))
        rid += 1
        for n in (0, 1, BLOCK_SIZE - 1, BLOCK_SIZE, BLOCK_SIZE + 1, 4 * BLOCK_SIZE):
            rows.append((f"code-{rid:010d}", _regime_row(seed, rid, regime, n), "code"))
            rid += 1
    return rows


def giant_threshold() -> int:
    """The encode job's default giant-row threshold (job.EncodeConfig)."""
    from crumble_spark import job

    return job.EncodeConfig().giant_threshold


def skew_rows(seed: int):
    """99% ordinary rows over four sources, 1% in SKEW_HOT_SOURCE carrying
    about as many tokens as all the others; SKEW_GIANTS of those exceed
    the giant threshold and take the block-parallel path."""
    giant = giant_threshold()
    n_hot = max(SKEW_GIANTS + 1, SKEW_ROWS // 100)
    rows = []
    for i in range(SKEW_ROWS - n_hot):
        regime = synth.REGIMES[i % len(synth.REGIMES)]
        src = synth.SOURCES[(i // len(synth.REGIMES)) % len(synth.SOURCES)]
        rows.append((f"{src}-{i:010d}", _regime_row(seed, i, regime, _lognormal_len(i)), src))
    normal_total = sum(len(r[1]) for r in rows)
    rng = np.random.default_rng([LENGTH_SEED, SKEW_ROWS, 3])
    giants = rng.integers(giant + 1, int(giant * 1.5), SKEW_GIANTS)
    rest = max(0, normal_total - int(giants.sum()))
    n_small = n_hot - SKEW_GIANTS
    # Pareto-shaped tail for the other hot rows, scaled to the remaining
    # half-of-tokens budget and capped below the giant threshold
    w = rng.pareto(1.5, n_small) + 1.0
    small = np.minimum((w / w.sum() * rest).astype(np.int64), giant)
    for j, n in enumerate(np.concatenate([giants, small])):
        rid = SKEW_ROWS - n_hot + j
        regime = synth.REGIMES[j % len(synth.REGIMES)]
        rows.append((f"{SKEW_HOT_SOURCE}-{rid:010d}", _regime_row(seed, rid, regime, int(n)), SKEW_HOT_SOURCE))
    return rows


def write_token_table(rows, path: str, n_files: int, row_groups_per_file: int = 1) -> TokenTable:
    """Write rows as n_files parquet files (rows shuffled across files by a
    fixed permutation so every file mixes regimes) and hash the bytes."""
    os.makedirs(path, exist_ok=True)
    order = np.random.default_rng(len(rows)).permutation(len(rows))
    digest = hashlib.sha256()
    for f, part in enumerate(np.array_split(order, n_files)):
        sel = [rows[i] for i in part]
        lens = np.array([len(r[1]) for r in sel], dtype=np.int32)
        offs = np.zeros(len(sel) + 1, np.int32)
        offs[1:] = np.cumsum(lens)
        flat = np.concatenate([r[1] for r in sel]) if sel else np.zeros(0, np.int32)
        table = pa.Table.from_arrays(
            [
                pa.array([r[0] for r in sel], pa.string()),
                pa.ListArray.from_arrays(pa.array(offs), pa.array(flat, pa.int32())).cast(
                    TOKENS_PA.field("tokens").type
                ),
                pa.array(lens),
                pa.array([r[2] for r in sel], pa.string()),
            ],
            schema=TOKENS_PA,
        )
        fname = os.path.join(path, f"part-{f:03d}.parquet")
        pq.write_table(table, fname, row_group_size=-(-len(sel) // row_groups_per_file))
        digest.update(_file_digest(fname))
    return TokenTable(
        path=path,
        doc_ids=[r[0] for r in rows],
        tokens=[r[1] for r in rows],
        n_tokens=int(sum(len(r[1]) for r in rows)),
        digest=digest.hexdigest()[:16],
    )


def _file_digest(path: str) -> bytes:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for chunk in iter(lambda: fh.read(1 << 20), b""):
            h.update(chunk)
    return h.digest()


def sf_digest() -> str:
    """SHA-256 prefix of the pipeline tables in SF_DIR."""
    digest = hashlib.sha256()
    for name in SF_TABLES:
        digest.update(_file_digest(os.path.join(SF_DIR, f"{name}.parquet")))
    return digest.hexdigest()[:16]
