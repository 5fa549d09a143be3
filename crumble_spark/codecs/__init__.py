"""Codec registry.

Codec ids are part of the on-disk block format — never renumber.

| id | codec    | reference analogue (see SURVEY.md §2)                          |
|----|----------|----------------------------------------------------------------|
| 0  | raw      | crumble's keep-verbatim `preserve` path (snp_score.c:1624-1649)|
| 1  | constant | degenerate run: whole block one value (crumble.1:560-562)      |
| 2  | rle      | P-block run smoothing, made lossless (snp_score.c:803-834)     |
| 3  | dict     | bin2[] quantisation table + keep-value escapes                 |
|    |          |   (snp_score.c:231-247, 2362-2375)                             |
| 4  | for_bp   | frame-of-reference + bit-pack (qual-cap range clamp,           |
|    |          |   snp_score.c:1317-1332)                                       |
| 5  | delta_bp | delta + zigzag + bit-pack (position streams, snp_score.c:863)  |
| 6  | fsst     | gram symbol table w/ escapes — STR finder periods 1-8          |
|    |          |   (str_finder.c:135-189)                                       |
| 7  | tile     | period pattern + exception list — the STR finder's repeat      |
|    |          |   extents made into a codec (str_finder.c:135-189)             |

Every codec is a pair of pure-numpy integer kernels:
    encode(arr: np.ndarray[int]) -> bytes
    decode(buf: bytes, n: int) -> np.ndarray[int32]
with decode(encode(a), len(a)) bit-identical to a for all int32 inputs.
"""

from __future__ import annotations

import numpy as np

from . import constant, delta_bp, dictionary, for_bp, fsst, raw, rle, tile

RAW = 0
CONSTANT = 1
RLE = 2
DICT = 3
FOR_BP = 4
DELTA_BP = 5
FSST = 6
TILE = 7

CODEC_NAMES = {
    RAW: "raw",
    CONSTANT: "constant",
    RLE: "rle",
    DICT: "dict",
    FOR_BP: "for_bp",
    DELTA_BP: "delta_bp",
    FSST: "fsst",
    TILE: "tile",
}

_ENCODERS = {
    RAW: raw.encode,
    CONSTANT: constant.encode,
    RLE: rle.encode,
    DICT: dictionary.encode,
    FOR_BP: for_bp.encode,
    DELTA_BP: delta_bp.encode,
    FSST: fsst.encode,
    TILE: tile.encode,
}

_DECODERS = {
    RAW: raw.decode,
    CONSTANT: constant.decode,
    RLE: rle.decode,
    DICT: dictionary.decode,
    FOR_BP: for_bp.decode,
    DELTA_BP: delta_bp.decode,
    FSST: fsst.decode,
    TILE: tile.decode,
}


def encode(codec_id: int, arr: np.ndarray) -> bytes:
    return _ENCODERS[codec_id](arr)


def decode(codec_id: int, buf: bytes, n: int) -> np.ndarray:
    out = _DECODERS[codec_id](buf, n)
    if out.dtype != np.int32 or len(out) != n:
        raise ValueError(f"codec {codec_id}: {len(out)} {out.dtype}, want {n} int32")
    return out
