"""Cost model: exact candidate sizing + argmin codec selection per block.

Crumble scores every column with *two* consensus models and applies the
stricter verdict (snp_score.c:1523-1543); we score every candidate codec
and take the cheapest, with RAW always in the candidate set so the worst
case is the input size — the `preserve` fallback (snp_score.c:1624-1649).

All candidate sizes except FSST are *exact* closed forms over BlockStats,
so selection never mispredicts; FSST requires a trial encode and is gated
by cheap stats (periodicity scan), mirroring crumble's -Y work-skipping
gate (snp_score.c:1732).
"""

from __future__ import annotations

import numpy as np

from . import codecs, stats
from .codecs import constant, dictionary, for_bp, raw, rle, tile
from .codecs import delta_bp as delta

# periodic-analysis gates (FSST gram trial + TILE period scan).
# card cap: gram/period structure implies a small alphabet; scanning
# high-cardinality blocks wastes 7 O(n) passes per block for nothing
FSST_MIN_N = 64
FSST_MAX_CARD = 256
FSST_MIN_PERIODICITY = 0.35


def candidate_sizes(st: stats.BlockStats) -> dict[int, int]:
    """Exact encoded size per cheap candidate codec.

    Dictionary sizing needs the (sort-based) cardinality stats, so it is
    only evaluated when its best-case size — a 2-entry table with 1-bit
    codes — could still beat the cheap candidates.  High-entropy and
    FOR/delta-friendly blocks never pay for a sort.
    """
    sizes = {codecs.RAW: raw.size(st.n)}
    if st.vmin == st.vmax:
        sizes[codecs.CONSTANT] = constant.SIZE
        return sizes
    sizes[codecs.FOR_BP] = for_bp.size(st.n, st.vmax - st.vmin)
    sizes[codecs.RLE] = rle.size(st.n_runs, st.run_vrange, st.max_run_len)
    sizes[codecs.DELTA_BP] = delta.size(st.n, st.max_zigzag)
    dict_lower_bound = dictionary.full_size(2, st.n)
    if dict_lower_bound < min(sizes.values()):
        if st._dict_plan is None:
            st._dict_plan = dictionary.plan(st.counts_desc, st.n)
        sizes[codecs.DICT] = st._dict_plan[2]
    return sizes


def choose(a: np.ndarray) -> tuple[int, bytes]:
    """Pick the cheapest codec for one block and encode it.

    a: non-empty int64/int32 array. Returns (codec_id, payload).
    """
    a = np.asarray(a, dtype=np.int64)
    return choose_with_stats(a, stats.compute(a))


def choose_with_stats(a: np.ndarray, st: stats.BlockStats) -> tuple[int, bytes]:
    """choose() with precomputed BlockStats (the batch-vectorized encode
    path computes stats for all blocks at once — see encode.encode_flat).
    Accepts int32 or int64 input; codecs convert internally as needed."""
    sizes = candidate_sizes(st)
    best_id = min(sizes, key=lambda c: (sizes[c], c))
    best_size = sizes[best_id]

    if best_id == codecs.DICT:
        k, use_escape, _ = st._dict_plan
        payload = dictionary.encode(
            a, k=k, use_escape=use_escape, values=st.values, counts=st.counts
        )
    else:
        payload = codecs.encode(best_id, a)
    if len(payload) != best_size:
        raise RuntimeError(f"codec {best_id}: {len(payload)} B, cost model {best_size}")

    # periodic analysis: only when repeats might exist that RLE/dict can't
    # see (cheap gates first — crumble's -Y work-skipping discipline).
    # The lag-match fraction must beat what i.i.d. low-card noise shows by
    # chance, else every 2-symbol block wastes a trial encode.
    if st.n >= FSST_MIN_N and 1 < st.card <= FSST_MAX_CARD and best_size * 8 > st.n:
        # int32 is fine throughout the gate: the lag scan and tile votes
        # are pure equality/argmax, and tile/fsst encode upcast internally
        lag, frac = stats.periodicity_scan(a, max_lag=stats.MAX_LAG)
        chance = stats.chance_match_rate(st.counts, st.n)
        if frac >= max(FSST_MIN_PERIODICITY, 1.5 * chance):
            # the scan's best lag is often a multiple of the true period —
            # a mutation inside the tile pattern replicates everywhere, so
            # try every divisor and keep the exact cheapest
            best_p, best_tile_sz = 0, best_size
            for p in (d for d in range(1, lag + 1) if lag % d == 0):
                n_exc = tile.exceptions_for(a, tile.majority_pattern(a, p))
                sz = tile.size(st.n, p, n_exc)
                if sz < best_tile_sz:
                    best_p, best_tile_sz = p, sz
            if best_p:
                trial = tile.encode(a, best_p)
                if len(trial) < best_size:
                    best_id, payload, best_size = codecs.TILE, trial, len(trial)
            # gram tables only stand a chance when the tile didn't already
            # collapse the block below ~1 bit/token
            if best_size * 8 > st.n:
                trial = codecs.encode(codecs.FSST, a)
                if len(trial) < best_size:
                    return codecs.FSST, trial
    return best_id, payload
