#!/usr/bin/env python3
"""Regenerate perfbench/expected.json: the exact bulk_direct byte totals
(and so compression_ratio) for seeds 0..SEEDS-1 from the single-process
kernel, and the DuckDB oracle hashes of q3-q8 over the fixed pipeline
tables.  Run only when the encoded format, the generators or the tables
change on purpose; otherwise a moved value is a regression the benchmark
must catch.

    python3 perfbench/record_expected.py      (minutes)
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402
import workloads  # noqa: E402

SEEDS = 100


def main() -> None:
    bulk = {}
    for seed in range(SEEDS):
        bi, bo = workloads.bulk_expected_bytes(inputs.bulk_rows(seed))
        bulk[str(seed)] = {"bytes_in": bi, "bytes_out": bo}
    out = {
        "bulk_direct": bulk,
        "pipeline_sf": {"input_sha256_16": inputs.sf_digest(), "oracle": workloads.oracle_hashes()},
    }
    with open(workloads.EXPECTED_PATH, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
