"""The three benchmark workloads.

Each workload prepares its input (`prepare`, untimed and outside set-up),
runs its cold pass during set-up, then repeats warm passes.  A pass is a
fixed sequence of ops; every op runs under the Spark job description
"<workload>/<op>" ("<workload>/cold/<op>" in the cold pass,
"<workload>/traced/<op>" when traced) so the event log and the span hook
can attribute work to it.  Every op's output is checked; a mismatch
counts as a failed op.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np

import inputs
from measure import median, percentile

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected.json")

# the bench.py query set, by its short names
PIPELINE_QUERIES = {
    "q3": "dedup_minhash_lsh",
    "q4": "ann_brute_topk",
    "q5": "text_fingerprint",
    "q6": "rel_pricing_summary",
    "q7": "corpus_clean_funnel",
    "q8": "dedup_clusters",
}
LOOKUPS_PER_PASS = 4
DOCS_PER_LOOKUP = 8
SKEW_N_SPLITS = 16


def load_expected() -> dict:
    with open(EXPECTED_PATH) as fh:
        return json.load(fh)


def bulk_expected_bytes(rows) -> tuple[int, int]:
    """(Σbytes_in, Σbytes_out) of the single-process kernel over rows —
    the reference for seeds not listed in expected.json."""
    from crumble_spark.encode import encode_flat

    lens = np.array([len(r[1]) for r in rows], dtype=np.int64)
    offs = np.zeros(len(rows) + 1, np.int64)
    offs[1:] = np.cumsum(lens)
    flat = np.concatenate([r[1] for r in rows]).astype(np.int32)
    _, bytes_out, _ = encode_flat(flat, offs, inputs.BLOCK_SIZE)
    return int(lens.sum() * 4), int(bytes_out.sum())


class BulkDirect:
    """pyarrow-direct encode then decode-verify over a mixed-regime table."""

    name = "bulk_direct"
    task_cpus = 1  # the Python worker does the I/O; the JVM task thread idles

    def prepare(self, seed: int, work: str) -> dict:
        rows = inputs.bulk_rows(seed)
        self.table = inputs.write_token_table(
            rows, os.path.join(work, "bulk_in"), inputs.BULK_FILES, inputs.BULK_ROW_GROUPS_PER_FILE
        )
        recorded = load_expected()["bulk_direct"].get(str(seed))
        if recorded is None:
            self.expected = bulk_expected_bytes(rows)
            source = "kernel reference"
        else:
            self.expected = (recorded["bytes_in"], recorded["bytes_out"])
            source = "recorded"
        self.out = os.path.join(work, "bulk_out")
        return {
            "input_sha256_16": self.table.digest,
            "rows": len(rows),
            "tokens": self.table.n_tokens,
            "expected_from": source,
        }

    def cold_pass(self, spark, ops) -> None:
        """Two passes: the first warm pass still forks and imports Python
        workers (about one CPU-second more than later passes), and with
        two or three timed passes a run it would move the median."""
        self.run_pass(spark, ops)
        self.run_pass(spark, ops)

    def run_pass(self, spark, ops) -> None:
        from pyspark.sql import functions as F

        from crumble_spark.sources import parquet_direct

        shutil.rmtree(self.out, ignore_errors=True)
        n = self.table.n_tokens
        with ops.op("encode", tokens=n) as op:
            lin = parquet_direct.encode_job_direct(
                spark, self.table.path, self.out, block_size=inputs.BLOCK_SIZE,
                n_splits=64, resume=False,
            )
        sums = lin.agg(F.sum("bytes_in").alias("bi"), F.sum("bytes_out").alias("bo")).collect()[0]
        op.check(
            (sums["bi"], sums["bo"]) == self.expected,
            f"bytes in/out {sums['bi']}/{sums['bo']} != expected {self.expected}",
        )
        with ops.op("decode", tokens=n) as op:
            totals = parquet_direct.decode_verify_direct(spark, os.path.join(self.out, "encoded"))
        op.check(
            totals["tokens"] == self.table.n_tokens,
            f"decoded {totals['tokens']} tokens, input has {self.table.n_tokens}",
        )

    def detail(self, times) -> dict:
        mtok = self.table.n_tokens / 1e6
        return {
            "encode_mtok_s": (mtok / median(times["encode"]), "Mtok/s"),
            "decode_mtok_s": (mtok / median(times["decode"]), "Mtok/s"),
            "compression_ratio": (self.expected[0] / self.expected[1], "x"),
        }


class JobSkewed:
    """DataFrame encode job on the skew table, a no-op resume, then
    closed-loop single-client point lookups."""

    name = "job_skewed"
    # the sizing rule of ARCHITECTURE.md for Arrow-UDF stages: a task is a
    # JVM producer thread plus a Python worker, so one slot per two cores.
    # With one slot per core, a 34% rise in pass CPU (a busy shared host)
    # made the pass 75% slower; with two, 30% made it 32% slower.
    task_cpus = 2

    def prepare(self, seed: int, work: str) -> dict:
        rows = inputs.skew_rows(seed)
        self.table = inputs.write_token_table(rows, os.path.join(work, "skew_in"), inputs.SKEW_FILES)
        self.by_id = dict(zip(self.table.doc_ids, self.table.tokens))
        self.rng = np.random.default_rng([seed, 7])
        self.out = os.path.join(work, "skew_out")
        return {
            "input_sha256_16": self.table.digest,
            "rows": len(rows),
            "tokens": self.table.n_tokens,
            "giant_rows": sum(len(r[1]) > inputs.giant_threshold() for r in rows),
        }

    def cold_pass(self, spark, ops) -> None:
        self.run_pass(spark, ops, lookups=1)

    def run_pass(self, spark, ops, lookups: int = LOOKUPS_PER_PASS) -> None:
        from crumble_spark import job, lookup

        cfg = job.EncodeConfig(n_splits=SKEW_N_SPLITS)
        shutil.rmtree(self.out, ignore_errors=True)
        for op_name, resume in (("encode", False), ("resume", True)):
            with ops.op(op_name, tokens=self.table.n_tokens) as op:
                summary = job.run_encode_job(
                    spark, spark.read.parquet(self.table.path), self.out, cfg=cfg, resume=resume
                )
            op.check(
                summary["tokens"] == self.table.n_tokens and summary["rows"] == len(self.by_id),
                f"{op_name}: summary {summary['rows']} rows / {summary['tokens']} tokens, "
                f"input {len(self.by_id)} / {self.table.n_tokens}",
            )
        enc_dir = os.path.join(self.out, "encoded")
        for _ in range(lookups):
            pick = self.rng.choice(len(self.table.doc_ids), DOCS_PER_LOOKUP, replace=False)
            ids = [self.table.doc_ids[i] for i in pick]
            with ops.op("lookup", tokens=sum(len(self.by_id[d]) for d in ids)) as op:
                got = lookup.decode_docs(spark, enc_dir, ids, verify=True).collect()
            op.check(
                sorted(r["doc_id"] for r in got) == sorted(ids)
                and all(
                    np.array_equal(np.asarray(r["tokens"], np.int32), self.by_id[r["doc_id"]])
                    for r in got
                ),
                f"lookup of {ids} returned {sorted(r['doc_id'] for r in got)} or wrong tokens",
            )

    def detail(self, times) -> dict:
        try:
            p90 = percentile(times["lookup"], 0.9) * 1e3
        except ValueError:
            p90 = None  # fewer than 100 lookups in this run
        return {
            "job_encode_mtok_s": (self.table.n_tokens / 1e6 / median(times["encode"]), "Mtok/s"),
            "resume_noop_s": (median(times["resume"]), "s"),
            "lookup_p50_ms": (median(times["lookup"]) * 1e3, "ms"),
            "lookup_p90_ms": (p90, "ms"),
        }


class PipelineSF:
    """Queries q3-q8 over the fixed sf0.1 table copies, each materialized
    to the noop sink; the seed permutes the query order of every pass."""

    name = "pipeline_sf"
    task_cpus = 1  # JVM-only queries

    def prepare(self, seed: int, work: str) -> dict:
        import __spark_entry__ as entry

        self.sf_dir = inputs.SF_DIR
        digest = inputs.sf_digest()
        self.rng = np.random.default_rng([seed, 11])
        self.queries = entry.queries()
        recorded = load_expected().get("pipeline_sf", {})
        if recorded.get("input_sha256_16") == digest:
            self.oracle = {q: tuple(v) for q, v in recorded["oracle"].items()}
            source = "recorded"
        else:
            self.oracle = oracle_hashes()
            source = "duckdb"
        self.rows: dict[str, int] = {}
        return {"input_sha256_16": digest, "oracle_from": source, "queries": dict(PIPELINE_QUERIES)}

    def cold_pass(self, spark, ops) -> None:
        """The warm-up pass: collect each query and compare its value hash
        with the DuckDB oracle; the row counts become the reference for
        every timed pass."""
        for q in self._order():
            with ops.op(q) as op:
                got = _norm(self.queries[PIPELINE_QUERIES[q]](spark, self.sf_dir).toPandas())
            self.rows[q] = len(got)
            op.check(
                (len(got), list(got.columns), _value_hash(got)) == self.oracle[q],
                f"{q}: {len(got)} rows, hash differs from the DuckDB oracle",
            )

    def run_pass(self, spark, ops) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        for q in self._order():
            obs = Observation(q)
            # timed from before fn(): q8 does work while building the frame
            with ops.op(q) as op:
                df = self.queries[PIPELINE_QUERIES[q]](spark, self.sf_dir)
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
                    "overwrite"
                ).save()
            n = obs.get["n"]
            op.check(n == self.rows[q], f"{q}: {n} rows, warm-up pass had {self.rows[q]}")

    def _order(self):
        return [list(PIPELINE_QUERIES)[i] for i in self.rng.permutation(len(PIPELINE_QUERIES))]

    def detail(self, times) -> dict:
        passes = len(times["q3"])
        per_pass = [sum(times[q][i] for q in PIPELINE_QUERIES) for i in range(passes)]
        return {
            "pipeline_s": (median(per_pass), "s"),
            "q3_minhash_s": (median(times["q3"]), "s"),
            "q7_funnel_s": (median(times["q7"]), "s"),
            "q8_clusters_s": (median(times["q8"]), "s"),
        }


WORKLOADS = {w.name: w for w in (BulkDirect, JobSkewed, PipelineSF)}


def oracle_hashes() -> dict:
    """{query: (rows, columns, value hash)} of each query's DuckDB
    oracle_sql() over the tables in inputs.SF_DIR (minutes: q3/q8's
    oracles are recursive SQL, which is why expected.json records them)."""
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in inputs.SF_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs.SF_DIR}/{t}.parquet')")
    out = {}
    for q, name in PIPELINE_QUERIES.items():
        want = _norm(con.sql(oracles[name]).df())
        out[q] = (len(want), list(want.columns), _value_hash(want))
    con.close()
    return out


# the value normalisation and hash of scripts/gate_sim.py (the driver's
# correctness gate), repeated here so the benchmark does not depend on a
# script that may move


def _norm(df):
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)


def _value_hash(df) -> str:
    s = df.astype(str).to_csv(index=False)
    return hashlib.sha256(s.encode()).hexdigest()[:16]
