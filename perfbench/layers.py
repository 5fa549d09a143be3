"""Per-layer metrics of a traced run, from the Spark event-log fold and the
span records of the driver and the Python workers.

Every metric is computed on every workload; a layer a workload does not
reach reads 0 there (those are the "predict flat" pairings in README.md).
Counts and Spark-side totals are per warm pass; CPU is normalized per
million tokens of the ops that feed the layer.
"""

from __future__ import annotations

import json
import os
from collections import Counter, defaultdict

from eventlog import DescTotals, outside_jobs_s
from measure import median

CODEC_NAMES = ("RAW", "CONSTANT", "RLE", "DICT", "FOR_BP", "DELTA_BP", "FSST", "TILE")
PIPELINE_OPS = ("q3", "q4", "q5", "q6", "q7", "q8")
PIPELINE_FIELDS = (
    ("jobs", "count"),
    ("stages", "count"),
    ("task_run_s", "s"),
    ("task_cpu_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("outside_jobs_s", "s"),
)

# which ops of each workload feed which layer group
GROUPS = {
    "bulk_direct": {"direct": ("encode", "decode"), "encode": ("encode",), "decode": ("decode",)},
    "job_skewed": {
        "job": ("encode",),
        "encode": ("encode",),
        "resume": ("resume",),
        "lookup": ("lookup",),
        "decode": ("lookup",),
    },
    "pipeline_sf": {"pipeline": PIPELINE_OPS},
}

METRICS = (
    [
        ("session.start_s", "s"),
        ("session.worker_warm_s", "s"),
        ("sources.parquet_direct.list_splits_s", "s"),
        ("sources.parquet_direct.read_cpu_s_per_mtok", "s/Mtok"),
        ("sources.parquet_direct.write_cpu_s_per_mtok", "s/Mtok"),
        ("sources.parquet_direct.split_self_cpu_s_per_mtok", "s/Mtok"),
        ("sources.parquet_direct.tasks", "count"),
        ("sources.parquet_direct.outside_tasks_s", "s"),
        ("encode.kernel_cpu_s_per_mtok", "s/Mtok"),
        ("encode.blocks", "count"),
        ("encode.slow_blocks", "count"),
        ("encode.slow_block_frac", "frac"),
        ("cost.choose_calls", "count"),
        ("cost.choose_cpu_s_per_mtok", "s/Mtok"),
        ("stats.periodicity_scan_calls", "count"),
    ]
    + [(f"codecs.blocks.{c}", "count") for c in CODEC_NAMES]
    + [
        ("bitpack.pack_calls", "count"),
        ("bitpack.pack_cpu_s_per_mtok", "s/Mtok"),
        ("codecs.decode_calls", "count"),
        ("codecs.decode_cpu_s_per_mtok", "s/Mtok"),
        ("hashing.block_hash_cpu_s_per_mtok", "s/Mtok"),
        ("partitioning.giant_rows", "count"),
        ("job.shuffle_write_mb", "MB"),
        ("job.task_max_over_median", "ratio"),
        ("job.python_share", "frac"),
        ("lineage.rows_read", "count"),
        ("lineage.resume_input_mb", "MB"),
        ("lineage.resume_jobs", "count"),
        ("lookup.files_read", "count"),
        ("lookup.input_mb", "MB"),
        ("lookup.outside_jobs_ms", "ms"),
        ("decode.decode_pdf_cpu_ms", "ms"),
    ]
    + [(f"pipeline.{q}.{f}", u) for q in PIPELINE_OPS for f, u in PIPELINE_FIELDS]
    + [
        ("spark.tasks", "count"),
        ("spark.task_failures", "count"),
        ("spark.task_run_s", "s"),
        ("trace.pass_s", "s"),
        ("trace.overhead_frac", "frac"),
    ]
)


def read_spans(span_dir: str) -> list[dict]:
    out = []
    for name in sorted(os.listdir(span_dir)):
        with open(os.path.join(span_dir, name)) as fh:
            out.extend(json.loads(line) for line in fh)
    return out


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def compute(workload: str, ops, totals: dict, spans: list[dict], session: dict, untraced_pass_s: float) -> dict:
    """{name: (value, unit)} for every name in METRICS.  `ops` is the
    traced run's op log (descriptions, intervals, tokens, pass times)."""
    passes = max(1, ops.passes)
    groups = GROUPS.get(workload, {})
    layer = defaultdict(lambda: defaultdict(Counter))  # desc -> span name -> field
    counts = defaultdict(Counter)  # desc -> counter
    sets = defaultdict(set)
    for rec in spans:
        desc = rec["phase"]
        if desc not in ops.intervals:
            continue  # cold-pass or untagged work
        for name, agg in rec["layers"].items():
            layer[desc][name].update(agg)
        counts[desc].update(rec["counts"])
        for k, v in rec["sets"].items():
            sets[k].update(v)

    def descs(group):
        return [ops.prefix + o for o in groups.get(group, ())]

    def span(group, name, field):
        return sum(layer[d][name][field] for d in descs(group))

    def count(group, key):
        return sum(counts[d][key] for d in descs(group))

    def ev(group, attr):
        return sum(_attr(totals.get(d), attr) for d in descs(group))

    def mtok(group):
        return sum(ops.tokens[d] for d in descs(group)) / 1e6

    all_jobs = [s for t in totals.values() for s in t.job_spans]

    def outside(group):
        return sum(outside_jobs_s(ops.intervals[d], all_jobs) for d in descs(group))

    enc_mtok, dec_mtok = mtok("encode"), mtok("decode")
    # blocks per codec id, from encode_flat's output and the giant-row
    # chunks partitioning encodes one by one
    codec_blocks = [count("encode", f"codec.{i}") for i in range(len(CODEC_NAMES))]
    blocks = sum(codec_blocks)
    flat_blocks = blocks - count("encode", "partitioning.giant_chunks")
    slow = count("encode", "encode.slow_blocks")
    n_lookups = len(ops.times.get("lookup", ())) or 1
    m = {
        "session.start_s": session["start_s"],
        "session.worker_warm_s": session["warm_s"],
        "sources.parquet_direct.list_splits_s": _ratio(
            span("direct", "sources.parquet_direct.list_splits", "wall_s"),
            span("direct", "sources.parquet_direct.list_splits", "calls"),
        ),
        "sources.parquet_direct.read_cpu_s_per_mtok": _ratio(span("direct", "pyarrow.read", "cpu_s"), mtok("direct")),
        "sources.parquet_direct.write_cpu_s_per_mtok": _ratio(span("direct", "pyarrow.write", "cpu_s"), enc_mtok),
        "sources.parquet_direct.split_self_cpu_s_per_mtok": _ratio(
            span("direct", "sources.parquet_direct.split", "self_cpu_s"), enc_mtok
        ),
        "sources.parquet_direct.tasks": ev("direct", "tasks") / passes,
        "sources.parquet_direct.outside_tasks_s": outside("direct") / passes,
        "encode.kernel_cpu_s_per_mtok": _ratio(span("encode", "encode.encode_flat", "cpu_s"), enc_mtok),
        "encode.blocks": blocks / passes,
        "encode.slow_blocks": slow / passes,
        "encode.slow_block_frac": _ratio(slow, flat_blocks),
        "cost.choose_calls": span("encode", "cost.choose_with_stats", "calls") / passes,
        "cost.choose_cpu_s_per_mtok": _ratio(span("encode", "cost.choose_with_stats", "cpu_s"), enc_mtok),
        "stats.periodicity_scan_calls": span("encode", "stats.periodicity_scan", "calls") / passes,
        "bitpack.pack_calls": span("encode", "bitpack.pack", "calls") / passes,
        "bitpack.pack_cpu_s_per_mtok": _ratio(span("encode", "bitpack.pack", "cpu_s"), enc_mtok),
        "codecs.decode_calls": span("decode", "codecs.decode", "calls") / passes,
        "codecs.decode_cpu_s_per_mtok": _ratio(span("decode", "codecs.decode", "cpu_s"), dec_mtok),
        "hashing.block_hash_cpu_s_per_mtok": _ratio(span("decode", "hashing.block_hash", "cpu_s"), dec_mtok),
        "partitioning.giant_rows": len(sets["partitioning.giant_docs"]) if "job" in groups else 0,
        "job.shuffle_write_mb": ev("job", "shuffle_write_mb") / passes,
        "job.task_max_over_median": _skew(totals, descs("job"), passes),
        "job.python_share": _ratio(span("job", "encode.encode_pdf", "cpu_s"), ev("job", "task_run_s")),
        "lineage.rows_read": ev("resume", "input_records") / passes,
        "lineage.resume_input_mb": ev("resume", "input_mb") / passes,
        "lineage.resume_jobs": ev("resume", "jobs") / passes,
        "lookup.files_read": ev("lookup", "files_read") / n_lookups,
        "lookup.input_mb": ev("lookup", "input_mb") / n_lookups,
        "lookup.outside_jobs_ms": outside("lookup") / n_lookups * 1e3,
        "decode.decode_pdf_cpu_ms": span("lookup", "decode.decode_pdf", "cpu_s") / n_lookups * 1e3,
    }
    for i, c in enumerate(CODEC_NAMES):
        m[f"codecs.blocks.{c}"] = codec_blocks[i] / passes
    for q in PIPELINE_OPS:
        d = ops.prefix + q
        t = totals.get(d) if q in groups.get("pipeline", ()) else None
        m[f"pipeline.{q}.jobs"] = _attr(t, "jobs") / passes
        m[f"pipeline.{q}.stages"] = len(t.stages) / passes if t else 0.0
        for f in ("task_run_s", "task_cpu_s", "shuffle_write_mb", "spill_mb"):
            m[f"pipeline.{q}.{f}"] = _attr(t, f) / passes
        m[f"pipeline.{q}.outside_jobs_s"] = (
            outside_jobs_s(ops.intervals[d], all_jobs) / passes if t else 0.0
        )
    warm = [totals[d] for d in ops.intervals if d in totals]
    m["spark.tasks"] = sum(t.tasks for t in warm) / passes
    m["spark.task_failures"] = sum(t.failed_tasks for t in warm)
    m["spark.task_run_s"] = sum(t.task_run_s for t in warm) / passes
    traced = median(ops.pass_wall)
    m["trace.pass_s"] = traced
    m["trace.overhead_frac"] = traced / untraced_pass_s - 1.0  # vs. the untraced session
    units = dict(METRICS)
    return {name: (m[name], units[name]) for name, _ in METRICS}


def _attr(t: DescTotals | None, attr: str) -> float:
    return getattr(t, attr) if t is not None else 0


def _skew(totals: dict, descs: list[str], passes: int) -> float:
    """Median over the `passes` heaviest stages (by task run time, at least
    4 tasks) of their slowest task ÷ median task."""
    stages = [
        runs
        for d in descs
        if d in totals
        for runs in totals[d].stage_task_run_s.values()
        if len(runs) >= 4
    ]
    stages.sort(key=sum, reverse=True)
    ratios = [max(r) / median(r) for r in stages[:passes] if median(r) > 0]
    return median(ratios) if ratios else 0.0
