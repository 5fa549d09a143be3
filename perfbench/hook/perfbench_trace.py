"""Span recorder for the traced benchmark run.

`install(out_dir)` wraps the public functions of each engine layer (see
TARGETS) as their modules are imported.  Every wrapped call records a span
(wall and process CPU at entry and exit, parent = the enclosing span) in
memory.  Spans are folded per layer and appended as one JSON line to
`<out_dir>/<pid>.jsonl` when a Spark task ends (`pyspark.worker.main`
returns) or, in the driver, when the outermost span closes.  Workers leave
through `os._exit`, so nothing is left for an exit hook to write.

Each line: {"pid", "phase" (the task's spark.job.description), "layers":
{name: {calls, wall_s, cpu_s, self_wall_s, self_cpu_s}}, "counts": {...},
"sets": {...}}.
"""

from __future__ import annotations

import functools
import importlib.abc
import importlib.machinery
import json
import os
import sys
import time
from collections import Counter, defaultdict

# Spark local property that switches recording on for a job's tasks; the
# wrappers of a task without it only pass calls through
TRACE_PROPERTY = "perfbench.trace"

# module -> [(attribute, span name)].  Module-attribute patching covers
# every caller that looks the function up through its module; the one
# from-import (parquet_direct's encode_flat) is patched where it is bound
# (a function already wrapped is never wrapped twice).
TARGETS = {
    "crumble_spark.sources.parquet_direct": [
        ("_encode_split", "sources.parquet_direct.split"),
        ("list_input_splits_distributed", "sources.parquet_direct.list_splits"),
        ("encode_flat", "encode.encode_flat"),
    ],
    "crumble_spark.encode": [
        ("encode_flat", "encode.encode_flat"),
        ("encode_pdf", "encode.encode_pdf"),
    ],
    "crumble_spark.cost": [("choose_with_stats", "cost.choose_with_stats")],
    "crumble_spark.stats": [("periodicity_scan", "stats.periodicity_scan")],
    "crumble_spark.bitpack": [("pack", "bitpack.pack"), ("unpack", "bitpack.unpack")],
    "crumble_spark.codecs": [("decode", "codecs.decode")],
    "crumble_spark.hashing": [("block_hash", "hashing.block_hash")],
    "crumble_spark.decode": [("decode_pdf", "decode.decode_pdf")],
    "pyarrow.parquet": [("write_table", "pyarrow.write")],
}


def self_times(spans):
    """{span_id: self time} for spans given as (id, parent_id, start, end):
    a span's duration minus the part of its interval that its direct
    children cover (overlapping children are counted once)."""
    children = defaultdict(list)
    for sid, parent, start, end in spans:
        if parent is not None:
            children[parent].append((start, end))
    out = {}
    for sid, _, start, end in spans:
        covered = 0.0
        cur_s = cur_e = None
        for cs, ce in sorted(children.get(sid, ())):
            cs, ce = max(cs, start), min(ce, end)
            if ce <= cs:
                continue
            if cur_e is None or cs > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = cs, ce
            else:
                cur_e = max(cur_e, ce)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[sid] = (end - start) - covered
    return out


def fold_spans(spans):
    """Per-name totals for closed spans given as
    (id, parent, name, wall0, wall1, cpu0, cpu1)."""
    self_wall = self_times([(s[0], s[1], s[3], s[4]) for s in spans])
    self_cpu = self_times([(s[0], s[1], s[5], s[6]) for s in spans])
    layers: dict[str, dict[str, float]] = {}
    for sid, _, name, w0, w1, c0, c1 in spans:
        agg = layers.setdefault(
            name, {"calls": 0, "wall_s": 0.0, "cpu_s": 0.0, "self_wall_s": 0.0, "self_cpu_s": 0.0}
        )
        agg["calls"] += 1
        agg["wall_s"] += w1 - w0
        agg["cpu_s"] += c1 - c0
        agg["self_wall_s"] += self_wall[sid]
        agg["self_cpu_s"] += self_cpu[sid]
    return layers


class Recorder:
    """Open-span stack plus the closed spans and counters of the current
    task; one per process."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.phase = None  # driver side: set by the benchmark
        self.task_phase = None  # worker side: the current task's job description
        self.stack: list[tuple] = []
        self.spans: list[tuple] = []
        self.counts: Counter = Counter()
        self.sets: dict[str, set] = defaultdict(set)
        self.next_id = 0

    def active(self) -> bool:
        """Inside a recorded span, in a driver phase, or in a task of a
        job that carries TRACE_PROPERTY."""
        if self.stack or self.phase is not None:
            return True
        tc = sys.modules.get("pyspark.taskcontext")
        ctx = tc.TaskContext.get() if tc is not None else None
        if ctx is None or ctx.getLocalProperty(TRACE_PROPERTY) != "1":
            return False
        self.task_phase = ctx.getLocalProperty("spark.job.description")
        return True

    def enter(self, name: str):
        self.next_id += 1
        parent = self.stack[-1][0] if self.stack else None
        self.stack.append((self.next_id, parent, name, time.perf_counter(), time.process_time()))

    def exit(self):
        sid, parent, name, w0, c0 = self.stack.pop()
        self.spans.append((sid, parent, name, w0, time.perf_counter(), c0, time.process_time()))
        if not self.stack and self.phase is not None:
            self.flush()

    def flush(self):
        phase, self.task_phase = self.phase or self.task_phase, None
        if not (self.spans or self.counts or self.sets):
            return
        rec = {
            "pid": os.getpid(),
            "phase": phase,
            "layers": fold_spans(self.spans),
            "counts": dict(self.counts),
            "sets": {k: sorted(v) for k, v in self.sets.items()},
        }
        with open(os.path.join(self.out_dir, f"{os.getpid()}.jsonl"), "a") as fh:
            fh.write(json.dumps(rec) + "\n")
        self.spans.clear()
        self.counts.clear()
        self.sets.clear()


RECORDER: Recorder | None = None


def _span(name, fn, after=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        rec = RECORDER
        if not rec.active():
            return fn(*args, **kwargs)
        rec.enter(name)
        try:
            out = fn(*args, **kwargs)
        finally:
            rec.exit()
        if after is not None:
            after(rec, out)
        return out

    wrapper.__perfbench_span__ = name
    return wrapper


def _count_blocks(rec, out):
    """encode_flat's result: tally blocks per codec id (exact counts)."""
    for row in out[0]:
        for b in row:
            rec.counts[f"codec.{b['codec_id']}"] += 1


def _count_slow_block(rec, out):
    """A choose_with_stats call made by encode_flat itself is one block
    that left the batched kernel's fast path."""
    if rec.stack and rec.stack[-1][2] == "encode.encode_flat":
        rec.counts["encode.slow_blocks"] += 1


AFTER = {"encode.encode_flat": _count_blocks, "cost.choose_with_stats": _count_slow_block}


def _wrap_iter_batches(fn):
    @functools.wraps(fn)
    def iter_batches(*args, **kwargs):
        it = fn(*args, **kwargs)
        if not RECORDER.active():
            yield from it
            return
        while True:
            RECORDER.enter("pyarrow.read")
            try:
                batch = next(it)
            except StopIteration:
                return
            finally:
                RECORDER.exit()
            yield batch

    iter_batches.__perfbench_span__ = "pyarrow.read"
    return iter_batches


def _wrap_giant_chunks(fn):
    """partitioning._encode_chunks: record which documents take the
    block-parallel giant-row path (a document's chunks can span tasks) and
    tally the chunks' blocks per codec id."""

    @functools.wraps(fn)
    def encode_chunks(batches):
        def peek():
            for pdf in batches:
                if not RECORDER.active():
                    yield pdf
                    continue
                RECORDER.sets["partitioning.giant_docs"].update(pdf["doc_id"].unique().tolist())
                RECORDER.counts["partitioning.giant_chunks"] += len(pdf)
                yield pdf

        for out in fn(peek()):
            if RECORDER.active():
                RECORDER.counts.update(f"codec.{b['codec_id']}" for b in out["block"])
            yield out

    encode_chunks.__perfbench_span__ = "partitioning.giant"
    return encode_chunks


def _wrap_worker_main(fn):
    @functools.wraps(fn)
    def main(infile, outfile):
        try:
            return fn(infile, outfile)
        finally:
            RECORDER.flush()

    return main


def _patch(module):
    name = module.__name__
    for attr, span in TARGETS.get(name, ()):
        fn = getattr(module, attr)
        if not hasattr(fn, "__perfbench_span__"):
            setattr(module, attr, _span(span, fn, AFTER.get(span)))
    if name == "pyarrow.parquet" and not hasattr(module.ParquetFile.iter_batches, "__perfbench_span__"):
        module.ParquetFile.iter_batches = _wrap_iter_batches(module.ParquetFile.iter_batches)
    if name == "crumble_spark.partitioning":
        module._encode_chunks = _wrap_giant_chunks(module._encode_chunks)
    if name == "pyspark.worker":
        module.main = _wrap_worker_main(module.main)


_PATCHED = set(TARGETS) | {"crumble_spark.partitioning", "pyspark.worker"}


class _PatchingFinder(importlib.abc.MetaPathFinder):
    """Finds the target modules with the normal path finder, then patches
    each one right after its body has run."""

    def find_spec(self, fullname, path, target=None):
        if fullname not in _PATCHED:
            return None
        spec = importlib.machinery.PathFinder.find_spec(fullname, path)
        if spec is None or spec.loader is None:
            return spec
        exec_module = spec.loader.exec_module

        def exec_and_patch(module):
            exec_module(module)
            _patch(module)

        spec.loader.exec_module = exec_and_patch
        return spec


def install(out_dir: str) -> Recorder:
    """Start recording into out_dir: patch target modules already imported
    and every target imported from now on."""
    global RECORDER
    os.makedirs(out_dir, exist_ok=True)
    RECORDER = Recorder(out_dir)
    for name in _PATCHED:
        if name in sys.modules:
            _patch(sys.modules[name])
    sys.meta_path.insert(0, _PatchingFinder())
    return RECORDER
