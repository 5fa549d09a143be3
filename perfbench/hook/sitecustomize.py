"""Loaded at start-up by every Python process whose PYTHONPATH holds this
directory: the traced benchmark's Spark driver JVM passes it on to the
PySpark daemon, whose forked workers inherit the installed wrappers.
Does nothing unless PERFBENCH_SPAN_DIR names the span output directory."""

import os

if os.environ.get("PERFBENCH_SPAN_DIR"):
    import perfbench_trace

    perfbench_trace.install(os.environ["PERFBENCH_SPAN_DIR"])
