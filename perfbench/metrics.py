"""Names, units and directions of every metric the benchmark prints.

``BENCHMARK.json`` lists the same metrics; the self-test keeps the two
in step.  Every workload prints every metric: an end-to-end metric is
defined for both workloads (never 0), and a per-layer metric of a layer
the workload never calls reads 0 (the layer did no work)."""

from __future__ import annotations

import statistics

from catalog_stats import PHASES, TABLES, WRITES
from queries import HEADLINE as QUERIES

# (name, unit, better, bound as a share of the parent's median)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("throughput_per_s", "1/s", "higher", 0.25),
    ("op_s_p50", "s", "lower", 0.25),
    ("op_s_p90", "s", "lower", 0.25),
    ("peak_mem_mb", "MB", "lower", 0.15),
]

# (name, unit, better)
PER_LAYER = (
    [("wave.bootstrap_s", "s", "lower")]
    + [(f"wave.{p}_s", "s", "lower") for p in PHASES]
    + [(f"wave.write_s.{t}", "s", "lower") for t in WRITES]
    + [("wave.admit_overlapped_ratio", "ratio", "higher"),
       ("wave.backstop_files", "count", "lower"),
       ("admission.admit_pruned_s", "s", "lower"),
       ("bloom.build_s", "s", "lower"),
       ("bloom.probe_s", "s", "lower"),
       ("bloom.fpr_measured", "ratio", "lower"),
       ("fetch.urls_per_s", "1/s", "higher")]
    + [(f"imagecodec.{k}_us", "us", "lower")
       for k in ("synth", "encode", "decode", "phash")]
    + [("synth.outlinks_canon_us", "us", "lower")]
    + [(f"icelite.bytes_written.{t}", "B", "lower") for t in TABLES]
    + [(f"icelite.live_bytes.{t}", "B", "lower") for t in TABLES]
    + [("icelite.files_written", "count", "lower"),
       ("icelite.manifest_entries", "count", "lower"),
       ("icelite.written_bytes_per_url", "B", "lower"),
       ("icelite.live_bytes_per_url", "B", "lower")]
    + [(f"icelite.scan_s.{t}", "s", "lower")
       for t in ("seen", "frontier", "crawl_log")]
    + [("icelite.pruned_scan_files_ratio", "ratio", "higher"),
       ("maintenance.compact_s", "s", "lower"),
       ("maintenance.bytes_rewritten", "B", "lower"),
       ("spark.jobs_per_op", "count", "lower"),
       ("spark.executor_run_s", "s", "lower"),
       ("spark.executor_cpu_s", "s", "lower"),
       ("spark.gc_s", "s", "lower"),
       ("spark.shuffle_write_bytes", "B", "lower"),
       ("spark.spill_bytes", "B", "lower"),
       ("spark.task_skew", "ratio", "lower"),
       ("spark.python_run_s", "s", "lower"),
       ("spark.python_bytes_sent", "B", "lower"),
       ("spark.python_bytes_returned", "B", "lower")]
    + [(f"query.{q}_s", "s", "lower") for q in QUERIES]
    + [("env.steal_pct", "%", "lower"),
       ("trace.op_s_p50", "s", "lower"),
       ("trace.throughput_per_s", "1/s", "higher")]
)


def p90(xs: list[float]) -> float:
    """Nearest-rank 90th percentile (the maximum below ten samples)."""
    s = sorted(xs)
    return s[max(0, -(-9 * len(s) // 10) - 1)]


def end_to_end(setup_s: float, items: int, window_s: float,
               op_seconds: list[float], peak_kb: int,
               tail: list[float] | None = None) -> dict:
    """``op_s_p90`` is the p90 of ``tail`` (by default ``op_seconds``)."""
    return {
        "setup_s": setup_s,
        "throughput_per_s": items / window_s,
        "op_s_p50": statistics.median(op_seconds),
        "op_s_p90": p90(op_seconds if tail is None else tail),
        "peak_mem_mb": peak_kb / 1024.0,
    }


def render(values: dict, spec) -> dict:
    """The result's ``metrics`` object: every metric of ``spec`` in
    order, 0 for a layer this workload did not call."""
    return {name: {"value": float(values.get(name, 0.0)), "unit": unit}
            for name, unit, *_ in spec}
