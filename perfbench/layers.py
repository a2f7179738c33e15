"""Per-layer metric catalogue: unit, direction, owning module, and the
end-to-end metric and workload each one should move.

``calls`` names the workloads whose traced pass or probes call the
layer; every other workload reports 0 for it and the layer table marks
the row as not called.
"""

from __future__ import annotations

ALL = ("extract_commit", "assemble_skewed", "dedup_docs")
EX, AS = ("extract_commit",), ("assemble_skewed",)
# the dedup layers run in dedup_docs, which assemble_skewed's traced run
# runs as a companion (dedup_docs is not a timed workload)
DD = ("assemble_skewed", "dedup_docs")

_FLAT_EX = "rows_per_s @ extract_commit; flat @ assemble_skewed, dedup_docs"
_AS = "rows_per_s @ assemble_skewed; flat @ extract_commit"
_DD = "rows_per_s @ dedup_docs (companion, untimed)"

# (name, unit, better, layer, moves, calls)
LAYER_METRICS: list[tuple[str, str, str, str, str, tuple[str, ...]]] = [
    ("session.start_s", "s", "lower", "session", "setup_s @ all", ALL),
    ("warmup.passes", "count", "lower", "session", "setup_s @ all", ALL),
    ("warmup.s", "s", "lower", "session", "setup_s @ all", ALL),
    ("proc.cpu_s", "s", "lower", "process", "rows_per_s @ all", ALL),
    ("proc.cpu_util", "ratio", "higher", "process", "rows_per_s @ all", ALL),
    ("proc.peak_rss_mib", "MiB", "lower", "process", "diagnostic only", ALL),
    ("spark.jobs", "count", "lower", "spark", "rows_per_s @ dedup_docs (fixed cost)", ALL),
    ("spark.stages", "count", "lower", "spark", "rows_per_s @ all", ALL),
    ("spark.tasks", "count", "lower", "spark", "rows_per_s @ dedup_docs (fixed cost)", ALL),
    ("spark.gc_s", "s", "lower", "spark", "rows_per_s @ all", ALL),
    ("spark.shuffle_mib", "MiB", "lower", "spark", "rows_per_s @ all", ALL),
    ("spark.spill_mib", "MiB", "lower", "spark", "rows_per_s @ all", ALL),
    ("spark.task_skew", "ratio", "lower", "spark", "rows_per_s @ all", ALL),
    ("spark.failed_tasks", "count", "lower", "spark", "rows_per_s @ all", ALL),
    ("scan.splits_per_core", "ratio", "higher", "sources.io scan", "rows_per_s @ extract_commit", ALL),
    ("scan.rows", "count", "lower", "sources.io scan", "rows_per_s @ extract_commit", ALL),
    ("scan.mib", "MiB", "lower", "sources.io scan", "rows_per_s @ extract_commit", ALL),
    ("extract.noop_s", "s", "lower", "operators.extract", _FLAT_EX, EX),
    ("extract.py_in_mib", "MiB", "lower", "operators.extract", _FLAT_EX, EX),
    ("extract.py_out_mib", "MiB", "lower", "operators.extract", _FLAT_EX, EX),
    *[
        (f"fn.{fn}.{what}", unit, "lower", "functions", _FLAT_EX, EX)
        for fn in ("strip_boilerplate", "span_text_stats", "rewrite_markdown_links",
                   "extract_mock_document", "parse_base64_payload", "classify_payload")
        for what, unit in (("us", "us"), ("calls", "count"))
    ],
    ("lineage.commit_s", "s", "lower", "plans.lineage", "rows_per_s @ extract_commit", EX),
    ("lineage.pending_s", "s", "lower", "plans.lineage", "rows_per_s @ extract_commit", EX),
    ("lineage.fingerprint_s", "s", "lower", "plans.lineage", "rows_per_s @ extract_commit", EX),
    ("lineage.files", "count", "lower", "plans.lineage", "rows_per_s @ extract_commit", EX),
    ("lineage.write_mib", "MiB", "lower", "plans.lineage", "rows_per_s @ extract_commit", EX),
    ("assemble.noop_s", "s", "lower", "operators.assemble", _AS, AS),
    ("assemble.heavy_convs", "count", "lower", "operators.assemble", _AS, AS),
    ("assemble.shuffle_mib", "MiB", "lower", "operators.assemble", _AS, AS),
    ("assemble.reduce_skew", "ratio", "lower", "operators.assemble", _AS, AS),
    ("sink.markdown_s", "s", "lower", "sources.io sink", "rows_per_s @ assemble_skewed", AS),
    ("sink.mib", "MiB", "lower", "sources.io sink", "rows_per_s @ assemble_skewed", AS),
    ("lsh.signatures_s", "s", "lower", "operators.corpus", _DD, DD),
    ("lsh.pairs_s", "s", "lower", "operators.corpus", _DD, DD),
    ("lsh.candidates", "count", "lower", "operators.corpus", _DD, DD),
    ("lsh.verified", "count", "higher", "operators.corpus", _DD, DD),
    ("lsh.useful_ratio", "ratio", "higher", "operators.corpus", _DD, DD),
    ("lsh.buckets_dropped", "count", "lower", "operators.corpus", _DD, DD),
    ("dedup.exact_pairs", "count", "higher", "jobs.dedup_job", _DD, DD),
    ("dedup.verify_s", "s", "lower", "jobs.dedup_job", _DD, DD),
    ("cc.iterations", "count", "lower", "operators.dedup_cluster", _DD, DD),
    ("cc.jobs", "count", "lower", "operators.dedup_cluster", _DD, DD),
    ("cc.s", "s", "lower", "operators.dedup_cluster", _DD, DD),
    ("trace.overhead_share", "ratio", "lower", "tracing", "none (traced pass only)", ALL),
    ("host.cpu_probe_ms_before", "ms", "lower", "host", "explains noise on all", ALL),
    ("host.cpu_probe_ms_after", "ms", "lower", "host", "explains noise on all", ALL),
    ("host.steal_share", "ratio", "lower", "host", "explains noise on all", ALL),
    ("host.load1_before", "count", "lower", "host", "explains noise on all", ALL),
    ("host.load1_after", "count", "lower", "host", "explains noise on all", ALL),
]

UNITS = {m[0]: m[1] for m in LAYER_METRICS}


def layer_table(workload: str, values: dict) -> str:
    """One row per metric: value, unit, layer, what it should move."""
    lines = [f"{'metric':34} {'value':>14} {'unit':6} {'layer':24} moves"]
    for name, unit, _, layer, moves, calls in LAYER_METRICS:
        mark = "" if workload in calls else "  [not called]"
        lines.append(f"{name:34} {values.get(name, 0):>14.6g} {unit:6} "
                     f"{layer:24} {moves}{mark}")
    return "\n".join(lines)
