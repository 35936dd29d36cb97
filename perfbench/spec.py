"""The benchmark's metric names and units, as BENCHMARK.json lists them."""

from __future__ import annotations

# workload.py holds this file in its run directory during the timed runs;
# run.py samples peak RSS only then
TIMED_MARKER = "timed-runs"

STAGES = ("clean_pages", "mentions", "triples", "entities", "triples_masked")
DETECTORS = (
    "regex_email", "regex_url", "regex_phone", "regex_ssn", "regex_luhn",
    "regex_zip", "denylist_address", "gazetteer_person", "gazetteer_location",
    "pattern_org",
)

# name -> unit, for the untraced runs (--trace 0)
END_TO_END = {
    "wall_s": "s",
    "triples_per_s": "1/s",
    "setup_s": "s",
    "rss_p90_mb": "MB",
    "triple_precision": "ratio",
    "triple_recall": "ratio",
}

# name -> unit, for the traced run (--trace 1); a layer that a workload
# does not execute reads 0
PER_LAYER = {
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
    "catalog.write_s": "s",
    "catalog.read_s": "s",
    "catalog.bytes_written": "bytes",
    "catalog.files_written": "count",
    **{f"pipeline.stage_s.{s}": "s" for s in STAGES},
    "pipeline.lineage_s": "s",
    "pipeline.outside_write_s": "s",
    "pipeline.wall_coverage": "ratio",
    "pipeline.checkpoint_mb": "MB",
    "clean.self_s": "s",
    "clean.docs": "count",
    "clean.empty_out": "count",
    "detect.self_s": "s",
    "detect.split_s": "s",
    **{f"detect.{d}_s": "s" for d in DETECTORS},
    "detect.mentions": "count",
    "detect.hit_ratio": "ratio",
    "extract.match_rules_s": "s",
    "extract.arrow_in_s": "s",
    "extract.assemble_s": "s",
    "extract.triples": "count",
    "extract.zero_triple_docs": "count",
    "link.nodes_s": "s",
    "link.lsh_pairs_s": "s",
    "link.score_s": "s",
    "link.cc_s": "s",
    "link.total_s": "s",
    "link.surfaces": "count",
    "link.candidate_pairs": "count",
    "link.edges": "count",
    "link.pair_yield": "ratio",
    "mask.s": "s",
    "mask.codegen_fallbacks": "count",
    "spark.jobs": "count",
    "spark.task_s": "s",
    "spark.gc_s": "s",
    "spark.scan_s": "s",
    "spark.python_run_s": "s",
    "spark.python_profiled_s": "s",
    "spark.unattributed_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.python_bytes_sent": "bytes",
    "spark.python_bytes_returned": "bytes",
    "spark.task_skew": "ratio",
}
