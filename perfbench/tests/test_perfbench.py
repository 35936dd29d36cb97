"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import evlog  # noqa: E402
import measure  # noqa: E402
import spec  # noqa: E402


def test_quartiles_match_statistics():
    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0]
    q = measure.quartiles(vals)
    q1, med, q3 = statistics.quantiles(vals, n=4)
    assert (q["n"], q["median"], q["q1"], q["q3"]) == (10, med, q1, q3)
    assert q["spread"] == pytest.approx((q3 - q1) / med)


def test_quartiles_single_value_and_empty():
    assert measure.quartiles([2.5]) == {
        "n": 1, "median": 2.5, "q1": 2.5, "q3": 2.5, "spread": 0.0
    }
    with pytest.raises(ValueError):
        measure.quartiles([])


def _host(**kw):
    tag = {"nproc": 4, "mem_total_kb": 16_000_000, "pinned": False,
           "pyspark": "4.1.2", "git_commit": "aaa", "source_digest": "x"}
    tag.update(kw)
    return tag


def test_host_tag_refuses_other_hosts():
    measure.check_same_host(_host(), _host(git_commit="bbb", source_digest="y"))
    for diff in ({"nproc": 32}, {"mem_total_kb": 125_000_000},
                 {"pinned": True}, {"pyspark": "4.0.0"}):
        with pytest.raises(measure.HostMismatch):
            measure.check_same_host(_host(), _host(**diff))


def test_host_tag_of_this_host():
    tag = measure.host_tag(ROOT)
    assert tag["nproc"] >= 1 and tag["mem_total_kb"] > 0
    assert set(measure.HOST_KEYS) <= set(tag)


def test_compare_refuses_other_hosts(tmp_path):
    import compare

    rec = {"workload": "w", "host": _host(), "metrics": {"wall_s": 1.0}}
    a, b = tmp_path / "a.jsonl", tmp_path / "b.jsonl"
    a.write_text(json.dumps(rec) + "\n")
    b.write_text(json.dumps({**rec, "host": _host(nproc=32)}) + "\n")
    with pytest.raises(measure.HostMismatch):
        compare.compare(str(a), str(b))


def test_event_log_parser_on_recorded_log():
    # events taken from a recorded Spark 4.1 log, with the task metrics set
    # to known values; job 1 is outside the traced job group
    path = os.path.join(HERE, "data", "eventlog_small.jsonl")
    traced = evlog.parse_file(path, "traced")
    assert traced["jobs"] == 1 and traced["tasks"] == 4
    assert traced["task_ms"] == 1000 + 1200 + 900 + 100
    assert traced["gc_ms"] == 30
    assert traced["shuffle_write_bytes"] == 4000
    assert traced["shuffle_read_bytes"] == 3500 + 500
    assert traced["spill_bytes"] == 64
    assert traced["python_bytes_sent"] == 600
    assert traced["python_bytes_returned"] == 450
    assert traced["python_run_ms"] == 2500
    assert traced["scan_ms"] == 75
    # longest stage (by summed task time) is stage 0: tasks 1000/1200/900
    assert traced["task_skew"] == pytest.approx(1200 / 1000)
    everything = evlog.parse_file(path)
    assert everything["jobs"] == 2 and everything["tasks"] == 5


def test_pipeline_breakdown_tiles_the_run():
    import layers

    ev = [
        ("read", "x", 0.5, 0.6, 0, 0),
        ("write", "clean_pages", 1.0, 3.0, 100, 2),
        ("write", "lineage", 3.5, 4.0, 10, 1),
        ("write", "mentions", 5.0, 6.0, 50, 1),
        ("write", "lineage", 6.2, 6.5, 10, 1),
    ]
    out = layers.pipeline_breakdown(ev, 0.0, 7.0)
    assert out["pipeline.stage_s.clean_pages"] == 4.0
    assert out["pipeline.stage_s.mentions"] == 2.5
    assert out["pipeline.lineage_s"] == pytest.approx(1.0 + 0.5)
    assert out["pipeline.outside_write_s"] == pytest.approx(1.0 + 1.0)
    assert out["pipeline.wall_coverage"] == pytest.approx(6.5 / 7.0)
    assert out["catalog.write_s"] == pytest.approx(2.0 + 0.5 + 1.0 + 0.3)
    assert out["catalog.read_s"] == pytest.approx(0.1)
    assert out["catalog.bytes_written"] == 170
    assert out["catalog.files_written"] == 5


def test_benchmark_json_lists_what_the_benchmark_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == spec.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == spec.PER_LAYER
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_replay_counts_detector_passes():
    import corpus
    import layers
    from nerpii_spark.operators.clean import clean_html_bytes

    table = corpus.pages_table(corpus.documents(5, 50))
    texts = [clean_html_bytes(h) for h in table.column("html").to_pylist()]
    out = layers.replay_detect(texts)
    assert 0.0 < out["detect.hit_ratio"] <= 1.0
    assert out["detect.mentions"] > 0
    assert set(f"detect.{d}_s" for d in spec.DETECTORS) <= set(out)


def test_resume_executes_exactly_link_and_mask(spark, tmp_path):
    import corpus
    from workload import LINK_PARTS, N_BUCKETS, restore_post_s3
    from nerpii_spark.pipeline import Pipeline, PipelineConfig

    corpus.write_pages(corpus.pages_table(corpus.documents(3, 300)),
                       str(tmp_path / "pages"), n_files=2)
    pages = spark.read.parquet(str(tmp_path / "pages"))
    root = str(tmp_path / "root")
    cfg = PipelineConfig(root=root, n_buckets=N_BUCKETS, run_id="setup")
    Pipeline(spark, cfg).run(pages, stop_after="triples")
    snapshot = str(tmp_path / "lineage-snap")
    shutil.copytree(os.path.join(root, "lineage"), snapshot)
    n_lineage = spark.read.parquet(snapshot).count()
    for i in range(2):
        restore_post_s3(root, snapshot)
        cfg = PipelineConfig(root=root, n_buckets=N_BUCKETS, run_id=f"resume-{i}")
        Pipeline(spark, cfg).run(pages)
        assert cfg.executed == list(LINK_PARTS)
        assert cfg.skipped == ["clean_pages", "mentions", "triples"]
        lineage = spark.read.parquet(os.path.join(root, "lineage"))
        assert lineage.where("run_id = 'setup'").count() == n_lineage
        assert {r.stage for r in lineage.where(f"run_id = 'resume-{i}'")
                .select("stage").distinct().collect()} == set(LINK_PARTS)
