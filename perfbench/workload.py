"""One benchmark run of one workload in one Spark session.

Set-up (untimed as a run, reported as ``setup_s``), then timed runs for
``--seconds``, each followed by an output check outside its timed window;
or, with ``--trace 1``, one run with the perf UDF profiler, the event log
and a timing catalog, followed by the per-layer replays. Started by
``run.py``, which owns the run directory, samples RSS and prints the
result; this process writes ``result.json`` into the run directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import time

import corpus
import spec

N_DOCS = {"fused_extract": 20_000, "pipeline_cold": 5_000, "pipeline_resume": 5_000}
# the pipeline's partition count; sized to the small corpus so that the
# per-file cost of a checkpoint write does not swamp the data work
N_BUCKETS = 4
MATERIALIZE_REPS = 3
WARM_PASSES = 3
REPLAY_DOCS = 10_000
TRACED_GROUP = "perfbench-traced"
EXTRAS_GROUP = "perfbench-extras"
LINK_PARTS = ("entities", "triples_masked")


def fingerprint(df) -> tuple:
    """(rows, sum of row hashes mod 2^31-1, xor of row hashes) over
    (doc_id, subj, pred, obj): equal fingerprints mean equal multisets."""
    from pyspark.sql import functions as F

    h = F.xxhash64("doc_id", "subj", "pred", "obj")
    r = df.agg(
        F.count("*"), F.sum(F.pmod(h, F.lit(2147483647))), F.bit_xor(h)
    ).first()
    return tuple(r)


def precision_recall(spark, out_df, golden) -> tuple[float, float]:
    """Triple P/R against the golden set: q_triple_eval's distinct join."""
    keys = ["doc_id", "subj", "pred", "obj"]
    t = out_df.select(*keys).distinct()
    g = spark.createDataFrame(golden).select(*keys).distinct()
    n_t, n_g, n_c = t.count(), g.count(), t.join(g, keys).count()
    return (n_c / n_t if n_t else 0.0, n_c / n_g if n_g else 0.0)


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path) for f in fs
    )


def restore_post_s3(root: str, lineage_snapshot: str) -> None:
    """Put a pipeline root back in the state `run(stop_after="triples")`
    left it in: drop the S4/S5 checkpoints and restore the lineage."""
    for name in (*LINK_PARTS, "lineage"):
        shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    shutil.copytree(lineage_snapshot, os.path.join(root, "lineage"))


class Run:
    """The outcome of one timed run and its output check."""

    def __init__(self, wall: float, rows: int, ok: bool, precision: float,
                 recall: float, checkpoint_bytes: int = 0):
        self.wall, self.rows, self.ok = wall, rows, ok
        self.precision, self.recall = precision, recall
        self.checkpoint_bytes = checkpoint_bytes


class FusedExtract:
    """pages -> extract_triples_inline -> row count and fingerprint."""

    pipeline = False
    one_run = False

    def __init__(self, spark, run_dir: str, pages, docs):
        self.spark, self.run_dir, self.pages, self.docs = spark, run_dir, pages, docs

    def warm_up(self) -> None:
        # one pass starts the Python workers; JIT keeps improving the
        # next few, which are cheap at this size
        for _ in range(WARM_PASSES):
            self.execute(-1)

    def load_goldens(self) -> None:
        self.golden = corpus.golden_triples(self.docs)
        self.golden_fp = fingerprint(self.spark.createDataFrame(self.golden))

    def execute(self, i: int, catalog_cls=None) -> tuple[float, dict]:
        from nerpii_spark.operators.extract import extract_triples_inline

        t0 = time.perf_counter()
        fp = fingerprint(extract_triples_inline(self.pages))
        return time.perf_counter() - t0, {"fp": fp}

    def verify(self, i: int, wall: float, out: dict) -> Run:
        from nerpii_spark.operators.extract import extract_triples_inline

        fp = out["fp"]
        if fp == self.golden_fp:
            return Run(wall, fp[0], True, 1.0, 1.0)
        p, r = precision_recall(
            self.spark, extract_triples_inline(self.pages), self.golden
        )
        return Run(wall, fp[0], False, p, r)

    def cleanup(self, i: int) -> None:
        pass


class PipelineCold:
    """The first Pipeline.run S1 -> S5 of a fresh session, into a fresh
    root: what a batch job submitted on its own pays. A session keeps
    getting faster for several runs after the first (JIT), so a second
    run would measure a different, moving state; one run per process."""

    pipeline = True
    one_run = True
    expect_executed = list(spec.STAGES)

    def __init__(self, spark, run_dir: str, pages, docs):
        self.spark, self.run_dir, self.pages, self.docs = spark, run_dir, pages, docs

    def root(self, i: int) -> str:
        return os.path.join(self.run_dir, f"pipe-{i}")

    def warm_up(self) -> None:
        pass

    def load_goldens(self) -> None:
        self.golden = corpus.golden_triples(self.docs)
        masked = corpus.golden_masked_triples(self.golden)
        self.golden_fp = fingerprint(self.spark.createDataFrame(self.golden))
        self.golden_masked_fp = fingerprint(self.spark.createDataFrame(masked))
        ents = corpus.golden_entities(self.docs)
        self.golden_entities = sorted(
            ents[["entity_type", "canonical", "n_surfaces", "n_mentions"]]
            .itertuples(index=False, name=None)
        )

    def _config(self, i: int):
        from nerpii_spark.pipeline import PipelineConfig

        return PipelineConfig(root=self.root(i), n_buckets=N_BUCKETS, run_id=f"run-{i}")

    def execute(self, i: int, catalog_cls=None) -> tuple[float, dict]:
        from nerpii_spark.pipeline import Pipeline
        from nerpii_spark.sources.catalog import TableCatalog

        cfg = self._config(i)
        catalog = (catalog_cls or TableCatalog)(root=cfg.root)
        t0 = time.perf_counter()
        tables = Pipeline(self.spark, cfg, catalog=catalog).run(self.pages)
        wall = time.perf_counter() - t0
        return wall, {"cfg": cfg, "catalog": catalog, "tables": tables}

    def verify(self, i: int, wall: float, out: dict) -> Run:
        cfg, tables = out["cfg"], out["tables"]
        fp = fingerprint(tables["triples"])
        masked_fp = fingerprint(tables["triples_masked"])
        ents = sorted(
            tuple(r) for r in tables["entities"]
            .select("entity_type", "canonical", "n_surfaces", "n_mentions")
            .collect()
        )
        if fp == self.golden_fp:
            p = r = 1.0
        else:
            p, r = precision_recall(self.spark, tables["triples"], self.golden)
        ok = (
            fp == self.golden_fp
            and masked_fp == self.golden_masked_fp
            and ents == self.golden_entities
            and cfg.executed == self.expect_executed
        )
        return Run(wall, masked_fp[0], ok, p, r,
                   checkpoint_bytes=_tree_bytes(cfg.root))

    def cleanup(self, i: int) -> None:
        shutil.rmtree(self.root(i), ignore_errors=True)


class PipelineResume(PipelineCold):
    """Resume after a stop at S3: each run restores the post-S3 state
    and runs S4 link and S5 mask over the checkpoints."""

    one_run = False
    expect_executed = list(LINK_PARTS)

    def root(self, i: int) -> str:
        return os.path.join(self.run_dir, "resume")

    def warm_up(self) -> None:
        from nerpii_spark.pipeline import Pipeline, PipelineConfig

        root = self.root(-1)
        cfg = PipelineConfig(root=root, n_buckets=N_BUCKETS, run_id="setup")
        Pipeline(self.spark, cfg).run(self.pages, stop_after="triples")
        self.snapshot = os.path.join(self.run_dir, "lineage-post-s3")
        shutil.copytree(os.path.join(root, "lineage"), self.snapshot)
        self.execute(-1)

    def _config(self, i: int):
        from nerpii_spark.pipeline import PipelineConfig

        restore_post_s3(self.root(i), self.snapshot)
        return PipelineConfig(root=self.root(i), n_buckets=N_BUCKETS, run_id=f"resume-{i}")

    def cleanup(self, i: int) -> None:
        pass


WORKLOADS = {
    "fused_extract": FusedExtract,
    "pipeline_cold": PipelineCold,
    "pipeline_resume": PipelineResume,
}


def trace_conf(run_dir: str) -> dict:
    """Session conf of a traced run: a plain-JSON event log in the run dir."""
    os.makedirs(os.path.join(run_dir, "events"), exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": os.path.join(run_dir, "events"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def traced_run(spark, wl, i: int, table, pages, stderr_path: str,
               run_dir: str) -> tuple[Run, dict]:
    """One run with the profiler, the event log's job group and a timing
    catalog, then the per-layer extras. Stops the session. run.py sets
    `trace.overhead_s` from an untraced run in another process."""
    import layers
    from pyspark.sql import functions as F

    import evlog
    from nerpii_spark.operators.clean import clean_html_bytes, clean_pages

    out = {k: 0.0 for k in spec.PER_LAYER}
    sc = spark.sparkContext
    sc.setJobGroup(TRACED_GROUP, "traced run")
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    err_offset = os.path.getsize(stderr_path)
    t0 = time.perf_counter()
    wall, res = wl.execute(i, catalog_cls=layers.TimedCatalog)
    t_end = t0 + wall
    out["mask.codegen_fallbacks"] = float(
        layers.count_codegen_fallbacks(stderr_path, err_offset)
    )
    spark.conf.unset("spark.sql.pyspark.udf.profiler")
    prof_dir = os.path.join(run_dir, "profile")
    spark.profile.dump(prof_dir, type="perf")

    sc.setJobGroup(EXTRAS_GROUP, "per-layer extras")
    run = wl.verify(i, wall, res)
    out["trace.wall_s"] = run.wall
    out["extract.triples"] = float(run.rows)
    if wl.pipeline:
        catalog = res["catalog"]
        out.update(layers.pipeline_breakdown(catalog.events, t0, t_end))
        out["pipeline.checkpoint_mb"] = run.checkpoint_bytes / 1e6
        mentions = catalog.read(spark, "mentions")
        out.update(layers.link_split(mentions))
        wl.cleanup(i)
    clean = clean_pages(pages).agg(
        F.count("*"), F.sum((F.coalesce(F.col("text"), F.lit("")) == "").cast("int"))
    ).first()
    out["clean.docs"], out["clean.empty_out"] = float(clean[0]), float(clean[1])
    spark.stop()

    (log,) = os.listdir(os.path.join(run_dir, "events"))
    ev = evlog.parse_file(os.path.join(run_dir, "events", log), TRACED_GROUP)
    prof = layers.profile_summary(prof_dir)
    rest = prof["total"] - prof["clean"] - prof["scan"] - prof["match"] - prof["arrow_in"]
    out.update({
        "clean.self_s": prof["clean"],
        "detect.self_s": prof["scan"],
        "detect.split_s": prof["split"],
        "extract.match_rules_s": prof["match"],
        "extract.arrow_in_s": prof["arrow_in"],
        "extract.assemble_s": max(0.0, rest),
        "spark.jobs": float(ev["jobs"]),
        "spark.task_s": ev["task_ms"] / 1e3,
        "spark.gc_s": ev["gc_ms"] / 1e3,
        "spark.scan_s": ev["scan_ms"] / 1e3,
        "spark.python_run_s": ev["python_run_ms"] / 1e3,
        "spark.python_profiled_s": prof["total"],
        "spark.unattributed_s": (ev["task_ms"] - ev["scan_ms"]) / 1e3 - prof["total"],
        "spark.shuffle_write_bytes": float(ev["shuffle_write_bytes"]),
        "spark.shuffle_read_bytes": float(ev["shuffle_read_bytes"]),
        "spark.spill_bytes": float(ev["spill_bytes"]),
        "spark.python_bytes_sent": float(ev["python_bytes_sent"]),
        "spark.python_bytes_returned": float(ev["python_bytes_returned"]),
        "spark.task_skew": ev["task_skew"],
    })
    # detection ran in the traced run only if the profiler saw scan_text;
    # otherwise its replay would report work the workload never did
    if prof["scan"] > 0:
        htmls = table.column("html").to_pylist()[:REPLAY_DOCS]
        texts = [clean_html_bytes(h) for h in htmls]
        out.update(layers.replay_detect(texts))
    return run, out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--stderr-path", required=True)
    args = ap.parse_args(argv)
    run_dir = args.run_dir

    from nerpii_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf=trace_conf(run_dir) if args.trace else None,
    )
    session_s = time.perf_counter() - t0

    docs = corpus.documents(args.seed, N_DOCS[args.workload])
    mats = []
    for k in range(MATERIALIZE_REPS):
        t0 = time.perf_counter()
        table = corpus.pages_table(docs)
        corpus.write_pages(table, os.path.join(run_dir, f"pages-{k}"))
        mats.append(time.perf_counter() - t0)
    pages = spark.read.parquet(os.path.join(run_dir, "pages-0"))
    wl = WORKLOADS[args.workload](spark, run_dir, pages, docs)
    t0 = time.perf_counter()
    wl.warm_up()
    warm_s = time.perf_counter() - t0
    setup_s = session_s + statistics.median(mats) + warm_s
    wl.load_goldens()

    result = {
        "workload": args.workload,
        "seed": args.seed,
        "setup": {"session_s": session_s, "materialize_s": mats, "warm_up_s": warm_s},
    }
    if args.trace:
        traced, result["metrics"] = traced_run(
            spark, wl, 0, table, pages, args.stderr_path, run_dir
        )
        result.update(attempted=1, failed=int(not traced.ok), walls=[traced.wall])
    else:
        runs: list[Run] = []
        # run.py samples peak RSS while this marker exists
        marker = os.path.join(run_dir, spec.TIMED_MARKER)
        open(marker, "w").close()
        deadline = time.perf_counter() + args.seconds
        while not runs or (not wl.one_run and time.perf_counter() < deadline):
            i = len(runs)
            runs.append(wl.verify(i, *wl.execute(i)))
            wl.cleanup(i)
        os.remove(marker)
        spark.stop()
        good = [r for r in runs if r.ok] or runs
        result.update(
            attempted=len(runs),
            failed=sum(not r.ok for r in runs),
            walls=[r.wall for r in runs],
            metrics={
                "wall_s": statistics.median(r.wall for r in good),
                "triples_per_s": statistics.median(r.rows / r.wall for r in good),
                "setup_s": setup_s,
                "triple_precision": min(r.precision for r in runs),
                "triple_recall": min(r.recall for r in runs),
            },
        )
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
