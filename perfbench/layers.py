"""Per-layer instruments for the traced run. Every number is taken from
outside the engine: timed calls into its public functions, the perf UDF
profiler's pstats, and single-process replays of the hot-path functions."""

from __future__ import annotations

import glob
import os
import pstats
import time

from nerpii_spark.sources.catalog import TableCatalog
from spec import DETECTORS, STAGES

CODEGEN_FALLBACK = "WholeStageCodegenExec: Whole-stage codegen disabled"


def _tree_bytes_files(path: str) -> tuple[int, int]:
    size = files = 0
    for dp, _, fns in os.walk(path):
        for fn in fns:
            size += os.path.getsize(os.path.join(dp, fn))
            files += fn.endswith(".parquet")
    return size, files


class TimedCatalog(TableCatalog):
    """TableCatalog that records each write and read as
    (op, table, start, end, bytes, files); the bytes and files of a write
    are the table directory's growth, counted after `end`."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.events: list[tuple] = []

    def write(self, df, name, partition_by=(), mode="overwrite"):
        before = _tree_bytes_files(self.path(name))
        t0 = time.perf_counter()
        super().write(df, name, partition_by=partition_by, mode=mode)
        t1 = time.perf_counter()
        after = _tree_bytes_files(self.path(name))
        self.events.append(
            ("write", name, t0, t1, after[0] - before[0], after[1] - before[1])
        )

    def read(self, spark, name):
        t0 = time.perf_counter()
        df = super().read(spark, name)
        self.events.append(("read", name, t0, time.perf_counter(), 0, 0))
        return df


def pipeline_breakdown(events: list[tuple], t_start: float, t_end: float) -> dict:
    """Split one Pipeline.run into stages from the catalog's timeline.
    A stage ends when the lineage append that follows its checkpoint write
    ends; it starts where the previous stage ended. Within a stage the
    time after the checkpoint write up to that lineage append is lineage;
    the rest is outside the write (upstream counts, link's eager
    checkpoints, plan building)."""
    out = {f"pipeline.stage_s.{s}": 0.0 for s in STAGES}
    lineage = outside = 0.0
    prev_end = t_start
    pending = None  # (stage, write start, write end)
    for op, name, t0, t1, _, _ in events:
        if op != "write":
            continue
        if name != "lineage":
            pending = (name, t0, t1)
        elif pending is not None:
            stage, w0, w1 = pending
            out[f"pipeline.stage_s.{stage}"] = t1 - prev_end
            lineage += t1 - w1
            outside += w0 - prev_end
            prev_end, pending = t1, None
    writes = [e for e in events if e[0] == "write"]
    out.update({
        "pipeline.lineage_s": lineage,
        "pipeline.outside_write_s": outside,
        "pipeline.wall_coverage": (prev_end - t_start) / (t_end - t_start),
        "catalog.write_s": sum(e[3] - e[2] for e in writes),
        "catalog.read_s": sum(e[3] - e[2] for e in events if e[0] == "read"),
        "catalog.bytes_written": float(sum(e[4] for e in writes)),
        "catalog.files_written": float(sum(e[5] for e in writes)),
        "mask.s": out["pipeline.stage_s.triples_masked"],
    })
    return out


def profile_summary(prof_dir: str) -> dict:
    """Split the perf profiler's time inside the mapInPandas/pandas UDF
    closures: clean_html_bytes, scan_text (and its sentence split),
    match_rules, Arrow input to pandas, and the rest (column assembly)."""
    files = sorted(glob.glob(os.path.join(prof_dir, "*.pstats")))
    keys = ("total", "clean", "scan", "split", "match", "arrow_in")
    if not files:
        return {k: 0.0 for k in keys}
    st = pstats.Stats(files[0])
    for f in files[1:]:
        st.add(f)
    # the profiler strips directories: keys are (basename, line, name)
    def cum(module: str, name: str) -> float:
        return sum(
            v[3] for (f, _, n), v in st.stats.items() if f == module and n == name
        )

    split = sum(
        caller_v[3]
        for (f, _, n), v in st.stats.items()
        if n == "<method 'split' of 're.Pattern' objects>"
        for (cf, _, cn), caller_v in v[4].items()
        if cf == "detect.py" and cn == "scan_text"
    )
    # load_stream wraps an inner load_stream: the outer one has the
    # largest cumulative time
    arrow_in = max(
        (v[3] for (f, _, n), v in st.stats.items()
         if f == "serializers.py" and n == "load_stream"),
        default=0.0,
    )
    return {
        "total": st.total_tt,
        "clean": cum("clean.py", "clean_html_bytes"),
        "scan": cum("detect.py", "scan_text"),
        "split": split,
        "match": cum("extract.py", "match_rules"),
        "arrow_in": arrow_in,
    }


def _counting(rx, counts: dict, name: str):
    """Callable-matcher factory wrapping regex `rx`: counts the passes the
    guards let through and the passes that found a match."""
    def factory():
        def spans(seg):
            out = [m.span() for m in rx.finditer(seg)]
            counts[name][0] += 1
            counts[name][1] += bool(out)
            return out
        return spans
    return factory


def replay_detect(texts: list[str]) -> dict:
    """Single-process replay over clean `texts` through the public
    `scan_text(text, detectors)`: the per-detector split (each detector
    alone, minus the pass with no detectors, which is the sentence split
    and the guards), the hit ratio of detector passes run after the
    guards, the mention count, and the documents match_rules finds no
    triple in."""
    from nerpii_spark.operators.detect import build_detectors, compile_detectors, scan_text
    from nerpii_spark.operators.extract import match_rules

    dets = compile_detectors(build_detectors())

    def timed(detectors) -> float:
        t0 = time.perf_counter()
        for t in texts:
            scan_text(t, detectors)
        return time.perf_counter() - t0

    base = timed([])
    out = {f"detect.{n}_s": 0.0 for n in DETECTORS}
    for d in dets:
        out[f"detect.{d[3]}_s"] = max(0.0, timed([d]) - base)
    # scan_text caches callable matchers per process by detector name, so
    # the counting detectors get names of their own
    tag = f"@count{time.perf_counter_ns()}"
    counts = {d[3] + tag: [0, 0] for d in dets}
    counting = [(e, _counting(rx, counts, n + tag), s, n + tag, luhn, g)
                for e, rx, s, n, luhn, g in dets]
    mentions = [scan_text(t, counting) for t in texts]
    passes = sum(c[0] for c in counts.values())
    out.update({
        "detect.mentions": float(sum(map(len, mentions))),
        "detect.hit_ratio": sum(c[1] for c in counts.values()) / passes if passes else 0.0,
        "extract.zero_triple_docs": float(sum(not match_rules(m) for m in mentions)),
    })
    return out


def link_split(mentions) -> dict:
    """Time link's public sub-functions by materializing each in turn, and
    a full `link_entities` (which also canonicalizes)."""
    from nerpii_spark.operators import link as L

    def timed(f):
        t0 = time.perf_counter()
        v = f()
        return v, time.perf_counter() - t0

    nodes, nodes_s = timed(lambda: L.surface_nodes(mentions).localCheckpoint(eager=True))
    pairs, pairs_s = timed(lambda: L.lsh_candidate_pairs(nodes).localCheckpoint(eager=True))
    edges, score_s = timed(lambda: L.score_pairs(pairs, nodes).localCheckpoint(eager=True))
    _, cc_s = timed(lambda: L.connected_components(nodes, edges).count())
    _, total_s = timed(lambda: L.link_entities(mentions).localCheckpoint(eager=True))
    n_pairs, n_edges = pairs.count(), edges.count()
    return {
        "link.nodes_s": nodes_s,
        "link.lsh_pairs_s": pairs_s,
        "link.score_s": score_s,
        "link.cc_s": cc_s,
        "link.total_s": total_s,
        "link.surfaces": float(nodes.count()),
        "link.candidate_pairs": float(n_pairs),
        "link.edges": float(n_edges),
        "link.pair_yield": n_edges / n_pairs if n_pairs else 0.0,
    }


def count_codegen_fallbacks(stderr_path: str, offset: int) -> int:
    """Whole-stage codegen fallbacks logged to the driver's stderr since
    byte `offset`."""
    with open(stderr_path, "rb") as f:
        f.seek(offset)
        return f.read().decode("utf-8", "replace").count(CODEGEN_FALLBACK)
