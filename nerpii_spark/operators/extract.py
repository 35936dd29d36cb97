"""S3 — relation extraction: mentions -> (subj, pred, obj) triples.

Sentence-window pattern grammar (north_rule "dependency-pattern relation
extraction"). Implemented as ONE equi-join: mentions self-joined on the
sentence key (doc_id, sid) with subject/object type pre-filters, the
pair constraint subj.end < obj.begin, and the rule table folded into a
single CASE expression. The whole plan is JVM-side whole-stage codegen —
no Python, no collect_list array materialization, no interpreted
higher-order functions (an earlier HOF formulation was measured to
ANTI-scale 8->32 cores on interpreted lambda eval; the join scales).

The join key (doc_id, sid) is high-cardinality and uniform (a sentence
holds <= ~6 mentions), so no skew handling is needed here; the Zipf-hot
key is `pred`, handled downstream (triples_by_pred_salted).

Rules (subject entity, sentence-marker flag, object entity, predicate):
  PERSON  --" works at "--> ORGANIZATION  => works_at
  ORG     --" in "-------> LOCATION       => located_in
  PERSON  --" lives at "-> LOCATION       => lives_in
  PERSON  ---------------> EMAIL_ADDRESS  => has_email   (same sentence)
  PERSON  ---------------> PHONE_NUMBER   => has_phone   (same sentence)

Subject must precede object in the sentence (subj.end < obj.begin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RULES = [
    # (subj_type, marker_col or None, obj_type, predicate)
    ("PERSON", "m_works", "ORGANIZATION", "works_at"),
    ("ORGANIZATION", "m_in", "LOCATION", "located_in"),
    ("PERSON", "m_lives", "LOCATION", "lives_in"),
    ("PERSON", None, "EMAIL_ADDRESS", "has_email"),
    ("PERSON", None, "PHONE_NUMBER", "has_phone"),
]

SUBJ_TYPES = sorted({r[0] for r in RULES})
OBJ_TYPES = sorted({r[2] for r in RULES})


def _pred_expr() -> F.Column:
    """Fold RULES into one CASE over (s_type, o_type, sentence markers).
    Each (subj_type, obj_type) pair maps to at most one rule."""
    expr = F.lit(None).cast("string")
    for subj_t, marker, obj_t, pred in reversed(RULES):
        cond = (F.col("s_type") == subj_t) & (F.col("o_type") == obj_t)
        if marker:
            cond = cond & F.col(marker)
        expr = F.when(cond, F.lit(pred)).otherwise(expr)
    return expr


def extract_triples(
    mentions: DataFrame,
    id_cols: tuple[str, ...] = ("doc_id", "url", "lang"),
    doc_key: str = "doc_id",
) -> DataFrame:
    """mentions -> triples(id cols..., subj, pred, obj, score).
    The sentence join key is (`doc_key`, sid); `doc_key` must exist (a
    clear error here beats an AnalysisException from the join)."""
    if doc_key not in mentions.columns:
        raise ValueError(
            f"extract_triples: mentions must carry the document key column"
            f" {doc_key!r} (the sentence join key is ({doc_key!r}, 'sid'))"
        )
    id_cols = [c for c in id_cols if c in mentions.columns]
    if doc_key not in id_cols:
        id_cols = [doc_key, *id_cols]
    a = mentions.where(F.col("entity_type").isin(SUBJ_TYPES)).select(
        *id_cols,
        F.col("sid"),
        F.col("entity_type").alias("s_type"),
        F.col("mention").alias("subj"),
        F.col("end").alias("s_end"),
        F.col("score").alias("s_score"),
    )
    # sentence markers (m_*) are constant within a sentence, so reading them
    # from the object side is equivalent to a group-level max
    b = mentions.where(F.col("entity_type").isin(OBJ_TYPES)).select(
        F.col(doc_key).alias("b_doc_key"),
        F.col("sid").alias("b_sid"),
        F.col("entity_type").alias("o_type"),
        F.col("mention").alias("obj"),
        F.col("begin").alias("o_begin"),
        F.col("score").alias("o_score"),
        "m_works",
        "m_lives",
        "m_in",
    )
    joined = a.join(
        b,
        (a[doc_key] == b.b_doc_key) & (a.sid == b.b_sid) & (a.s_end < b.o_begin),
        "inner",
    )
    return (
        joined.withColumn("pred", _pred_expr())
        .where(F.col("pred").isNotNull())
        .select(
            *id_cols,
            "subj",
            "pred",
            "obj",
            (F.col("s_score") * F.col("o_score")).alias("score"),
        )
    )


def match_rules(mentions: list[tuple]) -> list[tuple]:
    """Python mirror of the join+CASE semantics for the fused zero-shuffle
    path: `mentions` are scan_text tuples (sid, entity_type, mention, begin,
    end, score, detector, m_works, m_lives, m_in) of ONE document; returns
    (subj, pred, obj, score) tuples. Same output as
    extract_triples(detect_mentions(df)) — asserted by tests."""
    out = []
    by_sid: dict[int, list[tuple]] = {}
    for mt in mentions:
        by_sid.setdefault(mt[0], []).append(mt)
    for ms in by_sid.values():
        markers = {"m_works": ms[0][7], "m_lives": ms[0][8], "m_in": ms[0][9]}
        for subj_t, marker, obj_t, pred in RULES:
            if marker and not markers[marker]:
                continue
            for a in ms:
                if a[1] != subj_t:
                    continue
                for b in ms:
                    if b[1] == obj_t and a[4] < b[3]:
                        out.append((a[2], pred, b[2], a[5] * b[5]))
    return out


def extract_triples_inline(
    pages: DataFrame, id_cols: tuple[str, ...] = ("doc_id", "url", "lang")
) -> DataFrame:
    """Fused S1+S2+S3: pages -> triples in ONE Python pass, ZERO shuffle.

    Mention pairing is sentence-local — every candidate pair lives inside a
    single input row — so running cleaning, detection and rule matching in
    the same Arrow-batched mapInArrow task avoids (a) the self-join's
    double computation of the detector stage and its shuffle, and (b) a
    second Arrow round trip for a separate clean UDF stage (when the input
    still carries `html`, the byte-identical clean function is applied
    in-closure). This is the headline throughput path (bench.py); the
    join-based extract_triples() remains for composing over a checkpointed
    `mentions` table.
    """
    # late imports: detect/clean must not import extract
    import pyarrow as pa

    from .clean import clean_html_bytes
    from .detect import scan_text

    id_cols = [c for c in id_cols if c in pages.columns]
    schema = (
        ", ".join(
            f"{c} {pages.schema[c].dataType.simpleString()}" for c in id_cols
        )
        + ", subj string, pred string, obj string, score double"
    )
    has_html = "html" in pages.columns
    in_cols = [*id_cols, *(["html"] if has_html else []), "text"]

    out_cols = ["subj", "pred", "obj", "score"]
    out_types = [pa.string(), pa.string(), pa.string(), pa.float64()]

    def run(batches):
        # columnar assembly in Arrow: only html/text become Python
        # objects; the id columns of the rows that yield triples are
        # gathered with one `take` (this closure is the hottest Python in
        # the engine)
        for batch in batches:
            rows: list[int] = []
            cols: list[list] = [[] for _ in out_cols]
            htmls = (
                batch.column("html").to_pylist() if has_html
                else [None] * batch.num_rows
            )
            texts = batch.column("text").to_pylist()
            for i, (html, text) in enumerate(zip(htmls, texts)):
                if html is not None:
                    text = clean_html_bytes(html)
                if not text:
                    continue
                trs = match_rules(scan_text(text))
                if not trs:
                    continue
                rows.extend([i] * len(trs))
                for j, col in enumerate(cols):
                    for tr in trs:
                        col.append(tr[j])
            ids = batch.select(id_cols).take(pa.array(rows, pa.int64()))
            yield pa.RecordBatch.from_arrays(
                [*ids.columns, *map(pa.array, cols, out_types)],
                names=[*id_cols, *out_cols],
            )

    return pages.select(*in_cols).mapInArrow(run, schema=schema)


def triples_by_pred_salted(triples: DataFrame, n_salt: int = 16) -> DataFrame:
    """Skew-aware per-predicate stats: (pred, n_triples, n_subjs).

    `pred` is Zipf-hot (works_at dominates). For the plain count alone,
    map-side partial aggregation already collapses the hot key (a salt
    would be pure overhead); the salt earns its keep for the DISTINCT
    aggregation: subjects shard by hash(subj) % n_salt, so each shard's
    distinct-subject set is DISJOINT and per-shard exact counts sum to
    the exact global count — the hot predicate's distinct work spreads
    over n_salt reducers instead of concentrating on one. Both stats
    ride the same two-level plan."""
    salted = triples.withColumn(
        "salt", F.pmod(F.xxhash64("subj"), F.lit(n_salt)).cast("int")
    )
    partial = salted.groupBy("pred", "salt").agg(
        F.count("*").alias("c"),
        F.count_distinct("subj").alias("d"),
    )
    return partial.groupBy("pred").agg(
        F.sum("c").alias("n_triples"),
        F.sum("d").cast("bigint").alias("n_subjs"),
    )


def topk_objs_per_pred(
    triples: DataFrame, k: int = 3, n_salt: int = 32
) -> DataFrame:
    """Exact top-k objects per predicate: (pred, obj, n, rk), skew-safe.

    A single row_number window partitioned by `pred` alone puts EVERY
    distinct (pred, obj) count of a Zipf-hot predicate on one reducer —
    fine at 10^3 objects, a hotspot at 10^9. Two-phase instead: a
    pre-window partitioned by (pred, hash(obj) % n_salt) keeps only each
    shard's local top-k (any global top-k row beats the same rows plus
    more within its own shard, so it always survives — the union of
    shard top-ks is a superset of the global top-k), then the final
    pred-only window ranks at most k * n_salt survivors per predicate.
    Ordering (n desc, obj asc) is total, so the result is deterministic
    and identical to the single-window form."""
    from pyspark.sql import Window as W

    counts = triples.groupBy("pred", "obj").agg(F.count("*").alias("n"))
    w_shard = W.partitionBy(
        "pred", F.pmod(F.xxhash64("obj"), F.lit(n_salt))
    ).orderBy(F.desc("n"), F.asc("obj"))
    survivors = (
        counts.withColumn("prk", F.row_number().over(w_shard))
        .where(F.col("prk") <= k)
        .drop("prk")
    )
    w = W.partitionBy("pred").orderBy(F.desc("n"), F.asc("obj"))
    return (
        survivors.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
    )


def entity_degree(triples: DataFrame) -> DataFrame:
    """KG degree stats per node (subjects and objects as one node set):
    (node, n_edges, n_neighbors). n_edges counts triple occurrences in
    either role; n_neighbors counts distinct counterparties.

    Scale shape: one unionAll projection (no shuffle) + one groupBy(node)
    with a distinct aggregate — Spark plans count_distinct as a two-level
    (expand + partial) aggregation, so a hub node's neighbor set is
    deduplicated map-side before reaching its reducer."""
    edges = triples.select(
        F.col("subj").alias("node"), F.col("obj").alias("nbr")
    ).unionAll(
        triples.select(F.col("obj").alias("node"), F.col("subj").alias("nbr"))
    )
    return edges.groupBy("node").agg(
        F.count("*").alias("n_edges"),
        F.count_distinct("nbr").cast("bigint").alias("n_neighbors"),
    )


def two_hop_locations(triples: DataFrame) -> DataFrame:
    """KG inference: derive person->location facts by composing
    works_at(P, O) with located_in(O, L) -> (person, location, n_paths)
    where n_paths counts the distinct organizations witnessing the hop.
    This is the canonical multi-hop join a downstream KG consumer runs;
    the reference never materializes relations so has no analogue — the
    north_rule "materialized entity/triple tables" exist exactly so this
    query is a join, not a re-extraction.

    Scale shape: BOTH sides collapse to distinct entity pairs before the
    join (triple multiplicity is irrelevant to path existence), so the
    join input is entity-graph-sized, not corpus-sized, and the
    map-side-combined distinct runs before any wide exchange. The join
    key `org` is Zipf-hot (a mega-employer), which is precisely the
    skew AQE's runtime skew-join split handles — each side is already
    distinct so the hot key's row product is irreducible output, not
    redundant work. The final distinct aggregate shards by
    (person, location)."""
    wa = (
        triples.where(F.col("pred") == "works_at")
        .select(F.col("subj").alias("person"), F.col("obj").alias("org"))
        .distinct()
    )
    li = (
        triples.where(F.col("pred") == "located_in")
        .select(F.col("subj").alias("org"), F.col("obj").alias("location"))
        .distinct()
    )
    return wa.join(li, "org").groupBy("person", "location").agg(
        F.count_distinct("org").cast("bigint").alias("n_paths")
    )


def kg_triangles(triples: DataFrame) -> DataFrame:
    """Global triangle census of the entity graph -> one row
    (n_nodes, n_edges, n_triangles): the standard KG health metric
    (closure density) over the materialized triple table.

    Scale shape: degree-oriented node-iterator. The undirected distinct
    edge set is oriented from the lower-(degree, name) endpoint to the
    higher, making a DAG in which every triangle is counted exactly once
    at its minimum vertex. The wedge self-join then fans out per node by
    OUT-degree, which orientation bounds by O(sqrt(m)) on any graph — a
    celebrity hub that would explode a naive wedge join generates ZERO
    wedges because all its edges point into it (asserted on a planted
    star graph in tests). The closing-edge check is an equi-join back to
    the edge set on the sorted pair. All joins are equi-joins on
    (src) / (a, b); the edge set is localCheckpoint'd once because three
    downstream branches (degrees, orientation, closure) reuse it."""
    e = (
        triples.where(F.col("subj") != F.col("obj"))
        .select(
            F.least("subj", "obj").alias("a"),
            F.greatest("subj", "obj").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    ori = (
        e.join(deg.select(F.col("n").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("d").alias("db")), "b")
        .select(
            # a < b always (sorted pair), so the (d, name) tie-break is
            # simply: equal degrees orient a -> b
            F.when(F.col("da") <= F.col("db"), F.col("a"))
            .otherwise(F.col("b"))
            .alias("src"),
            F.when(F.col("da") <= F.col("db"), F.col("b"))
            .otherwise(F.col("a"))
            .alias("dst"),
        )
    )
    wedges = (
        ori.select("src", F.col("dst").alias("v"))
        .join(ori.select("src", F.col("dst").alias("w")), "src")
        .where(F.col("v") < F.col("w"))
    )
    n_tri = wedges.join(
        e, (F.col("v") == F.col("a")) & (F.col("w") == F.col("b"))
    ).agg(F.count("*").cast("bigint").alias("n_triangles"))
    n_nodes = deg.agg(F.count("*").cast("bigint").alias("n_nodes"))
    n_edges = e.agg(F.count("*").cast("bigint").alias("n_edges"))
    return n_nodes.crossJoin(n_edges).crossJoin(n_tri)


PR_SCALE = 10**12  # fixed-point rank unit (rank_e12)
PR_DAMP = 850      # damping factor in permille (0.85)


def pagerank(triples: DataFrame, n_iter: int = 3) -> DataFrame:
    """Fixed-point PageRank over the directed entity graph ->
    (node, rank_e12). Ranks are bigint fixed-point (PR_SCALE = 1e12), and
    EVERY operation — initial mass, per-edge contribution, dangling
    redistribution, damping — is integer arithmetic with a fixed
    evaluation order, so Spark and the DuckDB chained-CTE oracle agree
    bit-for-bit (no float summation order, no libm).

    update: r'(v) = (150*base + 850*(contrib(v) + dangling div N)) div 1000
    where base = PR_SCALE div N, contrib(v) = sum over in-edges (u,v) of
    r(u) div outdeg(u), dangling = total rank on sink nodes.

    Scale shape: each iteration is one edges|>ranks equi-join + one
    groupBy(dst) partial-aggregated shuffle, plus a one-row dangling agg
    broadcast back via crossJoin — NO driver-side collect in the loop.
    Edges and nodes are localCheckpoint'd once; each iteration's ranks
    are checkpointed to truncate the iterative lineage (same discipline
    as the CC fixpoint). n_iter is fixed here (the driver query is a
    deterministic 3-step demo); a production run iterates until the
    total rank delta underflows the fixed-point unit."""
    edges = (
        triples.where(F.col("subj") != F.col("obj"))
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    base = PR_SCALE // n
    outdeg = edges.groupBy("src").agg(F.count("*").alias("odeg"))
    ranks = nodes.select(
        "node", F.lit(base).cast("bigint").alias("rank")
    ).localCheckpoint(eager=True)
    for _ in range(n_iter):
        contrib = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("rank div odeg")).cast("bigint").alias("c"))
        )
        dang = (
            ranks.join(outdeg, ranks.node == outdeg.src, "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0)).cast("bigint").alias("dang"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                F.expr(
                    f"cast((150 * cast({base} as bigint)"
                    f" + {PR_DAMP} * (coalesce(c, cast(0 as bigint))"
                    f" + dang div cast({n} as bigint))) div 1000 as bigint)"
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", F.col("rank").alias("rank_e12"))


def duck_pagerank_sql(triples_sql: str, n_iter: int = 3) -> str:
    """DuckDB oracle: the same fixed-point update unrolled as chained
    CTEs (r0 -> r1 -> ... -> rN) — an independent implementation whose
    bit-identical result certifies the Spark iteration. sum() outputs
    are cast back from HUGEINT at every level."""
    # AS MATERIALIZED throughout: e/nodes/od are referenced O(n_iter)
    # times and each r{{i}} references r{{i-1}} — without it DuckDB
    # inlines the full (triples_sql + prior rounds) subtree at every
    # reference and plan size grows multiplicatively (the walk-oracle
    # OOM class; here it was "only" an 8.4s plan at sf0.01)
    head = f"""
with
e as materialized (select distinct subj as src, obj as dst
      from ({triples_sql}) where subj <> obj),
nodes as materialized (select src as node from e union select dst from e),
meta as materialized (select count(*) as n from nodes),
od as materialized (select src, count(*) as odeg from e group by 1),
r0 as materialized (select node, cast({PR_SCALE} // (select n from meta) as bigint) as rank
       from nodes)"""
    steps = []
    for i in range(1, n_iter + 1):
        p = i - 1
        steps.append(f"""
c{i} as materialized (select e.dst as node, cast(sum(r.rank // od.odeg) as bigint) as c
     from e join r{p} r on r.node = e.src join od on od.src = e.src
     group by 1),
d{i} as materialized (select cast(coalesce(sum(r.rank), 0) as bigint) as dang
     from r{p} r left join od on od.src = r.node where od.src is null),
r{i} as materialized (select nodes.node,
       cast((150 * cast({PR_SCALE} // (select n from meta) as bigint)
             + {PR_DAMP} * (coalesce(c.c, cast(0 as bigint))
                 + (select dang from d{i}) // (select n from meta)))
            // 1000 as bigint) as rank
     from nodes left join c{i} c using (node))""")
    return (
        head + "," + ",".join(steps)
        + f"\nselect node, rank as rank_e12 from r{n_iter}"
    )


def pagerank_incremental(
    base_triples: DataFrame,
    delta_triples: DataFrame,
    n_base_iter: int = 3,
    n_delta_iter: int = 2,
) -> DataFrame:
    """Warm-started PageRank over a grown graph -> (node, rank_e12):
    the incremental-maintenance companion to `pagerank` (the rank analog
    of link.incremental_link_entities). A crawl appends a delta batch of
    edges; instead of iterating from the uniform vector over the merged
    graph, resume from the PERSISTED base ranks (new nodes enter at the
    uniform unit) and run n_delta_iter damped rounds — the standard
    warm-start argument: the damped update is a contraction, so starting
    near the old fixed point (which the merged fixed point stays close
    to when |delta| << |base|) needs fewer rounds for the same error;
    pytest measures exactly that (warm 2-round beats cold 2-round
    against a near-converged reference). Semantics are DEFINED as this
    exact integer recurrence (same update, evaluation order and
    fixed-point arithmetic as `pagerank`, N = merged node count; the
    warm vector is used as-is, not re-normalized — damping re-injects
    150/1000 of uniform mass every round, so any initial mass error
    decays geometrically), so the DuckDB twin replays it bit-for-bit.

    Scale shape: identical to `pagerank` per round (edges|>ranks
    equi-join + map-side-combined groupBy(dst) + one-row dangling
    broadcast, per-round localCheckpoint); the saving is ROUNDS, and the
    base phase here stands in for ranks a production run reads back
    from its checkpoint instead of recomputing."""
    base_ranks = pagerank(base_triples, n_iter=n_base_iter)
    edges = (
        base_triples.select("subj", "obj")
        .unionByName(delta_triples.select("subj", "obj"))
        .where(F.col("subj") != F.col("obj"))
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    base = PR_SCALE // n
    outdeg = edges.groupBy("src").agg(F.count("*").alias("odeg"))
    ranks = (
        nodes.join(
            base_ranks.withColumnRenamed("rank_e12", "rank"), "node", "left"
        )
        .select(
            "node",
            F.coalesce(F.col("rank"), F.lit(base).cast("bigint")).alias(
                "rank"
            ),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(n_delta_iter):
        contrib = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("rank div odeg")).cast("bigint").alias("c"))
        )
        dang = (
            ranks.join(outdeg, ranks.node == outdeg.src, "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0)).cast("bigint").alias("dang"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                F.expr(
                    f"cast((150 * cast({base} as bigint)"
                    f" + {PR_DAMP} * (coalesce(c, cast(0 as bigint))"
                    f" + dang div cast({n} as bigint))) div 1000 as bigint)"
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", F.col("rank").alias("rank_e12"))


def duck_pagerank_incremental_sql(
    base_triples_sql: str,
    delta_triples_sql: str,
    n_base_iter: int = 3,
    n_delta_iter: int = 2,
) -> str:
    """DuckDB twin of pagerank_incremental: the base fixed point
    unrolled over the base edge set (b0..bB), then the warm vector
    (coalesce to the merged uniform unit) and n_delta_iter rounds over
    the merged edge set (w1..wD). AS MATERIALIZED per the plan-blowup
    note on duck_pagerank_sql."""
    head = f"""
with
be as materialized (select distinct subj as src, obj as dst
      from ({base_triples_sql}) where subj <> obj),
bnodes as materialized (select src as node from be union select dst from be),
bmeta as materialized (select count(*) as n from bnodes),
bod as materialized (select src, count(*) as odeg from be group by 1),
b0 as materialized (select node,
       cast({PR_SCALE} // (select n from bmeta) as bigint) as rank
       from bnodes)"""
    steps = []
    for i in range(1, n_base_iter + 1):
        p = i - 1
        steps.append(f"""
bc{i} as materialized (select be.dst as node,
       cast(sum(r.rank // bod.odeg) as bigint) as c
     from be join b{p} r on r.node = be.src join bod on bod.src = be.src
     group by 1),
bd{i} as materialized (select cast(coalesce(sum(r.rank), 0) as bigint) as dang
     from b{p} r left join bod on bod.src = r.node where bod.src is null),
b{i} as materialized (select bnodes.node,
       cast((150 * cast({PR_SCALE} // (select n from bmeta) as bigint)
             + {PR_DAMP} * (coalesce(c.c, cast(0 as bigint))
                 + (select dang from bd{i}) // (select n from bmeta)))
            // 1000 as bigint) as rank
     from bnodes left join bc{i} c using (node))""")
    steps.append(f"""
de as materialized (select distinct src, dst from (
      select subj as src, obj as dst from ({base_triples_sql})
        where subj <> obj
      union all
      select subj, obj from ({delta_triples_sql}) where subj <> obj)),
dnodes as materialized (select src as node from de union select dst from de),
dmeta as materialized (select count(*) as n from dnodes),
dod as materialized (select src, count(*) as odeg from de group by 1),
w0 as materialized (select dnodes.node,
       coalesce(b{n_base_iter}.rank,
                cast({PR_SCALE} // (select n from dmeta) as bigint)) as rank
     from dnodes left join b{n_base_iter} using (node))""")
    for i in range(1, n_delta_iter + 1):
        p = i - 1
        steps.append(f"""
wc{i} as materialized (select de.dst as node,
       cast(sum(r.rank // dod.odeg) as bigint) as c
     from de join w{p} r on r.node = de.src join dod on dod.src = de.src
     group by 1),
wd{i} as materialized (select cast(coalesce(sum(r.rank), 0) as bigint) as dang
     from w{p} r left join dod on dod.src = r.node where dod.src is null),
w{i} as materialized (select dnodes.node,
       cast((150 * cast({PR_SCALE} // (select n from dmeta) as bigint)
             + {PR_DAMP} * (coalesce(c.c, cast(0 as bigint))
                 + (select dang from wd{i}) // (select n from dmeta)))
            // 1000 as bigint) as rank
     from dnodes left join wc{i} c using (node))""")
    return (
        head + "," + ",".join(steps)
        + f"\nselect node, rank as rank_e12 from w{n_delta_iter}"
    )


HITS_SCALE = 10**6  # fixed-point hub/authority unit (auth_e6 / hub_e6)


def hits(triples: DataFrame, n_iter: int = 2) -> DataFrame:
    """HITS hubs-and-authorities over the directed graph ->
    (node, auth_e6, hub_e6). Kleinberg's mutual-reinforcement update
    with L1 (sum) normalization, in pure bigint fixed-point so Spark
    and the DuckDB chained-CTE oracle agree bit-for-bit:

        a_raw(v) = sum over in-edges (u,v) of h(u)
        a(v)     = a_raw(v) * HITS_SCALE div sum(a_raw)
        h_raw(u) = sum over out-edges (u,v) of a(v)
        h(u)     = h_raw(u) * HITS_SCALE div sum(h_raw)

    Complements PageRank on the host graph: hubs (directory pages that
    link to many authorities) and authorities (pages linked by many
    hubs) are the two crawl-prioritization signals PageRank conflates.

    Scale shape: each half-iteration is one edges|>scores equi-join +
    one map-side-combined groupBy, plus a ONE-ROW sum broadcast back
    via crossJoin — no driver collect in the loop; per-round
    localCheckpoint truncates the iterative lineage (same discipline
    as pagerank/CC). Overflow bound: a_raw <= max_indeg * HITS_SCALE,
    and normalization multiplies by HITS_SCALE again, so the bigint
    ceiling requires max_indeg < 2^63 / HITS_SCALE^2 ~ 9.2e6; a graph
    with hotter in-degree than that needs a pre-scaled (div-first)
    normalization, documented here rather than silently wrong."""
    edges = (
        triples.where(F.col("subj") != F.col("obj"))
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    hub = nodes.select(
        "node", F.lit(HITS_SCALE).cast("bigint").alias("hub")
    ).localCheckpoint(eager=True)
    auth = None
    for _ in range(n_iter):
        a_raw = (
            edges.join(
                hub.select(F.col("node").alias("src"), "hub"), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").cast("bigint").alias("a_raw"))
        )
        a_sum = a_raw.agg(
            F.sum("a_raw").cast("bigint").alias("a_sum")
        )
        auth = (
            nodes.join(a_raw, "node", "left")
            .crossJoin(F.broadcast(a_sum))
            .select(
                "node",
                F.expr(
                    f"coalesce(a_raw, cast(0 as bigint))"
                    f" * cast({HITS_SCALE} as bigint) div a_sum"
                ).alias("auth"),
            )
            .localCheckpoint(eager=True)
        )
        h_raw = (
            edges.join(
                auth.select(F.col("node").alias("dst"), "auth"), "dst"
            )
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("auth").cast("bigint").alias("h_raw"))
        )
        h_sum = h_raw.agg(
            F.sum("h_raw").cast("bigint").alias("h_sum")
        )
        hub = (
            nodes.join(h_raw, "node", "left")
            .crossJoin(F.broadcast(h_sum))
            .select(
                "node",
                F.expr(
                    f"coalesce(h_raw, cast(0 as bigint))"
                    f" * cast({HITS_SCALE} as bigint) div h_sum"
                ).alias("hub"),
            )
            .localCheckpoint(eager=True)
        )
    return (
        auth.join(hub, "node")
        .select(
            "node",
            F.col("auth").alias("auth_e6"),
            F.col("hub").alias("hub_e6"),
        )
    )


def duck_hits_sql(triples_sql: str, n_iter: int = 2) -> str:
    """DuckDB oracle for hits(): the same integer update unrolled as
    chained CTEs (h0 -> a1 -> h1 -> ... -> aN -> hN) — an independent
    implementation whose bit-identical result certifies the distributed
    iteration. sum() outputs are cast back from HUGEINT at every level
    (the CLAUDE.md trap), and the normalizing sums are scalar
    subqueries, matching the one-row broadcast on the Spark side."""
    # AS MATERIALIZED throughout — same multiplicative-inlining hazard
    # as duck_pagerank_sql (e is referenced 2x per iteration, each
    # h{{i}}/a{{i}} chains the prior round); measured 13.8s -> fast
    head = f"""
with
e as materialized (select distinct subj as src, obj as dst
      from ({triples_sql}) where subj <> obj),
nodes as materialized (select src as node from e union select dst from e),
h0 as materialized (select node, cast({HITS_SCALE} as bigint) as hub from nodes)"""
    steps = []
    for i in range(1, n_iter + 1):
        p = i - 1
        steps.append(f"""
ar{i} as materialized (select e.dst as node, cast(sum(h.hub) as bigint) as a_raw
      from e join h{p} h on h.node = e.src group by 1),
a{i} as materialized (select nodes.node,
      cast(coalesce(ar.a_raw, 0) as bigint) * cast({HITS_SCALE} as bigint)
          // (select cast(sum(a_raw) as bigint) from ar{i}) as auth
      from nodes left join ar{i} ar using (node)),
hr{i} as materialized (select e.src as node, cast(sum(a.auth) as bigint) as h_raw
      from e join a{i} a on a.node = e.dst group by 1),
h{i} as materialized (select nodes.node,
      cast(coalesce(hr.h_raw, 0) as bigint) * cast({HITS_SCALE} as bigint)
          // (select cast(sum(h_raw) as bigint) from hr{i}) as hub
      from nodes left join hr{i} hr using (node))""")
    return (
        head + "," + ",".join(steps)
        + f"""
select a.node, cast(a.auth as bigint) as auth_e6,
       cast(h.hub as bigint) as hub_e6
from a{n_iter} a join h{n_iter} h using (node)"""
    )


def degree_histogram(triples: DataFrame) -> DataFrame:
    """Log2-bucketed degree distribution of the entity graph:
    (bucket, min_degree, n_nodes, sum_degree) where bucket =
    ilog2(n_neighbors) via bit-length (length(bin(x)) - 1) — integer-
    exact in both engines (see lm_surprisal for why float floor(log2)
    is not). The standard power-law diagnostic a KG pipeline publishes
    per build; at web scale the histogram is what is small enough to
    alert on, not the per-node table.

    Scale shape: reuses entity_degree's map-side-deduplicated distinct
    aggregation, then a second tiny groupBy(bucket) — at most 64 output
    rows, combined map-side."""
    deg = entity_degree(triples)
    return (
        deg.withColumn(
            "bucket",
            F.expr("cast(length(bin(n_neighbors)) - 1 as bigint)"),
        )
        .groupBy("bucket")
        .agg(
            F.expr("cast(pow(2, bucket) as bigint)").alias("min_degree"),
            F.count("*").cast("bigint").alias("n_nodes"),
            F.sum("n_neighbors").cast("bigint").alias("sum_degree"),
        )
    )


def duck_degree_histogram_sql(entity_degree_sql: str) -> str:
    """DuckDB oracle: same bucketing over the entity-degree oracle
    relation; ilog2 via to_base(x, 2); sums cast back from HUGEINT.
    pow(2, bucket) is exact in doubles for bucket < 53 in both engines."""
    return f"""
with deg as ({entity_degree_sql}),
b as (select *, cast(length(to_base(n_neighbors, 2)) - 1 as bigint) as bucket
      from deg)
select bucket,
       cast(pow(2, bucket) as bigint) as min_degree,
       cast(count(*) as bigint) as n_nodes,
       cast(sum(n_neighbors) as bigint) as sum_degree
from b group by bucket
"""


COOCCUR_TYPES = ("LOCATION", "ORGANIZATION", "PERSON")


def entity_cooccur(
    mentions: DataFrame, max_per_doc: int = 64
) -> DataFrame:
    """Entity co-occurrence lift over documents: for every unordered pair
    of entity surface forms appearing in the same document,
    (a, b, n_ab, lift_e6) with lift = P(a,b) / (P(a) P(b)) — PMI without
    the log, the standard relatedness prior for KG candidate scoring.
    lift_e6 = n_ab * n_docs * 1e6 `div` (n_a * n_b) is computed entirely
    in bigint arithmetic, so Spark and the DuckDB oracle agree exactly
    (no transcendental/float rounding in either engine).

    Scale shape: surfaces are first DISTINCT per (doc, mention) — sharded
    by that composite key, no hot key — then a window count drops
    degenerate docs with > max_per_doc distinct surfaces (a boilerplate
    page mentioning thousands of entities would otherwise contribute
    O(max^2) pairs); the pair self-join keys on doc_id, whose fan-out is
    bounded by the cap, and reuses the window's hash partitioning on
    both sides. Marginals and the doc count join back on the pair
    table, which is co-occurrence-graph-sized, not corpus-sized."""
    from pyspark.sql import Window as W

    surf = (
        mentions.where(F.col("entity_type").isin(list(COOCCUR_TYPES)))
        .select("doc_id", "mention")
        .distinct()
    )
    w = W.partitionBy("doc_id")
    surf = (
        surf.withColumn("ns", F.count("*").over(w))
        .where(F.col("ns") <= max_per_doc)
        .drop("ns")
    )
    b = surf.select(
        F.col("doc_id").alias("b_doc_id"), F.col("mention").alias("b_mention")
    )
    pairs = (
        surf.join(
            b,
            (surf.doc_id == b.b_doc_id) & (surf.mention < b.b_mention),
        )
        .groupBy(F.col("mention").alias("a"), F.col("b_mention").alias("b"))
        .agg(F.count("*").cast("bigint").alias("n_ab"))
    )
    marg = surf.groupBy("mention").agg(F.count("*").cast("bigint").alias("c"))
    n_docs = surf.select(
        F.count_distinct("doc_id").cast("bigint").alias("n_docs")
    )
    return (
        pairs.join(
            marg.select(F.col("mention").alias("a"), F.col("c").alias("c_a")),
            "a",
        )
        .join(
            marg.select(F.col("mention").alias("b"), F.col("c").alias("c_b")),
            "b",
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "a",
            "b",
            "n_ab",
            F.expr(
                "cast((n_ab * n_docs * 1000000) div (c_a * c_b) as bigint)"
            ).alias("lift_e6"),
        )
    )


# ---------------------------------------------------------------------------
# negative sampling (training data for KG-embedding models)
# ---------------------------------------------------------------------------

NEG_BUCKETS = 64
NEG_SALT = 47


def kg_negative_samples(triples: DataFrame) -> DataFrame:
    """One deterministic corrupted counterpart per triple (the negative
    examples a TransE/DistMult-style KG-embedding trainer consumes):
    the object is replaced by a pseudo-randomly drawn entity from the
    triple set's own object pool -> (doc_id, subj, pred, obj, neg_obj),
    rows where the draw collides with the true object dropped (both
    engines apply the same filter).

    Scale shape: no global entity index (a dense row_number over the
    pool would be a single-partition sort at 1e9 entities) and no
    .collect(). The pool is reduced to NEG_BUCKETS representatives
    (min entity per hash bucket — one map-side-combined agg), the draw
    is hn(strhash(subj), strhash(obj), pred-salt) % NEG_BUCKETS, and the
    assignment is a broadcast join of 64 rows onto the triple stream.
    Every value derives from the frozen hash chain, so the DuckDB
    oracle replays draws bit-for-bit.
    """
    from nerpii_spark.functions.hashing import M, sql_h2, sql_strhash

    pool = (
        triples.select(F.col("obj").alias("cand"))
        .groupBy(
            F.expr(f"{sql_strhash('cand')} % {NEG_BUCKETS}").alias("b")
        )
        .agg(F.min("cand").alias("neg_obj"))
    )
    draw = sql_h2(
        f"({sql_strhash('subj')} + {sql_strhash('obj')}"
        f" + {sql_strhash('pred')}) % {M}",
        NEG_SALT,
    )
    return (
        triples.select(
            "doc_id", "subj", "pred", "obj",
            F.expr(f"{draw} % {NEG_BUCKETS}").alias("b"),
        )
        .join(F.broadcast(pool), "b")
        .where(F.col("neg_obj") != F.col("obj"))
        .select("doc_id", "subj", "pred", "obj", "neg_obj")
    )


def duck_kg_negative_samples_sql(triples_sql: str) -> str:
    """Bit-for-bit DuckDB replay of kg_negative_samples."""
    from nerpii_spark.functions.hashing import M, sql_h2, sql_strhash

    draw = sql_h2(
        f"({sql_strhash('subj')} + {sql_strhash('obj')}"
        f" + {sql_strhash('pred')}) % {M}",
        NEG_SALT,
    )
    return f"""
with t as ({triples_sql}),
pool as (
  select {sql_strhash('obj')} % {NEG_BUCKETS} as b, min(obj) as neg_obj
  from t group by 1
),
drawn as (
  select doc_id, subj, pred, obj, {draw} % {NEG_BUCKETS} as b from t
)
select doc_id, subj, pred, obj, p.neg_obj as neg_obj
from drawn d join pool p using (b)
where p.neg_obj <> d.obj
"""


# ---------------------------------------------------------------------------
# deterministic neighbor sampling (GraphSAGE-style fan-out capping)
# ---------------------------------------------------------------------------

SAMPLE_K = 3
SAMPLE_SALT = 53


def neighbor_sample(
    triples: DataFrame, k: int = SAMPLE_K, n_salt: int = 32
) -> DataFrame:
    """Per-node deterministic sample of up to `k` distinct neighbors ->
    (node, nbr, rk) — the fan-out capping step of a graph-ML training
    pipeline (GraphSAGE neighbor sampling), made reproducible: the
    sampling order is the portable hash of (node, nbr), so the sample is
    a pure function of the edge set (resumable, identical on re-run,
    and replayable bit-for-bit by the DuckDB oracle).

    Skew shape: same two-phase trick as topk_objs_per_pred — a pre-window
    partitioned by (node, hash(nbr) % n_salt) keeps each shard's local
    top-k in hash order (the global k smallest hashes survive any shard
    split), then the node-only window ranks <= k * n_salt survivors; a
    hub with 1e9 neighbors never lands on one reducer unsharded."""
    from pyspark.sql import Window as W

    from nerpii_spark.functions.hashing import M, sql_h2, sql_strhash

    e = (
        triples.select(F.col("subj").alias("node"), F.col("obj").alias("nbr"))
        .unionByName(
            triples.select(
                F.col("obj").alias("node"), F.col("subj").alias("nbr")
            )
        )
        .where(F.col("node") != F.col("nbr"))
        .distinct()
    )
    hexpr = sql_h2(
        f"({sql_strhash('node')} + {sql_strhash('nbr')}) % {M}",
        SAMPLE_SALT,
    )
    e = e.withColumn("h", F.expr(hexpr))
    w_shard = W.partitionBy(
        "node", F.pmod(F.xxhash64("nbr"), F.lit(n_salt))
    ).orderBy(F.asc("h"), F.asc("nbr"))
    survivors = (
        e.withColumn("prk", F.row_number().over(w_shard))
        .where(F.col("prk") <= k)
        .drop("prk")
    )
    w = W.partitionBy("node").orderBy(F.asc("h"), F.asc("nbr"))
    return (
        survivors.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("node", "nbr", F.col("rk").cast("bigint").alias("rk"))
    )


def duck_neighbor_sample_sql(triples_sql: str, k: int = SAMPLE_K) -> str:
    """Single-window DuckDB replay (the two-phase Spark form is provably
    identical: the union of shard top-ks is a superset of the global
    top-k under any total order)."""
    from nerpii_spark.functions.hashing import M, sql_h2, sql_strhash

    hexpr = sql_h2(
        f"({sql_strhash('node')} + {sql_strhash('nbr')}) % {M}",
        SAMPLE_SALT,
    )
    return f"""
with t as ({triples_sql}),
e as (
  select distinct node, nbr from (
    select subj as node, obj as nbr from t
    union all
    select obj, subj from t
  ) where node <> nbr
),
r as (
  select node, nbr,
         row_number() over (partition by node
                            order by {hexpr} asc, nbr asc) as rk
  from e
)
select node, nbr, cast(rk as bigint) as rk from r where rk <= {k}
"""


# ---------------------------------------------------------------------------
# deterministic random walks (node2vec-style corpus for embedding training)
# ---------------------------------------------------------------------------

WALK_STEPS = 3
WALK_SALT = 59
WALK_DEGREE_CAP = 64


def _walk_h(cur: str, nbr: str, step: int) -> str:
    from nerpii_spark.functions.hashing import M, sql_h2, sql_strhash

    return sql_h2(
        f"({sql_strhash(cur)} + {sql_strhash(nbr)} + {step * 31}) % {M}",
        WALK_SALT,
    )


def random_walks(
    triples: DataFrame,
    n_steps: int = WALK_STEPS,
    degree_cap: int = WALK_DEGREE_CAP,
) -> DataFrame:
    """One deterministic `n_steps` walk from every node of the entity
    graph -> (root, step, cur) in long form — the walk corpus a
    DeepWalk/node2vec embedding trainer consumes, made reproducible:
    step t moves to the neighbor minimizing the portable hash of
    (current, neighbor, t), so the walk set is a pure function of the
    edge set (resumable, oracle-replayable).

    Scale shape: the walk runs on the DEGREE-CAPPED adjacency
    (neighbor_sample with k=degree_cap, itself skew-safe) — without the
    cap, every walker sitting on a hub at step t joins against the
    hub's FULL neighbor list (positions x degree rows for one key: the
    classic walk-through-hub blowup at 1e9-degree hubs); with it, the
    per-key join fan-out is bounded by degree_cap on every step, and
    the capped adjacency is exactly what production walk engines
    (GraphSAGE fan-out, node2vec on sampled adjacency) use. Each step
    is then ONE equi-join + one min(struct) agg — the argmin
    partial-aggregates map-side, the driver loop holds only the step
    counter. The cap is part of the operator's deterministic semantics:
    the DuckDB oracle applies the identical cap.

    Lineage: the capped adjacency and each step's frontier are
    localCheckpoint'ed (the CC/pagerank discipline, CLAUDE.md) —
    otherwise step t's plan re-derives the two-window adjacency and
    replays steps 1..t-1, an O(n_steps^2) recomputation of full
    shuffle+window passes at corpus scale."""
    e = (
        neighbor_sample(triples, k=degree_cap)
        .select("node", "nbr")
        .localCheckpoint(eager=True)
    )
    pos = e.select(F.col("node").alias("root")).distinct().withColumn(
        "cur", F.col("root")
    )
    out = None
    for t in range(1, n_steps + 1):
        stepped = (
            pos.join(e, pos.cur == e.node)
            .select(
                "root",
                F.struct(
                    F.expr(_walk_h("cur", "nbr", t)).alias("h"),
                    F.col("nbr").alias("n"),
                ).alias("cand"),
            )
            .groupBy("root")
            .agg(F.min("cand").alias("best"))
            .select("root", F.col("best.n").alias("cur"))
        )
        stepped = stepped.localCheckpoint(eager=True)
        step_rows = stepped.select(
            "root", F.lit(t).cast("bigint").alias("step"), "cur"
        )
        out = step_rows if out is None else out.unionByName(step_rows)
        pos = stepped
    return out


WALK_PAIR_WINDOW = 2


def walk_pairs(
    triples: DataFrame,
    window: int = WALK_PAIR_WINDOW,
    n_steps: int = WALK_STEPS,
    degree_cap: int = WALK_DEGREE_CAP,
) -> DataFrame:
    """Skip-gram (center, context) training pairs from the deterministic
    walk corpus -> (center, context, n_pairs) — the input a
    DeepWalk/node2vec embedding trainer actually consumes (walks are
    the intermediate). Every ordered pair of positions within `window`
    steps of each other in the same walk contributes one pair; counts
    aggregate multiplicity across walks.

    Scale shape: the walk table (including the step-0 root position)
    self-joins on the walk key with the |step delta| <= window
    predicate — fan-out per walk is bounded by (n_steps+1)^2, a
    constant, so the join is linear in the walk corpus; the pair count
    map-side combines (hub pairs arrive pre-aggregated). Determinism is
    inherited from random_walks, so the oracle replays bit-for-bit."""
    w = random_walks(triples, n_steps, degree_cap).localCheckpoint(
        eager=True
    )
    full = w.unionByName(
        w.select("root")
        .distinct()
        .select(
            "root",
            F.lit(0).cast("bigint").alias("step"),
            F.col("root").alias("cur"),
        )
    )
    b = full.select(
        F.col("root").alias("b_root"),
        F.col("step").alias("b_step"),
        F.col("cur").alias("b_cur"),
    )
    return (
        full.join(
            b,
            (full.root == b.b_root)
            & (full.step != b.b_step)
            & (F.abs(full.step - b.b_step) <= window),
        )
        .groupBy(
            F.col("cur").alias("center"), F.col("b_cur").alias("context")
        )
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
    )


def duck_walk_pairs_sql(
    triples_sql: str,
    window: int = WALK_PAIR_WINDOW,
    n_steps: int = WALK_STEPS,
    degree_cap: int = WALK_DEGREE_CAP,
) -> str:
    """Oracle: the same pair window over the replayed walk corpus."""
    walks = duck_random_walks_sql(triples_sql, n_steps, degree_cap)
    # AS MATERIALIZED on BOTH outer CTEs: `walks` is referenced twice by
    # fullw and fullw twice by the self-join; without it DuckDB inlines
    # the whole chained-walk subtree (itself n_steps CTEs deep) at every
    # reference — the plan quadruples and the buffer pool hits the cap
    # (observed: OOM here, and a connection whose buffer pool stays
    # saturated afterwards, failing every later 8-byte allocation)
    return f"""
with walks as materialized ({walks}),
fullw as materialized (
  select root, step, cur from walks
  union all
  select distinct root, cast(0 as bigint), root from walks
)
select a.cur as center, b.cur as context,
       cast(count(*) as bigint) as n_pairs
from fullw a
join fullw b
  on a.root = b.root and a.step <> b.step
 and abs(a.step - b.step) <= {window}
group by 1, 2
"""


def duck_random_walks_sql(
    triples_sql: str,
    n_steps: int = WALK_STEPS,
    degree_cap: int = WALK_DEGREE_CAP,
) -> str:
    """Chained-CTE replay over the same degree-capped adjacency; the
    argmin is a row_number window (an independent formulation of
    min(struct))."""
    # NB: the outer CTE must NOT be named like any CTE inside the nested
    # neighbor-sample WITH (t/e/r) — DuckDB resolves a same-named inner
    # reference against the outer CTE being defined, which turns it into
    # an unbounded self-reference (observed as an OOM, not an error)
    # AS MATERIALIZED (adj AND every w{t}): without it DuckDB inlines the
    # (window + 26-term hash polynomial) subtree at every reference —
    # each w{t} expands w{t-1}, so the plan grows multiplicatively and
    # blows the memory cap during planning (observed as an OOM even on a
    # 50-doc corpus, and again at sf0.01 when walk_pairs references the
    # chain four times)
    ctes = [
        f"""
adj as materialized (
  select node, nbr from ({duck_neighbor_sample_sql(triples_sql, k=degree_cap)})
),
w0 as (select distinct node as root, node as cur from adj)"""
    ]
    finals = []
    for t in range(1, n_steps + 1):
        h = _walk_h("w.cur", "adj.nbr", t)
        ctes.append(
            f"""
w{t} as materialized (
  select root, cur from (
    select w.root as root, adj.nbr as cur,
           row_number() over (partition by w.root
                              order by {h} asc, adj.nbr asc) as rk
    from w{t - 1} w join adj on w.cur = adj.node
  ) where rk = 1
)"""
        )
        finals.append(
            f"select root, cast({t} as bigint) as step, cur from w{t}"
        )
    return "with " + ",".join(ctes) + " " + " union all ".join(finals)


def triple_support(triples: DataFrame) -> DataFrame:
    """Provenance-weighted triple confidence -> (subj, pred, obj,
    n_docs, n_hosts): how many distinct documents and distinct source
    HOSTS assert each fact. Cross-host corroboration is the standard
    web-KG confidence prior (a fact asserted by one template site 1e6
    times is weaker than one asserted by 5 independent hosts); the
    downstream curation pass thresholds on n_hosts, not raw counts.

    Scale shape: one groupBy on the (subj, pred, obj) key with two
    count-distincts — Catalyst plans the distinct-pair via expand (2x
    the triple rows pre-shuffle), each leg partially aggregated
    map-side, so the Zipf-hot predicate key arrives pre-deduplicated
    per map task; no join, no window. Host extraction is a codegen
    regexp over the url column already on the row."""
    return (
        triples.select(
            "subj",
            "pred",
            "obj",
            "doc_id",
            F.expr("regexp_extract(url, 'https?://([^/]+)', 1)").alias(
                "host"
            ),
        )
        .groupBy("subj", "pred", "obj")
        .agg(
            F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
            F.count_distinct("host").cast("bigint").alias("n_hosts"),
        )
    )


def duck_triple_support_sql(triples_sql: str, pages_sql_duck: str) -> str:
    """Oracle: the same counts over PLANTED golden triples joined to the
    planted page urls (certifies the pipeline's url propagation too)."""
    return f"""
select t.subj, t.pred, t.obj,
       cast(count(distinct t.doc_id) as bigint) as n_docs,
       cast(count(distinct regexp_extract(p.url, 'https?://([^/]+)', 1))
            as bigint) as n_hosts
from ({triples_sql}) t
join (select doc_id, url from ({pages_sql_duck})) p using (doc_id)
group by 1, 2, 3
"""


def triple_typecheck(triples: DataFrame, mentions: DataFrame) -> DataFrame:
    """Ontology domain/range validation of the extracted triples ->
    (pred, n_triples, n_subj_viol, n_obj_viol, n_ok): for each
    predicate, how many triples have a subject / object whose
    CORPUS-MAJORITY type (link.surface_type_vote) disagrees with the
    predicate's declared domain / range (derived from RULES — the same
    table relation extraction fires on, so the schema is the ontology).
    The standard KG quality gate: extraction is sentence-local, typing
    is corpus-global, and a surface the corpus mostly sees as LOCATION
    filling a PERSON slot ("washington works_at ...") is exactly the
    error class this report surfaces before facts ship.

    Scale shape: the vote table is one row per distinct surface (built
    by two map-side-combined aggs); triples attach their subj/obj votes
    via two equi-joins on lower(surface) — vocabulary-keyed hash joins
    (NOT broadcast: web-scale surface vocabularies run to 10^9 rows); a
    Zipf-hot surface skews only the probe side of a lookup join, which
    AQE splits without a reducer hot spot because no per-surface
    aggregation follows. The schema table is |RULES| rows, broadcast.
    Final rollup keys on pred (bounded domain) and every count
    conditional-aggregates map-side."""
    from nerpii_spark.operators.link import surface_type_vote

    spark = triples.sparkSession
    schema = F.broadcast(
        spark.createDataFrame(
            [(p, s, o) for (s, _, o, p) in RULES],
            "pred string, dom_type string, rng_type string",
        )
    )
    # NOT pinned, deliberately: the plan computes the vote agg once per
    # lookup side (no ReusedExchange — differently-aliased subplans),
    # but both chains are map-side-combined passes over the
    # already-checkpointed mention table running fully pipelined, and
    # the pinned-16 re-measure (r5) showed an eager localCheckpoint is
    # a wash at sf0.1 (1.42 s pinned vs 1.36 s unpinned best-of-3:
    # materialize-once + write + read ~= two pipelined agg chains).  A
    # deployment at 10^9 distinct surfaces should persist(MEMORY) the
    # vote table instead of re-scanning mentions twice — local-disk
    # checkpoint of a vocabulary-scale table is the wrong knob there.
    vote = surface_type_vote(mentions).select("surface", "maj_type")
    t = triples.select(
        "pred",
        F.expr("lower(subj)").alias("s_surf"),
        F.expr("lower(obj)").alias("o_surf"),
    )
    checked = (
        t.join(schema, "pred")
        .join(
            vote.select(
                F.col("surface").alias("s_surf"),
                F.col("maj_type").alias("s_maj"),
            ),
            "s_surf",
        )
        .join(
            vote.select(
                F.col("surface").alias("o_surf"),
                F.col("maj_type").alias("o_maj"),
            ),
            "o_surf",
        )
    )
    return checked.groupBy("pred").agg(
        F.count("*").cast("bigint").alias("n_triples"),
        F.sum(F.expr("cast(s_maj <> dom_type as bigint)"))
        .cast("bigint")
        .alias("n_subj_viol"),
        F.sum(F.expr("cast(o_maj <> rng_type as bigint)"))
        .cast("bigint")
        .alias("n_obj_viol"),
        F.sum(
            F.expr("cast(s_maj = dom_type and o_maj = rng_type as bigint)")
        )
        .cast("bigint")
        .alias("n_ok"),
    )


def duck_triple_typecheck_sql(triples_sql: str, mentions_sql: str) -> str:
    """Oracle: the same vote + schema check recomputed over the PLANTED
    golden triples and mentions (an independent row_number vote
    formulation via link.duck_surface_type_vote_sql), so detection,
    extraction AND the vote all ride along."""
    from nerpii_spark.operators.link import duck_surface_type_vote_sql

    schema_rows = " union all ".join(
        f"select '{p}' as pred, '{s}' as dom_type, '{o}' as rng_type"
        for (s, _, o, p) in RULES
    )
    return f"""
with vote as materialized (
  select surface, maj_type from ({duck_surface_type_vote_sql(mentions_sql)})
),
schema_t as ({schema_rows})
select t.pred,
       cast(count(*) as bigint) as n_triples,
       cast(sum(cast(vs.maj_type <> sc.dom_type as int)) as bigint)
         as n_subj_viol,
       cast(sum(cast(vo.maj_type <> sc.rng_type as int)) as bigint)
         as n_obj_viol,
       cast(sum(cast(vs.maj_type = sc.dom_type
                     and vo.maj_type = sc.rng_type as int)) as bigint)
         as n_ok
from ({triples_sql}) t
join schema_t sc on sc.pred = t.pred
join vote vs on vs.surface = lower(t.subj)
join vote vo on vo.surface = lower(t.obj)
group by 1
"""


def pagerank_weighted(edges: DataFrame, n_iter: int = 3) -> DataFrame:
    """WEIGHTED fixed-point PageRank -> (node, rank_e12): rank flows
    along each out-edge in proportion to its weight (here: link
    multiplicity n_links — a host linking a partner 10^4 times endorses
    it more than a one-off citation; plain pagerank() deliberately
    collapses multi-edges). Input: (src, dst, w) rows; multi-edges are
    re-summed and self-loops dropped defensively.

    Integer discipline (the pagerank/trustrank family rules): weights
    first normalize per source into millionths — wshare_e6 = (w * 1e6)
    div W(src) — computed ONCE before the loop, so the per-iteration
    contribution is (rank * wshare_e6) div 1e6. This two-step form is
    the overflow argument: rank <= PR_SCALE = 1e12 keeps rank * 1e6 <
    2^63 at ANY weight distribution, while the naive (rank * w) div W
    overflows int64 once a single edge carries w > 9.2e6 links — real
    on template-linked hosts. Share quantization (1e-6 relative) is
    part of the operator's defined semantics; the oracle replays it.

    update: r'(v) = (150*base + 850*(contrib(v) + dang div N)) div 1000,
    dangling = rank on nodes with no out-edges, redistributed uniformly
    (the unweighted convention — weights shape flow, not teleport).

    Scale shape: identical to pagerank — per iteration ONE edges|>ranks
    equi-join + one map-side-combined groupBy(dst), a one-row dangling
    agg broadcast back, per-iteration localCheckpoint; the share
    normalization is one extra groupBy(src) + join BEFORE the loop,
    amortized across iterations."""
    e = (
        edges.where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum("w").cast("bigint").alias("w"))
    )
    outw = e.groupBy("src").agg(F.sum("w").cast("bigint").alias("tw"))
    e = (
        e.join(outw, "src")
        .select(
            "src",
            "dst",
            F.expr(
                "cast((w * cast(1000000 as bigint)) div tw as bigint)"
            ).alias("wshare_e6"),
        )
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    base = PR_SCALE // n
    ranks = nodes.select(
        "node", F.lit(base).cast("bigint").alias("rank")
    ).localCheckpoint(eager=True)
    srcs = e.select("src").distinct().localCheckpoint(eager=True)
    for _ in range(n_iter):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.sum(
                    F.expr(
                        "(rank * wshare_e6) div cast(1000000 as bigint)"
                    )
                )
                .cast("bigint")
                .alias("c")
            )
        )
        dang = (
            ranks.join(srcs, ranks.node == srcs.src, "left_anti")
            .agg(
                F.coalesce(F.sum("rank"), F.lit(0))
                .cast("bigint")
                .alias("dang")
            )
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                F.expr(
                    f"cast((150 * cast({base} as bigint)"
                    f" + {PR_DAMP} * (coalesce(c, cast(0 as bigint))"
                    f" + dang div cast({n} as bigint))) div 1000 as bigint)"
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", F.col("rank").alias("rank_e12"))


def duck_pagerank_weighted_sql(edges_sql: str, n_iter: int = 3) -> str:
    """Oracle twin of pagerank_weighted: the same share normalization
    and integer update unrolled as chained MATERIALIZED CTEs; every
    HUGEINT sum cast back (the CLAUDE.md trap), every literal product
    cast to bigint before multiplying."""
    head = f"""
with
raw as materialized (select src, dst, cast(sum(w) as bigint) as w
      from ({edges_sql}) where src <> dst group by 1, 2),
ow as materialized (select src, cast(sum(w) as bigint) as tw
      from raw group by 1),
e as materialized (
  select r.src, r.dst,
         cast((r.w * cast(1000000 as bigint)) // o.tw as bigint)
           as wshare_e6
  from raw r join ow o using (src)),
nodes as materialized (select src as node from e union select dst from e),
meta as materialized (select count(*) as n from nodes),
srcs as materialized (select distinct src from e),
r0 as materialized (
  select node, cast({PR_SCALE} // (select n from meta) as bigint) as rank
  from nodes)"""
    steps = []
    for i in range(1, n_iter + 1):
        p = i - 1
        steps.append(f"""
c{i} as materialized (
  select e.dst as node,
         cast(sum((r.rank * e.wshare_e6) // cast(1000000 as bigint))
              as bigint) as c
  from e join r{p} r on r.node = e.src group by 1),
d{i} as materialized (
  select cast(coalesce(sum(r.rank), 0) as bigint) as dang
  from r{p} r left join srcs s on s.src = r.node where s.src is null),
r{i} as materialized (
  select nodes.node,
         cast((150 * cast({PR_SCALE} // (select n from meta) as bigint)
               + {PR_DAMP} * (coalesce(c.c, cast(0 as bigint))
                   + (select dang from d{i}) // (select n from meta)))
              // 1000 as bigint) as rank
  from nodes left join c{i} c using (node))""")
    return (
        head + "," + ",".join(steps)
        + f"\nselect node, rank as rank_e12 from r{n_iter}"
    )


def rule_mining(triples: DataFrame, min_support: int = 1) -> DataFrame:
    """AMIE-style horn-rule mining over the triple table (Galarraga
    2013): score every candidate rule of the two cheapest shapes

      pair:  p1(x,y) => p2(x,y)                 (same-pair implication)
      path:  p1(x,y) & p2(y,z) => p3(x,z)       (composition rule)

    with support = |distinct entity pairs satisfying body AND head|,
    std confidence conf_e6 = 1e6 * support div n_body (n_body =
    |distinct pairs satisfying the body|), and for path rules AMIE's
    PCA confidence conf_pca_e6 = 1e6 * support div n_pca, where n_pca
    counts only body pairs whose SUBJECT has at least one head-
    predicate fact (the partial-completeness assumption: a missing
    fact about an entity the KB knows nothing about is not a
    counterexample). Pair rules report conf_pca_e6 = conf_e6 (the PCA
    denominator degenerates: body and head share the subject). This is the KG
    curation query that surfaces e.g. works_at(x,o) & located_in(o,c)
    => lives_in(x,c) as an inference candidate with measured precision.

    Scale shape: everything runs over `facts` = distinct (subj, pred,
    obj) — corpus multiplicity collapses in ONE map-side-combined
    distinct before any join (the two_hop_locations discipline). The
    pair-rule self-join keys on (subj, obj) whose per-key fan-out is
    bounded by |preds| (a vocabulary, not a corpus dimension). The
    path-rule join keys on the bridge entity y; both sides are already
    distinct so a Zipf-hot y (mega-employer) produces irreducible
    output rows, not redundant work, and AQE's skew-join split shards
    it. Body counts and head matches are map-side-combined aggs keyed
    by (p1, p2[, p3]) — at most |preds|^3 result rows ever exist.

    Output: rule_type, body1, body2 (NULL for pair rules), head,
    support, n_body, conf_e6.
    """
    facts = triples.select("subj", "pred", "obj").distinct()

    # --- pair rules -------------------------------------------------
    f1 = facts.select(
        F.col("subj").alias("x"), F.col("pred").alias("p1"),
        F.col("obj").alias("y"),
    )
    f2 = facts.select(
        F.col("subj").alias("x"), F.col("pred").alias("p2"),
        F.col("obj").alias("y"),
    )
    pair_sup = (
        f1.join(f2, ["x", "y"])
        .where(F.col("p1") != F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
    )
    body_n = facts.groupBy("pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_body")
    )
    pair_rules = (
        pair_sup.join(body_n, pair_sup.p1 == body_n.pred)
        .select(
            F.lit("pair").alias("rule_type"),
            F.col("p1").alias("body1"),
            F.lit(None).cast("string").alias("body2"),
            F.col("p2").alias("head"),
            "support", "n_body",
            F.expr("(1000000 * support) div n_body").alias("conf_e6"),
            F.expr("(1000000 * support) div n_body").alias("conf_pca_e6"),
        )
    )

    # --- path rules -------------------------------------------------
    b1 = facts.select(
        F.col("subj").alias("x"), F.col("pred").alias("p1"),
        F.col("obj").alias("y"),
    )
    b2 = facts.select(
        F.col("subj").alias("y"), F.col("pred").alias("p2"),
        F.col("obj").alias("z"),
    )
    bodies = b1.join(b2, "y").select("p1", "p2", "x", "z").distinct()
    nb = bodies.groupBy("p1", "p2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_body")
    )
    heads = facts.select(
        F.col("subj").alias("x"), F.col("pred").alias("p3"),
        F.col("obj").alias("z"),
    )
    sup = (
        bodies.join(heads, ["x", "z"])
        .groupBy("p1", "p2", "p3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
    )
    # PCA denominator: body pairs whose subject x has ANY p3 fact —
    # one distinct (x, p3) projection joined to bodies (both sides
    # pre-distincted; the same skew argument as the bridge join)
    head_subj = heads.select("x", "p3").distinct()
    npca = (
        bodies.join(head_subj, "x")
        .groupBy("p1", "p2", "p3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pca"))
    )
    path_rules = (
        sup.join(nb, ["p1", "p2"])
        .join(npca, ["p1", "p2", "p3"])
        .select(
            F.lit("path").alias("rule_type"),
            F.col("p1").alias("body1"),
            F.col("p2").alias("body2"),
            F.col("p3").alias("head"),
            "support", "n_body",
            F.expr("(1000000 * support) div n_body").alias("conf_e6"),
            F.expr("(1000000 * support) div n_pca").alias("conf_pca_e6"),
        )
    )
    out = pair_rules.unionByName(path_rules)
    return out.where(F.col("support") >= min_support)


def duck_rule_mining_sql(triples_sql: str, min_support: int = 1) -> str:
    """DuckDB twin of :func:`rule_mining` (integer div matches the
    Spark bigint cast of 1e6*support/n_body only when that cast
    truncates — both sides use explicit floor division semantics:
    Spark's double-divide + bigint cast truncates toward zero, and all
    quantities here are non-negative, so `//` agrees)."""
    return f"""
with facts as (
  select distinct subj, pred, obj from ({triples_sql})
),
pair_sup as (
  select f1.pred as p1, f2.pred as p2,
         cast(count(*) as bigint) as support
  from facts f1 join facts f2
    on f1.subj = f2.subj and f1.obj = f2.obj and f1.pred <> f2.pred
  group by 1, 2
),
body_n as (
  select pred, cast(count(*) as bigint) as n_body
  from facts group by 1
),
pair_rules as (
  select 'pair' as rule_type, p1 as body1,
         cast(null as varchar) as body2, p2 as head,
         support, n_body,
         cast((1000000 * support) // n_body as bigint) as conf_e6,
         cast((1000000 * support) // n_body as bigint) as conf_pca_e6
  from pair_sup join body_n on pair_sup.p1 = body_n.pred
),
bodies as (
  select distinct b1.pred as p1, b2.pred as p2,
                  b1.subj as x, b2.obj as z
  from facts b1 join facts b2 on b1.obj = b2.subj
),
nb as (
  select p1, p2, cast(count(*) as bigint) as n_body
  from bodies group by 1, 2
),
sup as (
  select b.p1, b.p2, h.pred as p3,
         cast(count(*) as bigint) as support
  from bodies b join facts h on b.x = h.subj and b.z = h.obj
  group by 1, 2, 3
),
npca as (
  select b.p1, b.p2, h.p3, cast(count(*) as bigint) as n_pca
  from bodies b
  join (select distinct subj as x, pred as p3 from facts) h using (x)
  group by 1, 2, 3
),
path_rules as (
  select 'path' as rule_type, sup.p1 as body1, sup.p2 as body2,
         sup.p3 as head, support, nb.n_body,
         cast((1000000 * support) // nb.n_body as bigint) as conf_e6,
         cast((1000000 * support) // np.n_pca as bigint) as conf_pca_e6
  from sup
  join nb on sup.p1 = nb.p1 and sup.p2 = nb.p2
  join npca np on sup.p1 = np.p1 and sup.p2 = np.p2 and sup.p3 = np.p3
)
select * from pair_rules where support >= {min_support}
union all
select * from path_rules where support >= {min_support}
"""


def scd2_facts(triples: DataFrame, pages: DataFrame) -> DataFrame:
    """SCD2 validity intervals over the fact table -> (subj, pred,
    version, obj, valid_from_s, valid_to_s, is_current): for each
    (subj, pred), the timeline of OBJECT CHANGES across capture times —
    the temporal-KG build that answers "what did we believe X's Y was,
    as of time T" (q_kg_latest_facts is this table's current rows;
    q_fact_churn is its two-window diff; this materializes the whole
    spine, the scd2_urls discipline applied to facts).

    A version opens at the first capture asserting a NEW object
    (change-point compression: consecutive re-assertions of the same
    object extend the current version instead of opening a row) and
    closes at the next change (valid_to = next_change - 1, NULL while
    current). The ordering (ts, doc_id, obj) is total, so flip-flops
    (A -> B -> A) produce three versions deterministically in both
    engines.

    Scale shape: the distinct assertion collapse map-side combines;
    the capture time attaches via ONE doc_id equi-join (warc_ts is an
    instant, so unix_timestamp is timezone-pin-independent — the
    entity_timeline note); then lag / row_number / lead all share the
    (subj, pred) partitioning — ONE exchange, Window operators chained
    over it (the filter between them preserves the distribution). The
    (subj, pred) key is high-cardinality; a Zipf-hot predicate does
    NOT skew it (pred alone is hot, (subj, pred) is not)."""
    from pyspark.sql import Window as W

    ts = pages.select(
        "doc_id", F.unix_timestamp("warc_ts").cast("bigint").alias("ts_s")
    )
    a = (
        triples.select("doc_id", "subj", "pred", "obj")
        .distinct()
        .join(ts, "doc_id")
        .select("subj", "pred", "obj", "ts_s", "doc_id")
    )
    w = W.partitionBy("subj", "pred").orderBy("ts_s", "doc_id", "obj")
    chg = (
        a.withColumn("prev_obj", F.lag("obj").over(w))
        .where(
            F.col("prev_obj").isNull()
            | (F.col("obj") != F.col("prev_obj"))
        )
        .drop("prev_obj")
    )
    w2 = W.partitionBy("subj", "pred").orderBy("ts_s", "doc_id", "obj")
    return (
        chg.select(
            "subj", "pred",
            F.row_number().over(w2).cast("bigint").alias("version"),
            "obj",
            F.col("ts_s").alias("valid_from_s"),
            (F.lead("ts_s").over(w2) - 1).cast("bigint").alias("valid_to_s"),
        )
        .withColumn("is_current", F.col("valid_to_s").isNull())
    )


def duck_scd2_facts_sql(triples_sql: str) -> str:
    """Oracle twin: the planted clock (warc_ts = BASE_EPOCH + doc_id)
    replaces the pages join — an INDEPENDENT derivation of the capture
    time that additionally certifies the Spark side's ts join +
    epoch conversion (the entity_timeline convention)."""
    from nerpii_spark.sources.pages import BASE_EPOCH

    return f"""
with a as (
  select distinct subj, pred, obj, doc_id,
                  cast({BASE_EPOCH} + doc_id as bigint) as ts_s
  from ({triples_sql})
),
lagd as (
  select subj, pred, obj, ts_s, doc_id,
         lag(obj) over (partition by subj, pred
                        order by ts_s, doc_id, obj) as prev_obj
  from a
),
chg as (
  select subj, pred, obj, ts_s, doc_id from lagd
  where prev_obj is null or obj <> prev_obj
)
select subj, pred,
       cast(row_number() over (partition by subj, pred
                               order by ts_s, doc_id, obj) as bigint)
         as version,
       obj,
       ts_s as valid_from_s,
       cast(lead(ts_s) over (partition by subj, pred
                             order by ts_s, doc_id, obj) - 1 as bigint)
         as valid_to_s,
       (lead(ts_s) over (partition by subj, pred
                         order by ts_s, doc_id, obj)) is null as is_current
from chg
"""


def pred_cardinality(triples: DataFrame) -> DataFrame:
    """Per-predicate cardinality profile -> (pred, n_facts, n_subj,
    n_obj, functionality_e6, inv_functionality_e6): over DISTINCT
    facts, how many facts, distinct subjects and distinct objects each
    predicate carries, plus AMIE's functionality fun(p) = n_subj /
    n_facts (1.0 = every subject has exactly one object — a functional
    property like born_in; low = multi-valued like works_at) and its
    inverse ifun(p) = n_obj / n_facts. Rule miners orient rules toward
    the more functional direction (Galarraga 2013 §3.2), conflict
    detection (q_kg_conflicts) only makes sense where fun ~= 1, and
    schema induction thresholds on exactly these two ratios — this is
    the profile that decides both, shipped as e6 integer ratios so
    Spark == DuckDB bit-for-bit.

    Scale shape: corpus multiplicity collapses in one map-side-combined
    distinct on (subj, pred, obj); then ONE groupBy(pred) with two
    count-distincts — Catalyst plans the distinct pair via expand (2x
    rows pre-shuffle, each leg partially aggregated map-side), so the
    Zipf-hot predicate arrives pre-deduplicated per map task. No join,
    no window; output bounded by |preds|."""
    facts = triples.select("subj", "pred", "obj").distinct()
    return (
        facts.groupBy("pred")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_facts"),
            F.count_distinct("subj").cast("bigint").alias("n_subj"),
            F.count_distinct("obj").cast("bigint").alias("n_obj"),
        )
        .select(
            "pred", "n_facts", "n_subj", "n_obj",
            F.expr("(1000000 * n_subj) div n_facts").alias(
                "functionality_e6"
            ),
            F.expr("(1000000 * n_obj) div n_facts").alias(
                "inv_functionality_e6"
            ),
        )
    )


def duck_pred_cardinality_sql(triples_sql: str) -> str:
    """Oracle: identical profile over the planted golden triples."""
    return f"""
with facts as (select distinct subj, pred, obj from ({triples_sql}))
select pred,
       cast(count(*) as bigint) as n_facts,
       cast(count(distinct subj) as bigint) as n_subj,
       cast(count(distinct obj) as bigint) as n_obj,
       cast((1000000 * count(distinct subj)) // count(*) as bigint)
         as functionality_e6,
       cast((1000000 * count(distinct obj)) // count(*) as bigint)
         as inv_functionality_e6
from facts group by pred
"""


def asof_facts(triples: DataFrame, pages: DataFrame, n_probes: int = 8) -> DataFrame:
    """Point-in-time KG read -> (probe_s, subj, pred, version, obj):
    for each of `n_probes` instants evenly spaced over the corpus
    clock, the fact version that was CURRENT at that instant — the
    time-travel query the SCD2 spine (scd2_facts) exists to answer,
    and the reproducibility primitive for training-data provenance
    ("rebuild the KG exactly as it stood when run X trained").

    A version is current at T iff valid_from_s <= T <= valid_to_s
    (valid_to NULL = still open). Facts whose first version opens
    after T are correctly absent at T.

    Scale shape: the probe table is built DISTRIBUTED (one 1-row
    min/max agg over pages -> sequence() explode), never collected;
    it then broadcasts (n_probes rows) into a nested-loop join with
    the range predicate — output bounded by n_probes x |current spine
    rows|, each spine row matching <= n_probes probes. The spine
    itself is the one-exchange scd2_facts plan."""
    spine = scd2_facts(triples, pages)
    probes = (
        pages.agg(
            F.min(F.unix_timestamp("warc_ts")).cast("bigint").alias("lo"),
            F.max(F.unix_timestamp("warc_ts")).cast("bigint").alias("hi"),
        )
        .select(
            F.explode(
                F.expr(
                    f"transform(sequence(0, {n_probes - 1}),"
                    f" k -> lo + ((hi - lo) * k) div {n_probes})"
                )
            ).alias("probe_s")
        )
    )
    return (
        spine.join(
            F.broadcast(probes),
            (F.col("valid_from_s") <= F.col("probe_s"))
            & (
                F.col("valid_to_s").isNull()
                | (F.col("probe_s") <= F.col("valid_to_s"))
            ),
        )
        .select("probe_s", "subj", "pred", "version", "obj")
    )


def duck_asof_facts_sql(
    triples_sql: str, pages_sql_duck: str, n_probes: int = 8
) -> str:
    """Oracle: same read over the replayed spine, probes derived from
    the planted clock (warc_ts = BASE_EPOCH + doc_id) — an independent
    derivation that re-certifies the Spark side's min/max + epoch
    conversion."""
    from nerpii_spark.sources.pages import BASE_EPOCH

    return f"""
with spine as ({duck_scd2_facts_sql(triples_sql)}),
bounds as (
  select cast({BASE_EPOCH} + min(doc_id) as bigint) as lo,
         cast({BASE_EPOCH} + max(doc_id) as bigint) as hi
  from ({pages_sql_duck})
),
probes as (
  select cast(lo + ((hi - lo) * k) // {n_probes} as bigint) as probe_s
  from bounds, range(0, {n_probes}) r(k)
)
select probe_s, subj, pred, version, obj
from spine join probes
  on valid_from_s <= probe_s
 and (valid_to_s is null or probe_s <= valid_to_s)
"""


def truth_discovery(triples: DataFrame, rounds: int = 2) -> DataFrame:
    """Truth discovery over conflicting web claims -> (subj, pred, obj,
    belief, n_hosts): iterative source-reliability voting (the Sums
    scheme of Pasternack & Roth 2010, the HITS of fact-finding) that
    adjudicates multi-valued (subj, pred) conflicts BEYOND majority
    vote — a claim asserted by few reliable hosts beats one spammed by
    many template mirrors, because host trust is itself learned from
    how often a host agrees with well-supported claims.

    Fixed point, all-bigint: t0(h) = 1e6 for every host; per round,
    belief(c) = sum of t(h) over hosts asserting claim c, then
    raw(h) = sum of belief(c) over h's claims and t(h) = 1e6 * raw(h)
    div max_raw (max-normalization keeps the iteration in range:
    t <= 1e6, belief <= 1e6 * hosts_per_claim, raw <= 1e6 * C * H for
    C claims/host x H hosts/claim — overflow needs C*H > 9e12).
    Output keeps EVERY claim with its final belief plus the
    row_number-selected winner is left to the consumer; n_hosts rides
    along so the majority-vote baseline is visible next to the
    learned belief.

    Scale shape: claims collapse to distinct (host, subj, pred, obj)
    once and localCheckpoint (every round re-reads them); each round
    is two vocabulary-keyed equi-joins (host -> trust, claim-key ->
    belief; both map-side-combined groupBys — a Zipf-hot host skews
    only a probe side, AQE splits it) plus ONE max row crossJoined
    back as the normalizer (the 1-row broadcast pattern). Trust is
    localCheckpoint'd per round: self-joins over live Python stages
    recompute them."""
    claims = (
        triples.select(
            F.expr("regexp_extract(url, 'https?://([^/]+)', 1)").alias(
                "host"
            ),
            "subj", "pred", "obj",
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    trust = claims.select("host").distinct().withColumn(
        "t", F.lit(1_000_000).cast("bigint")
    )
    key = ["subj", "pred", "obj"]
    belief = None
    for _ in range(rounds):
        belief = (
            claims.join(trust, "host")
            .groupBy(*key)
            .agg(F.sum("t").cast("bigint").alias("belief"))
        )
        raw = (
            claims.join(belief, key)
            .groupBy("host")
            .agg(F.sum("belief").cast("bigint").alias("raw"))
        )
        mx = raw.agg(F.max("raw").alias("mx"))
        trust = (
            raw.crossJoin(F.broadcast(mx))
            .select(
                "host",
                F.expr("(1000000 * raw) div mx").cast("bigint").alias("t"),
            )
            .localCheckpoint(eager=True)
        )
    n_hosts = claims.groupBy(*key).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hosts")
    )
    return belief.join(n_hosts, key).select(
        "subj", "pred", "obj", "belief", "n_hosts"
    )


def duck_truth_discovery_sql(
    triples_sql: str, pages_sql_duck: str, rounds: int = 2
) -> str:
    """Oracle: chained-CTE replay of the Sums iteration over planted
    golden triples joined to planted urls (host derivation certified
    independently). DuckDB sum(bigint) is HUGEINT -> cast every sum."""
    ctes = [
        f"""claims as (
  select distinct regexp_extract(p.url, 'https?://([^/]+)', 1) as host,
         t.subj, t.pred, t.obj
  from ({triples_sql}) t
  join (select doc_id, url from ({pages_sql_duck})) p using (doc_id)
)""",
        "t0 as (select distinct host, cast(1000000 as bigint) as t"
        " from claims)",
    ]
    prev = "t0"
    for i in range(1, rounds + 1):
        ctes.append(
            f"""b{i} as (
  select c.subj, c.pred, c.obj, cast(sum(t.t) as bigint) as belief
  from claims c join {prev} t using (host)
  group by 1, 2, 3
)"""
        )
        ctes.append(
            f"""r{i} as (
  select c.host, cast(sum(b.belief) as bigint) as raw
  from claims c
  join b{i} b on c.subj = b.subj and c.pred = b.pred and c.obj = b.obj
  group by 1
)"""
        )
        ctes.append(
            f"""t{i} as (
  select host,
         cast((1000000 * raw) // (select max(raw) from r{i}) as bigint)
           as t
  from r{i}
)"""
        )
        prev = f"t{i}"
    return (
        "with " + ",\n".join(ctes) + f"""
select c.subj, c.pred, c.obj, b.belief,
       cast(count(*) as bigint) as n_hosts
from claims c
join b{rounds} b on c.subj = b.subj and c.pred = b.pred and c.obj = b.obj
group by c.subj, c.pred, c.obj, b.belief
"""
    )


# ---------------------------------------------------------------------------
# Frequent itemsets (distributed Apriori over per-host entity baskets)
# ---------------------------------------------------------------------------

FI_SUPPORT_DIV = 1000  # support floor = max(3, basket_rows div 1000)
FI_MAX_ITEMS = 64  # degenerate-basket guard (boilerplate hosts)


def frequent_itemsets(mentions: DataFrame, pages: DataFrame) -> DataFrame:
    """Distributed Apriori (Agrawal & Srikant 1994) over per-HOST entity
    baskets -> (k, items, support): frequent 1/2/3-itemsets of entity
    surfaces co-hosted on a domain, support floored at
    max(2, n_baskets div 20) — the market-basket view of entity
    relatedness one level above q_entity_cooccur's per-document pair
    lift (baskets are hosts, and k=3 sets surface the org+city+state
    co-location patterns pairs cannot).

    The Apriori property does the scale work: candidate (a,b,c) triads
    are generated ONLY from baskets restricted to frequent items (L1)
    and are pruned by THREE frequent-pair (L2) semi-joins — (a,b),
    (b,c), (a,c) — BEFORE the counting agg, so candidate volume is
    bounded by the frequent-pair graph, not |basket|^3. L1 restriction
    plus the FI_MAX_ITEMS window cap (the entity_cooccur degenerate-doc
    guard, applied per host) bounds per-basket fan-out; L2 is
    support-bounded (<= pair_occurrences/s rows), comfortably broadcast
    at a 5% floor regardless of corpus size. All thresholds are integer
    and derived from the data (n_baskets), so every scale replays
    identically in the oracle."""
    from pyspark.sql import Window as W

    baskets = (
        mentions.where(F.col("entity_type").isin(list(COOCCUR_TYPES)))
        .select("doc_id", F.col("mention").alias("item"))
        .join(
            pages.select(
                "doc_id",
                F.expr(
                    "regexp_extract(url, 'https?://([^/]+)', 1)"
                ).alias("host"),
            ),
            "doc_id",
        )
        .select("host", "item")
        .distinct()
    )
    thr = baskets.agg(
        F.expr(
            f"greatest(cast(3 as bigint),"
            f" cast(count(*) as bigint) div {FI_SUPPORT_DIV})"
        ).alias("s")
    )
    l1 = (
        baskets.groupBy("item")
        .agg(F.count("*").cast("bigint").alias("support"))
        .crossJoin(F.broadcast(thr))
        .where(F.col("support") >= F.col("s"))
        .select("item", "support")
        .localCheckpoint(eager=False)
    )
    hi = (
        baskets.join(l1.select("item"), "item", "left_semi")
        .withColumn("ni", F.count("*").over(W.partitionBy("host")))
        .where(F.col("ni") <= FI_MAX_ITEMS)
        .select("host", "item")
        .localCheckpoint(eager=False)
    )
    pairs = (
        hi.join(
            hi.select(
                F.col("host").alias("host_b"), F.col("item").alias("b")
            ),
            (F.col("host") == F.col("host_b")) & (F.col("item") < F.col("b")),
        )
        .groupBy(F.col("item").alias("a"), "b")
        .agg(F.count("*").cast("bigint").alias("support"))
    )
    l2 = (
        pairs.crossJoin(F.broadcast(thr))
        .where(F.col("support") >= F.col("s"))
        .select("a", "b", "support")
        .localCheckpoint(eager=False)
    )
    l2k = l2.select("a", "b")
    hp = (
        hi.select(F.col("host"), F.col("item").alias("a"))
        .join(
            hi.select(F.col("host").alias("hb"), F.col("item").alias("b")),
            (F.col("host") == F.col("hb")) & (F.col("a") < F.col("b")),
        )
        .select("host", "a", "b")
        .join(F.broadcast(l2k), ["a", "b"], "left_semi")
    )
    tri = (
        hp.join(
            hi.select(F.col("host").alias("hc"), F.col("item").alias("c")),
            (F.col("host") == F.col("hc")) & (F.col("b") < F.col("c")),
        )
        .select("host", "a", "b", "c")
        .join(
            F.broadcast(l2k.select(F.col("a").alias("b"), F.col("b").alias("c"))),
            ["b", "c"],
            "left_semi",
        )
        .join(
            F.broadcast(l2k.select("a", F.col("b").alias("c"))),
            ["a", "c"],
            "left_semi",
        )
        .groupBy("a", "b", "c")
        .agg(F.count("*").cast("bigint").alias("support"))
    )
    l3 = (
        tri.crossJoin(F.broadcast(thr))
        .where(F.col("support") >= F.col("s"))
        .select("a", "b", "c", "support")
    )
    return (
        l1.select(
            F.lit(1).cast("bigint").alias("k"),
            F.col("item").alias("items"),
            "support",
        )
        .unionAll(
            l2.select(
                F.lit(2).cast("bigint").alias("k"),
                F.expr("concat(a, '|', b)").alias("items"),
                "support",
            )
        )
        .unionAll(
            l3.select(
                F.lit(3).cast("bigint").alias("k"),
                F.expr("concat(a, '|', b, '|', c)").alias("items"),
                "support",
            )
        )
    )


def duck_frequent_itemsets_sql(mentions_sql: str, pages_sql: str) -> str:
    """Oracle twin of frequent_itemsets: identical basket construction,
    data-derived support floor, L1 restriction, FI_MAX_ITEMS cap and
    triple L2 prune, unrolled as materialized CTEs."""
    return f"""
with fi_b as materialized (
  select distinct regexp_extract(p.url, 'https?://([^/]+)', 1) as host,
                  m.mention as item
  from ({mentions_sql}) m join ({pages_sql}) p using (doc_id)
  where m.entity_type in ('LOCATION', 'ORGANIZATION', 'PERSON')
),
fi_thr as materialized (
  select greatest(cast(3 as bigint),
                  cast(count(*) as bigint) // {FI_SUPPORT_DIV})
         as s
  from fi_b
),
fi_l1 as materialized (
  select item, cast(count(*) as bigint) as support
  from fi_b group by 1
  having cast(count(*) as bigint) >= (select s from fi_thr)
),
fi_hi as materialized (
  select host, item from (
    select host, item, count(*) over (partition by host) as ni
    from fi_b where item in (select item from fi_l1)
  ) where ni <= {FI_MAX_ITEMS}
),
fi_l2 as materialized (
  select a.item as a, b.item as b, cast(count(*) as bigint) as support
  from fi_hi a join fi_hi b on a.host = b.host and a.item < b.item
  group by 1, 2
  having cast(count(*) as bigint) >= (select s from fi_thr)
),
fi_tri as materialized (
  select t.a, t.b, c.item as c, cast(count(*) as bigint) as support
  from (
    select a.host, a.item as a, b.item as b
    from fi_hi a join fi_hi b on a.host = b.host and a.item < b.item
    where exists (select 1 from fi_l2 l where l.a = a.item and l.b = b.item)
  ) t
  join fi_hi c on c.host = t.host and t.b < c.item
  where exists (select 1 from fi_l2 l where l.a = t.b and l.b = c.item)
    and exists (select 1 from fi_l2 l where l.a = t.a and l.b = c.item)
  group by 1, 2, 3
  having cast(count(*) as bigint) >= (select s from fi_thr)
)
select cast(1 as bigint) as k, item as items, support from fi_l1
union all
select cast(2 as bigint), a || '|' || b, support from fi_l2
union all
select cast(3 as bigint), a || '|' || b || '|' || c, support from fi_tri
"""


# ---------------------------------------------------------------------------
# freshness-decayed fact support (KG maintenance: recency-weighted belief)
# ---------------------------------------------------------------------------

DECAY_HALF_LIFE = 64  # in doc_id (capture-clock) units; warc_ts = BASE + doc_id
DECAY_MAX_SHIFT = 40  # weights live in Q40 fixed point: weight = 2^(40 - k)


def fact_decay(
    triples: DataFrame,
    half_life: int = DECAY_HALF_LIFE,
    max_shift: int = DECAY_MAX_SHIFT,
) -> DataFrame:
    """Exponentially time-decayed assertion support per (subj, pred, obj)
    — the recency-weighted counterpart of plain triple support: a fact
    asserted once yesterday outranks one asserted five half-lives ago,
    the signal KG maintenance uses to retire stale beliefs (cf. the
    sliding-window/decay sketches of Datar et al. 2002).

    All-integer so the DuckDB oracle replays bit-for-bit: age is in
    capture-clock units (doc_id; warc_ts = BASE_EPOCH + doc_id on this
    corpus), each assertion weighs 2^(max_shift - min(age//half_life,
    max_shift)) — exact halving per half-life, floored at weight 1, so
    support_q40 is sum of powers of two in Q40 fixed point (support of
    1.0 "fresh units" == 2^40). Plan: one 1-row max(doc_id) agg
    broadcast back (the split_temporal pattern), then ONE map-side-
    combined groupBy — no window, no self-join; weights are computed
    per-row in codegen. Scale: group count = distinct facts; partial
    aggs absorb Zipf-hot predicates the same way plain support does.

    int32 traps (CLAUDE.md): the shift base is cast to bigint on BOTH
    sides (DuckDB `1 << 39` overflows INT32; Spark ANSI likewise for
    literal products)."""
    mx = triples.agg(F.max("doc_id").alias("__mx"))
    k = f"least((__mx - doc_id) div {half_life}, {max_shift})"
    w = f"shiftleft(cast(1 as bigint), {max_shift} - {k})"
    return (
        triples.crossJoin(F.broadcast(mx))
        .groupBy("subj", "pred", "obj")
        .agg(
            F.count("*").cast("bigint").alias("n_assertions"),
            F.max("doc_id").cast("bigint").alias("latest_doc"),
            F.expr(f"cast(sum({w}) as bigint)").alias("support_q40"),
        )
    )


def duck_fact_decay_sql(
    triples_rel: str,
    half_life: int = DECAY_HALF_LIFE,
    max_shift: int = DECAY_MAX_SHIFT,
) -> str:
    """DuckDB twin of fact_decay over a (doc_id, subj, pred, obj)
    relation. sum(bigint) is HUGEINT (cast); `//` is DuckDB's integer
    div; the shifted 1 is cast to bigint before `<<`."""
    k = f"least((mx - doc_id) // {half_life}, {max_shift})"
    w = f"(cast(1 as bigint) << ({max_shift} - {k}))"
    return f"""
with t as ({triples_rel}),
m as (select max(doc_id) as mx from t)
select subj, pred, obj,
       cast(count(*) as bigint) as n_assertions,
       cast(max(doc_id) as bigint) as latest_doc,
       cast(sum({w}) as bigint) as support_q40
from t cross join m
group by 1, 2, 3
"""


# ---------------------------------------------------------------------------
# distant-supervision evidence spans (Mintz et al. 2009): every emitted
# triple with the exact text span between its two mentions — the
# training-example emitter for relation-classifier distillation, and a
# driver-grade certification of the detector's byte offsets (the
# substring only reproduces subj..obj if begin/end are exact).
# ---------------------------------------------------------------------------


def rel_evidence(
    mentions: DataFrame,
    clean: DataFrame,
    doc_key: str = "doc_id",
) -> DataFrame:
    """(doc_id, subj, pred, obj, evidence) where evidence is the
    substring of the clean text from the subject mention's begin to the
    object mention's end — the same sentence-local pair join as
    extract_triples (multiplicity identical by construction) plus ONE
    doc-keyed join against clean text for the substring. Offsets are
    0-based from the detector; substring is 1-based — the +1 is load-
    bearing and certified by the oracle, which rebuilds each evidence
    string from the planted template surfaces instead of offsets."""
    a = mentions.where(F.col("entity_type").isin(SUBJ_TYPES)).select(
        F.col(doc_key),
        F.col("sid"),
        F.col("entity_type").alias("s_type"),
        F.col("mention").alias("subj"),
        F.col("begin").alias("s_begin"),
        F.col("end").alias("s_end"),
    )
    b = mentions.where(F.col("entity_type").isin(OBJ_TYPES)).select(
        F.col(doc_key).alias("b_doc_key"),
        F.col("sid").alias("b_sid"),
        F.col("entity_type").alias("o_type"),
        F.col("mention").alias("obj"),
        F.col("begin").alias("o_begin"),
        F.col("end").alias("o_end"),
        "m_works",
        "m_lives",
        "m_in",
    )
    joined = a.join(
        b,
        (a[doc_key] == b.b_doc_key)
        & (a.sid == b.b_sid)
        & (a.s_end < b.o_begin),
        "inner",
    )
    ev = (
        joined.withColumn("pred", _pred_expr())
        .where(F.col("pred").isNotNull())
        .select(doc_key, "subj", "pred", "obj", "s_begin", "o_end")
    )
    return ev.join(clean.select(doc_key, "text"), doc_key).select(
        doc_key,
        "subj",
        "pred",
        "obj",
        F.expr(
            "substring(text, cast(s_begin + 1 as int),"
            " cast(o_end - s_begin as int))"
        ).alias("evidence"),
    )


NE_SALIENCE_TYPES = ("PERSON", "ORGANIZATION", "LOCATION")


def entity_salience(
    mentions: DataFrame,
    doc_key: str = "doc_id",
    types: tuple[str, ...] = NE_SALIENCE_TYPES,
) -> DataFrame:
    """Per-document entity salience -> (doc_id, entity_type,
    mention_norm, n_mentions, first_begin, sal_rank): the classic
    position+frequency salience signal (Gamon 2013-style features,
    integer-exact) that weights which facts a page is ABOUT — a triple
    whose subject is the page's top-salience entity deserves more KG
    trust than one buried mid-footer. Named-entity mentions only
    (PERSON/ORGANIZATION/LOCATION); surface-normalized by lower()
    (canonical-cluster salience = join sal_rank with the linker's
    resolve_mentions — kept separate so salience stays a pure one-table
    derivation).

    sal_rank ranks entities WITHIN a document by (n_mentions desc,
    first_begin asc, entity_type asc, mention_norm asc) — earlier first
    mention wins ties, and the trailing string keys make the order
    total, so both engines rank identically.

    Scale shape: ONE map-side-combined groupBy over (doc, type, norm) —
    a mention-heavy page arrives pre-aggregated — then the rank window
    repartitions only the per-doc ENTITY rows (bounded by distinct
    entities per page, not mentions). No UDFs, no collect; offsets are
    the detector's certified 0-based begins (see rel_evidence), so the
    golden oracle's independent template-arithmetic reconstruction of
    first_begin certifies every occurrence's absolute position."""
    from pyspark.sql import Window as W

    g = (
        mentions.where(F.col("entity_type").isin(list(types)))
        .groupBy(
            doc_key,
            "entity_type",
            F.lower(F.col("mention")).alias("mention_norm"),
        )
        .agg(
            F.count("*").alias("n_mentions"),
            F.min("begin").cast("bigint").alias("first_begin"),
        )
    )
    w = W.partitionBy(doc_key).orderBy(
        F.desc("n_mentions"),
        F.asc("first_begin"),
        F.asc("entity_type"),
        F.asc("mention_norm"),
    )
    return g.withColumn(
        "sal_rank", F.row_number().over(w).cast("bigint")
    )


# ---------------------------------------------------------------------------
# Hearst-pattern hypernym extraction (taxonomy induction)
# ---------------------------------------------------------------------------

# a Capitalized token group ("New York", "Prestige Group", "Kenya")
_HEARST_G = "[A-Z][A-Za-z]*(?: [A-Z][A-Za-z]*)*"
# a comma/and-separated list of such groups ("A, B and C", "A and B")
_HEARST_LIST = f"{_HEARST_G}(?:, {_HEARST_G})*(?:,? and {_HEARST_G})?"


def hearst_hypernyms(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Hearst-pattern hypernym extraction (Hearst 1992, "Automatic
    acquisition of hyponyms from large text corpora") -> one row per
    extracted instance: (doc_id, hyponym, pred='is_a', hypernym,
    pattern). The taxonomy-induction stage of KG construction: turns
    lexical frames into is_a triples with zero supervision. Three
    classic frames:

        such_as:   '<cls> such as <G>, <G> and <G>'
        including: '<cls> including <G> and <G>'
        other:     '<G>, <G> and other <cls>'

    where <G> is a maximal capitalized token group and <cls> the
    adjacent lowercase class noun. The instance list is split on
    ', ' / ' and ' boundaries (gazetteer surfaces never contain either,
    and the capitalization requirement stops the list at the verb
    phrase, so the frames are unambiguous on well-formed sentences).

    Scale shape: entirely row-local — three codegen'd regexp_extracts
    coalesced in ONE projection (one text scan, no union-of-branches
    re-reads), then one split+explode; ZERO shuffles, no UDFs. The
    certification is the strongest kind the repo has: the DuckDB oracle
    (sources/pages.golden_hearst_sql) recomputes the planted truth from
    the hash chain without parsing, so a hash match proves the regex
    frame grammar end to end."""
    sa_cls = f"regexp_extract({text_col}, '([A-Za-z]+) such as {_HEARST_LIST}', 1)"
    sa_lst = f"regexp_extract({text_col}, '[A-Za-z]+ such as ({_HEARST_LIST})', 1)"
    in_cls = f"regexp_extract({text_col}, '([A-Za-z]+) including {_HEARST_LIST}', 1)"
    in_lst = f"regexp_extract({text_col}, '[A-Za-z]+ including ({_HEARST_LIST})', 1)"
    ot_cls = f"regexp_extract({text_col}, '({_HEARST_LIST}),? and other ([A-Za-z]+)', 2)"
    ot_lst = f"regexp_extract({text_col}, '({_HEARST_LIST}),? and other [A-Za-z]+', 1)"
    hit = docs.select(
        "doc_id",
        F.expr(
            f"case when {sa_cls} != '' then named_struct("
            f"  'cls', {sa_cls}, 'lst', {sa_lst}, 'pattern', 'such_as')"
            f" when {in_cls} != '' then named_struct("
            f"  'cls', {in_cls}, 'lst', {in_lst}, 'pattern', 'including')"
            f" when {ot_cls} != '' then named_struct("
            f"  'cls', {ot_cls}, 'lst', {ot_lst}, 'pattern', 'other')"
            f" end"
        ).alias("h"),
    ).where(F.col("h").isNotNull())
    return hit.select(
        "doc_id",
        F.explode(F.expr("split(h.lst, '(,? and )|(, )')")).alias("hyponym"),
        F.lit("is_a").alias("pred"),
        F.col("h.cls").alias("hypernym"),
        F.col("h.pattern").alias("pattern"),
    ).select("doc_id", "hyponym", "pred", "hypernym", "pattern")


# ---------------------------------------------------------------------------
# Coreference-lite: gender-agreeing nearest-preceding pronoun resolution
# ---------------------------------------------------------------------------


def coref_resolve(
    docs: DataFrame,
    female_names: list[str] | None = None,
    male_names: list[str] | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Pronoun resolution -> resolved triples: (doc_id, j, anaphor,
    antecedent, pred, obj). The recall-multiplier stage of KG
    construction: 'Ada Smith works at Acme. She lives in Oslo.' emits
    (Ada Smith, lives_in, Oslo) only if the pronoun resolves. Rule
    (Hobbs-lite, the deterministic core of rule-based coref): an
    anaphor ('He'/'She' heading a sentence) binds to the NEAREST
    PRECEDING person mention whose first-name gender AGREES (frozen
    disjoint name gazetteers by default); no agreeing antecedent ->
    the pronoun sentence is dropped. Sentence grammar: person
    sentences '<First Last> works at|joined ...', pronoun sentences
    '<He|She> lives in|founded <obj>.' (lives in -> lives_in,
    founded -> founded).

    Scale shape: coref is DOCUMENT-LOCAL, so the whole resolution is
    row-local — sentence split, per-sentence regex classification, and
    one O(sentences) aggregate() scan carrying (last_female,
    last_male) running state, all inside one projection chain: ZERO
    shuffles, no window, no UDFs (contrast: explode + window would
    shuffle the full sentence stream by doc_id for a computation that
    never leaves the row). Each stage (__sents, __meta, __res) is its
    own projection column per the no-CSE HOF rule (CLAUDE.md). The
    interpreted-lambda cost is bounded by sentences-per-doc, not
    corpus size, and certification is parse-free: the DuckDB oracle
    (sources/pages.golden_coref_sql) recomputes the truth from the
    hash chain — gender agreement is load-bearing in the planted
    corpus (the nearer candidate has the WRONG gender)."""
    from ..functions import gazetteers as G

    fset = female_names if female_names is not None else list(G.FIRST_FEMALE)
    mset = male_names if male_names is not None else list(G.FIRST_MALE)
    f_arr = "array(" + ", ".join(f"'{n}'" for n in fset) + ")"
    m_arr = "array(" + ", ".join(f"'{n}'" for n in mset) + ")"
    meta = (
        "transform(__sents, s -> named_struct("
        " 'person', regexp_extract(s,"
        "   '^([A-Z][a-z]+ [A-Z][a-z]+) (?:works at|joined) ', 1),"
        " 'pron', regexp_extract(s, '^(He|She) (?:lives in|founded) ', 1),"
        " 'verb', regexp_extract(s, '^(?:He|She) (lives in|founded) ', 1),"
        " 'obj', regexp_extract(s,"
        "   '^(?:He|She) (?:lives in|founded) (.+)\\\\.$', 1)))"
    )
    out_t = (
        "array<struct<j:int,anaphor:string,antecedent:string,"
        "pred:string,obj:string>>"
    )
    emit = (
        "named_struct('j', st.j, 'anaphor', e.pron,"
        " 'antecedent', {ante}, 'pred',"
        " case when e.verb = 'lives in' then 'lives_in' else 'founded' end,"
        " 'obj', e.obj)"
    )
    res = f"""
aggregate(
  __meta,
  named_struct('lf', '', 'lm', '', 'j', 0,
               'out', cast(array() as {out_t})),
  (st, e) -> named_struct(
    'lf', case when e.person != '' and
                    array_contains({f_arr}, split(e.person, ' ')[0])
               then e.person else st.lf end,
    'lm', case when e.person != '' and
                    array_contains({m_arr}, split(e.person, ' ')[0])
               then e.person else st.lm end,
    'j', st.j + 1,
    'out', case
      when e.pron = 'She' and st.lf != ''
        then concat(st.out, array({emit.format(ante='st.lf')}))
      when e.pron = 'He' and st.lm != ''
        then concat(st.out, array({emit.format(ante='st.lm')}))
      else st.out end),
  st -> st.out)
"""
    return (
        docs.select(
            "doc_id",
            F.expr(f"split({text_col}, '(?<=\\\\.) ')").alias("__sents"),
        )
        .select("doc_id", F.expr(meta).alias("__meta"))
        .select("doc_id", F.explode(F.expr(res)).alias("r"))
        .select(
            "doc_id",
            F.col("r.j").cast("bigint").alias("j"),
            F.col("r.anaphor").alias("anaphor"),
            F.col("r.antecedent").alias("antecedent"),
            F.col("r.pred").alias("pred"),
            F.col("r.obj").alias("obj"),
        )
    )


# ---------------------------------------------------------------------------
# Rule application: AMIE-mined rules -> inferred (novel) triples
# ---------------------------------------------------------------------------


def rule_infer(
    triples: DataFrame, min_support: int = 2, tau_e6: int = 20_000
) -> DataFrame:
    """KG completion by applying the mined horn rules (the second half
    of the AMIE loop rule_mining opens — Galarraga 2013 §7 "predicting
    facts"): every rule with support >= min_support and PCA confidence
    >= tau_e6 fires over the fact table, and each derived (subj, pred,
    obj) NOT already asserted is emitted once with its best-supporting
    rule: (subj, pred, obj, conf_pca_e6, rule_type, body1, body2).
    These are CANDIDATE facts ranked by measured rule precision, not
    assertions — AMIE's own usage (its rules sit in the 0.01-1.0
    precision band and feed a downstream acceptor). On this corpus the
    sole admissible rule is works_at(x,o) & located_in(o,c) =>
    lives_in(x,c) at PCA ~0.077: it proposes a home city for every
    person whose employer's city is known, and the low confidence is
    the honest signal that people often live elsewhere. tau default
    20000 ppm admits it with ~4x margin at every tested sf.

    Scale shape: facts = ONE distinct over the triple table,
    localCheckpoint'd because FIVE consumers ride it (mining, both
    body sides, pair application, the novelty anti-join) — live, the
    corpus-sized extraction dataflow would recompute per consumer. The
    accepted rule set is vocabulary-bounded (<= |preds|^3 rows) and
    BROADCAST into both applications, so the only corpus-sized joins
    are the path-body bridge join (keyed on the bridge entity y AND
    body2's predicate — pre-filtered to rule predicates, so dead
    predicates never enter the shuffle; a Zipf-hot bridge y is
    irreducible output, AQE skew-split shards it) and the novelty
    LEFT ANTI join on the full triple key. Best-rule-per-triple is a
    row_number window over (subj, pred, obj) whose partitions are
    <= |accepted rules| BY CONSTRUCTION — never corpus-sized. Total
    order (conf desc, rule_type, body1, body2-coalesced) makes the
    pick engine-exact."""
    from pyspark.sql import Window as W

    facts = (
        triples.select("subj", "pred", "obj").distinct()
        .localCheckpoint(eager=True)
    )
    # vocabulary-bounded (<= |preds|^3); checkpointed because pair and
    # path application BOTH slice it — live, the whole mining join tree
    # executed twice (seen in the physical plan)
    rules = (
        rule_mining(facts, min_support=min_support)
        .where(F.col("conf_pca_e6") >= tau_e6)
        .select("rule_type", "body1", "body2", "head", "conf_pca_e6")
        .localCheckpoint(eager=True)
    )
    pr = rules.where(F.col("rule_type") == "pair")
    inf_pair = facts.join(
        F.broadcast(pr), facts.pred == pr.body1
    ).select(
        "subj", F.col("head").alias("ipred"), "obj",
        "conf_pca_e6", "rule_type", "body1", "body2",
    )
    pp = rules.where(F.col("rule_type") == "path")
    b1 = facts.select(
        F.col("subj").alias("x"), F.col("pred").alias("pa"),
        F.col("obj").alias("y"),
    )
    b2 = facts.select(
        F.col("subj").alias("yb"), F.col("pred").alias("pb"),
        F.col("obj").alias("z"),
    )
    inf_path = (
        b1.join(F.broadcast(pp), b1.pa == pp.body1)
        .join(b2, (F.col("y") == F.col("yb")) & (F.col("pb") == F.col("body2")))
        .select(
            F.col("x").alias("subj"), F.col("head").alias("ipred"),
            F.col("z").alias("obj"),
            "conf_pca_e6", "rule_type", "body1", "body2",
        )
    )
    inferred = inf_pair.unionByName(inf_path).distinct()
    novel = inferred.join(
        facts.select(
            F.col("subj"), F.col("pred").alias("ipred"), F.col("obj")
        ),
        ["subj", "ipred", "obj"],
        "left_anti",
    )
    w = W.partitionBy("subj", "ipred", "obj").orderBy(
        F.desc("conf_pca_e6"), F.asc("rule_type"), F.asc("body1"),
        F.asc(F.coalesce("body2", F.lit(""))),
    )
    return (
        novel.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "subj", F.col("ipred").alias("pred"), "obj",
            "conf_pca_e6", "rule_type", "body1", "body2",
        )
    )


def duck_rule_infer_sql(
    triples_sql: str, min_support: int = 2, tau_e6: int = 20_000
) -> str:
    """DuckDB twin of :func:`rule_infer` — chains the certified mining
    replay (duck_rule_mining_sql) with the same application algebra."""
    mining = duck_rule_mining_sql(triples_sql, min_support=min_support)
    return f"""
with facts as (
  select distinct subj, pred, obj from ({triples_sql})
),
rules as (
  select rule_type, body1, body2, head, conf_pca_e6
  from ({mining}) where conf_pca_e6 >= {tau_e6}
),
inf_pair as (
  select f.subj, r.head as ipred, f.obj,
         r.conf_pca_e6, r.rule_type, r.body1, r.body2
  from facts f join rules r
    on r.rule_type = 'pair' and f.pred = r.body1
),
inf_path as (
  select b1.subj, r.head as ipred, b2.obj,
         r.conf_pca_e6, r.rule_type, r.body1, r.body2
  from facts b1
  join rules r on r.rule_type = 'path' and b1.pred = r.body1
  join facts b2 on b2.subj = b1.obj and b2.pred = r.body2
),
inferred as (
  select distinct * from
    (select * from inf_pair union all select * from inf_path)
),
novel as (
  select i.* from inferred i
  anti join facts f
    on f.subj = i.subj and f.pred = i.ipred and f.obj = i.obj
)
select subj, ipred as pred, obj, conf_pca_e6, rule_type, body1, body2
from novel
qualify row_number() over (
  partition by subj, ipred, obj
  order by conf_pca_e6 desc, rule_type asc, body1 asc,
           coalesce(body2, '') asc) = 1
"""


# ---------------------------------------------------------------------------
# NER training-data export: CoNLL-style BIO token tagging
# ---------------------------------------------------------------------------

BIO_TYPES = ("PERSON", "ORGANIZATION", "LOCATION")


def ner_bio_export(
    clean: DataFrame,
    mentions: DataFrame,
    types: tuple[str, ...] = BIO_TYPES,
) -> DataFrame:
    """CoNLL-2003-style BIO token export -> one row per whitespace
    token: (doc_id, t, token, tag), tag in {O, B-<TYPE>, I-<TYPE>} for
    the named-entity types. This is the training-data FACTORY view of
    the detector: the certified mention spans projected onto the token
    stream become silver-standard NER training sequences — the step
    that turns a web corpus plus a rule detector into model training
    data (the nerpii reference consumes models; this emits what trains
    them). Tagging rule: token tagged iff its start offset lies inside
    a span [begin, end); B- iff it starts the span. Spans are disjoint
    (detector property), so each token matches at most one.

    Scale shape: ONE doc-keyed map-side-combined collect_list gathers
    each doc's spans (bounded by mentions/doc, never corpus-sized),
    one 1:1 doc-keyed join onto the clean text, then everything is
    ROW-LOCAL: the token array with running offsets is one aggregate()
    scan (O(tokens/doc)); span matching materializes the matched span
    per token in its OWN projection (the no-CSE HOF rule — the filter
    runs once per token, not three times); the only other exchange is
    whatever the caller does with the output. Tags certify END offsets
    of every occurrence corpus-wide (I- tokens extend exactly to span
    end) — one step past salience's begin-only certification."""
    tlist = ", ".join(f"'{t}'" for t in types)
    span_t = "array<struct<begin:bigint,end:bigint,entity_type:string>>"
    sp = (
        mentions.where(F.expr(f"entity_type in ({tlist})"))
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("begin", "end", "entity_type"))
            ).alias("__spans")
        )
    )
    tok_t = "array<struct<t:int,tok:string,b:bigint>>"
    toks = f"""
aggregate(
  __ws,
  named_struct('p', cast(0 as bigint), 'i', 0,
               'out', cast(array() as {tok_t})),
  (st, w) -> named_struct(
    'p', st.p + length(w) + 1,
    'i', st.i + 1,
    'out', concat(st.out, array(named_struct(
        't', st.i, 'tok', w, 'b', st.p)))),
  st -> st.out)
"""
    matched = (
        "transform(__toks, tk -> named_struct("
        " 't', tk.t, 'tok', tk.tok, 'b', tk.b,"
        " 's', try_element_at(filter(__spans,"
        "   s -> s.begin <= tk.b and tk.b < s.end), 1)))"
    )
    tagged = (
        "transform(__m, e -> named_struct("
        " 't', e.t, 'tok', e.tok,"
        " 'tag', case when e.s is null then 'O'"
        "  when e.s.begin = e.b then 'B-' || e.s.entity_type"
        "  else 'I-' || e.s.entity_type end))"
    )
    return (
        clean.select("doc_id", "text")
        .join(sp, "doc_id", "left")
        .withColumn(
            "__spans",
            F.coalesce(F.col("__spans"), F.expr(f"cast(array() as {span_t})")),
        )
        .withColumn("__ws", F.expr("split(text, ' ')"))
        .withColumn("__toks", F.expr(toks))
        .withColumn("__m", F.expr(matched))
        .select("doc_id", F.explode(F.expr(tagged)).alias("r"))
        .select(
            "doc_id",
            F.col("r.t").cast("bigint").alias("t"),
            F.col("r.tok").alias("token"),
            F.col("r.tag").alias("tag"),
        )
    )


# ---------------------------------------------------------------------------
# Quotation attribution: direct speech -> (speaker, verb, quote)
# ---------------------------------------------------------------------------

QUOTE_VERB_ALT = "said|announced|warned"


def quote_attribution(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Attributed direct-speech extraction -> (doc_id, speaker, verb,
    quote, form): the KG provenance primitive that turns reported
    speech into (speaker, said, quote) assertions with the speaker as
    a first-class entity mention. Two syntactic frames:

        form 0 (quote-first):   '"<q>," <verb> <First Last>.'
        form 1 (speaker-first): '<First Last> <verb>: "<q>."'

    with a closed reporting-verb alternation (said|announced|warned).
    Patterns are NOT anchored, so a quotation embedded mid-page is
    found (first match wins per frame; quote-first is tried first).

    Scale shape: entirely row-local — six codegen'd regexp_extracts
    coalesced in ONE projection (one text scan), zero shuffles, no
    UDFs; the [^"]+ quote body and the literal frame punctuation
    cannot backtrack. Certification is parse-free: the DuckDB oracle
    (sources/pages.golden_quote_sql) recomputes the planted truth from
    the hash chain."""
    t = F.col(text_col)
    p0 = f'"([^"]+)," ({QUOTE_VERB_ALT}) ([A-Z][a-z]+ [A-Z][a-z]+)\\.'
    p1 = f'([A-Z][a-z]+ [A-Z][a-z]+) ({QUOTE_VERB_ALT}): "([^"]+)\\."'
    hit = docs.select(
        "doc_id",
        F.when(
            F.regexp_extract(t, p0, 1) != "",
            F.struct(
                F.regexp_extract(t, p0, 3).alias("speaker"),
                F.regexp_extract(t, p0, 2).alias("verb"),
                F.regexp_extract(t, p0, 1).alias("quote"),
                F.lit(0).cast("bigint").alias("form"),
            ),
        )
        .when(
            F.regexp_extract(t, p1, 1) != "",
            F.struct(
                F.regexp_extract(t, p1, 1).alias("speaker"),
                F.regexp_extract(t, p1, 2).alias("verb"),
                F.regexp_extract(t, p1, 3).alias("quote"),
                F.lit(1).cast("bigint").alias("form"),
            ),
        )
        .alias("h"),
    ).where(F.col("h").isNotNull())
    return hit.select(
        "doc_id",
        F.col("h.speaker").alias("speaker"),
        F.col("h.verb").alias("verb"),
        F.col("h.quote").alias("quote"),
        F.col("h.form").alias("form"),
    )


# ---------------------------------------------------------------------------
# Numeric-fact extraction: scaled-unit money + grouped counts
# ---------------------------------------------------------------------------


def numeric_facts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Measurement extraction -> (doc_id, subj, pred, value): numeric
    literals normalized to exact bigint values — '$12.4 billion' ->
    12400000000 (revenue_usd), '$87 million' -> 87000000 (raised_usd),
    'population of 1,234,567' -> 1234567 (population). The
    numeric-literal leg of KG construction: unit scaling and
    digit-group normalization are where naive extractors silently emit
    garbage, so both are certified end to end by the hash-chain oracle
    (pages.golden_metric_sql recomputes every value by pure arithmetic
    without parsing — a hash match proves the regex grammar AND the
    integer normalization).

    Scale shape: entirely row-local — the frame regexes are coalesced
    in ONE projection (one text scan, anchored non-backtracking
    patterns), zero shuffles, no UDFs. Arithmetic is bigint-first
    (cast before multiply) per the ANSI int32-literal-product trap
    documented in CLAUDE.md."""
    g = "[A-Z][A-Za-z]*(?: [A-Z][A-Za-z]*)*"
    t = text_col
    p0 = f"'^({g}) reported revenue of \\\\$([0-9]+)\\\\.([0-9]) billion\\\\.$'"
    p1 = f"'^({g}) raised \\\\$([0-9]+) million\\\\.$'"
    p2 = f"'^({g}) has a population of ([0-9]{{1,3}}(?:,[0-9]{{3}})*)\\\\.$'"
    hit = docs.select(
        "doc_id",
        F.expr(
            f"""case
  when regexp_extract({t}, {p0}, 1) != '' then named_struct(
    'subj', regexp_extract({t}, {p0}, 1),
    'pred', 'revenue_usd',
    'value', cast(regexp_extract({t}, {p0}, 2) as bigint) * 1000000000
           + cast(regexp_extract({t}, {p0}, 3) as bigint) * 100000000)
  when regexp_extract({t}, {p1}, 1) != '' then named_struct(
    'subj', regexp_extract({t}, {p1}, 1),
    'pred', 'raised_usd',
    'value', cast(regexp_extract({t}, {p1}, 2) as bigint) * 1000000)
  when regexp_extract({t}, {p2}, 1) != '' then named_struct(
    'subj', regexp_extract({t}, {p2}, 1),
    'pred', 'population',
    'value', cast(replace(regexp_extract({t}, {p2}, 2), ',', '')
                  as bigint))
  end"""
        ).alias("h"),
    ).where(F.col("h").isNotNull())
    return hit.select(
        "doc_id",
        F.col("h.subj").alias("subj"),
        F.col("h.pred").alias("pred"),
        F.col("h.value").alias("value"),
    )


# ---------------------------------------------------------------------------
# Temporal expression normalization: date surfaces -> ISO facts
# ---------------------------------------------------------------------------

_MONTH_ALT = (
    "January|February|March|April|May|June|July|August|September"
    "|October|November|December"
)


def date_facts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """TIMEX-lite temporal fact extraction -> (doc_id, subj, pred,
    date_iso): '<Org> was founded on <date>.' with the date in US
    prose ('March 5, 2024'), ISO ('2024-03-05') or European prose
    ('5 March 2024') form, normalized to the ISO 'YYYY-MM-DD' string.
    The temporal-scoping leg of KG construction: month-name lookup and
    zero-padding are certified end to end by the hash-chain oracle
    (pages.golden_timex_sql never parses).

    Scale shape: row-local — three anchored non-backtracking regexes
    coalesced in ONE projection, month index via array_position over a
    12-literal array, zero shuffles, no UDFs."""
    g = "[A-Z][A-Za-z]*(?: [A-Z][A-Za-z]*)*"
    t = text_col
    marr = "array(" + ", ".join(f"'{m}'" for m in _MONTH_ALT.split("|")) + ")"
    p0 = f"'^({g}) was founded on ({_MONTH_ALT}) ([0-9]+), ([0-9]{{4}})\\\\.$'"
    p1 = f"'^({g}) was founded on ([0-9]{{4}})-([0-9]{{2}})-([0-9]{{2}})\\\\.$'"
    p2 = f"'^({g}) was founded on ([0-9]+) ({_MONTH_ALT}) ([0-9]{{4}})\\\\.$'"
    hit = docs.select(
        "doc_id",
        F.expr(
            f"""case
  when regexp_extract({t}, {p0}, 1) != '' then named_struct(
    'subj', regexp_extract({t}, {p0}, 1),
    'iso', regexp_extract({t}, {p0}, 4) || '-'
         || lpad(cast(array_position({marr},
                regexp_extract({t}, {p0}, 2)) as string), 2, '0')
         || '-' || lpad(regexp_extract({t}, {p0}, 3), 2, '0'))
  when regexp_extract({t}, {p1}, 1) != '' then named_struct(
    'subj', regexp_extract({t}, {p1}, 1),
    'iso', regexp_extract({t}, {p1}, 2) || '-'
         || regexp_extract({t}, {p1}, 3) || '-'
         || regexp_extract({t}, {p1}, 4))
  when regexp_extract({t}, {p2}, 1) != '' then named_struct(
    'subj', regexp_extract({t}, {p2}, 1),
    'iso', regexp_extract({t}, {p2}, 4) || '-'
         || lpad(cast(array_position({marr},
                regexp_extract({t}, {p2}, 3)) as string), 2, '0')
         || '-' || lpad(regexp_extract({t}, {p2}, 2), 2, '0'))
  end"""
        ).alias("h"),
    ).where(F.col("h").isNotNull())
    return hit.select(
        "doc_id",
        F.col("h.subj").alias("subj"),
        F.lit("founded_on").alias("pred"),
        F.col("h.iso").alias("date_iso"),
    )


# ---------------------------------------------------------------------------
# Polarity-aware + voice-canonicalizing extraction
# ---------------------------------------------------------------------------

_NEG_VERB_ALT = "works at|does not work at|no longer works at|never worked at"


def polarity_triples(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Negation-aware extraction -> (doc_id, subj, pred, obj,
    polarity): the employment frame with its three negation surfaces
    classified pos/neg instead of blindly asserted — the extraction-
    PRECISION guard (a pattern matching 'work(s|ed) at' alone would
    emit every negated fact as true; at KG scale that is corpus-sized
    pollution). Downstream keeps polarity = 'pos'; the neg rows remain
    available as explicit negative assertions (NELL-style).

    Row-local: ONE anchored regex whose verb group is the closed
    4-alternation, polarity from a verb CASE — one text scan, zero
    shuffles; parse-free hash-chain oracle."""
    t = text_col
    p = f"'^([A-Z][a-z]+ [A-Z][a-z]+) ({_NEG_VERB_ALT}) (.+)\\\\.$'"
    hit = docs.select(
        "doc_id",
        F.expr(f"regexp_extract({t}, {p}, 1)").alias("subj"),
        F.expr(f"regexp_extract({t}, {p}, 2)").alias("verb"),
        F.expr(f"regexp_extract({t}, {p}, 3)").alias("obj"),
    ).where(F.col("subj") != "")
    return hit.select(
        "doc_id", "subj", F.lit("works_at").alias("pred"), "obj",
        F.expr(
            "case when verb = 'works at' then 'pos' else 'neg' end"
        ).alias("polarity"),
    )


def voice_triples(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Voice-canonicalizing extraction -> (doc_id, subj, pred, obj):
    '<A> acquired <B>.' and '<B> was acquired by <A>.' both emit the
    canonical (acquirer, acquired, target) — the argument-ORDER
    normalization every relation extractor needs for passive voice
    (read naively, the passive frame swaps the arguments and the KG
    asserts the acquisition backwards). Row-local: two anchored
    regexes coalesced in one projection, the passive branch swaps
    capture groups; zero shuffles; parse-free hash-chain oracle."""
    g = "[A-Z][A-Za-z]*(?: [A-Z][A-Za-z]*)*"
    t = text_col
    pa = f"'^({g}) acquired ({g})\\\\.$'"
    pp = f"'^({g}) was acquired by ({g})\\\\.$'"
    hit = docs.select(
        "doc_id",
        F.expr(
            f"""case
  when regexp_extract({t}, {pa}, 1) != '' then named_struct(
    'subj', regexp_extract({t}, {pa}, 1),
    'obj', regexp_extract({t}, {pa}, 2))
  when regexp_extract({t}, {pp}, 1) != '' then named_struct(
    'subj', regexp_extract({t}, {pp}, 2),
    'obj', regexp_extract({t}, {pp}, 1))
  end"""
        ).alias("h"),
    ).where(F.col("h").isNotNull())
    return hit.select(
        "doc_id",
        F.col("h.subj").alias("subj"),
        F.lit("acquired").alias("pred"),
        F.col("h.obj").alias("obj"),
    )


# ---------------------------------------------------------------------------
# KG export: canonical N-Triples serialization
# ---------------------------------------------------------------------------

NT_ENT = "http://kg.example/e/"
NT_PRED = "http://kg.example/p/"
NT_LITERAL_PREDS = ("has_email", "has_phone")


def ntriples_export(
    triples: DataFrame,
    literal_preds: tuple[str, ...] = NT_LITERAL_PREDS,
) -> DataFrame:
    """Canonical N-Triples serialization -> one DISTINCT line per fact:
    the interchange sink of KG construction (what a downstream triple
    store bulk-loads). Entity-valued predicates serialize subject and
    object as IRIs (space -> %20, the only non-IRI byte the planted
    surfaces contain — broader percent-encoding is a straightforward
    extension of the same replace chain); attribute predicates
    (has_email, has_phone) serialize the object as an N-Triples STRING
    LITERAL with spec escaping (backslash doubled FIRST, then quote —
    order matters and is pinned in pytest with crafted input). A hash
    match on the line column certifies byte-exact serialization.

    Scale shape: one distinct over (subj, pred, obj) (map-side
    combined) then a ROW-LOCAL string projection; zero further
    shuffles, no UDFs."""
    lits = ", ".join(f"'{p}'" for p in literal_preds)
    ent = lambda c: f"'<{NT_ENT}' || replace({c}, ' ', '%20') || '>'"
    esc = (
        "replace(replace(obj, '\\\\', '\\\\\\\\'), '\"', '\\\\\"')"
    )
    return (
        triples.select("subj", "pred", "obj")
        .distinct()
        .select(
            F.expr(
                f"{ent('subj')} || ' ' || '<{NT_PRED}' || pred || '>' || ' '"
                f" || case when pred in ({lits})"
                f"      then '\"' || {esc} || '\"'"
                f"      else {ent('obj')} end"
                f" || ' .'"
            ).alias("line")
        )
    )


def duck_ntriples_sql(
    triples_sql: str,
    literal_preds: tuple[str, ...] = NT_LITERAL_PREDS,
) -> str:
    """Oracle twin of ntriples_export (DuckDB literals do NOT process
    backslashes, so the escape replaces are written single-backslash)."""
    lits = ", ".join(f"'{p}'" for p in literal_preds)
    ent = lambda c: f"'<{NT_ENT}' || replace({c}, ' ', '%20') || '>'"
    esc = "replace(replace(obj, '\\', '\\\\'), '\"', '\\\"')"
    return f"""
with facts as (select distinct subj, pred, obj from ({triples_sql}))
select {ent('subj')} || ' ' || '<{NT_PRED}' || pred || '>' || ' '
       || case when pred in ({lits})
            then '"' || {esc} || '"'
            else {ent('obj')} end
       || ' .' as line
from facts
"""


# ---------------------------------------------------------------------------
# SHACL-lite shape validation over the fact table
# ---------------------------------------------------------------------------

SHACL_MAX_SHAPES = (("lives_in", 1), ("located_in", 1), ("works_at", 2))
SHACL_REQUIRES = (("works_at", "lives_in"),)


def shacl_report(
    triples: DataFrame,
    max_shapes: tuple[tuple[str, int], ...] = SHACL_MAX_SHAPES,
    requires: tuple[tuple[str, str], ...] = SHACL_REQUIRES,
) -> DataFrame:
    """SHACL-style shape validation -> one row per violation: (focus,
    pred, n, bound, violation). Two constraint kinds a KG quality gate
    actually runs:

      max_exceeded:     sh:maxCount — a subject asserting more than
                        `bound` distinct objects for pred (a person in
                        3 home cities, an org located in 2 cities —
                        the contradiction surface conflict detection
                        feeds on);
      missing_required: pred A implies pred B (here: an employed
                        subject should have a home city) — the
                        completeness audit that drives targeted
                        re-extraction.

    Scale shape: facts = ONE distinct, localCheckpoint'd (three
    consumers); per-(subj, pred) counts map-side combine; the shape
    table is literal and BROADCAST; the implication check is a
    distinct-subject semi/anti join pair on the subject key. Output is
    violations only — bounded by the corpus's actual inconsistency,
    not its size."""
    facts = (
        triples.select("subj", "pred", "obj").distinct()
        .localCheckpoint(eager=True)
    )
    spark = facts.sparkSession
    shapes = spark.createDataFrame(
        list(max_shapes), "pred string, bound bigint"
    )
    counts = facts.groupBy("subj", "pred").agg(
        F.count("*").cast("bigint").alias("n")
    )
    over = (
        counts.join(F.broadcast(shapes), "pred")
        .where(F.col("n") > F.col("bound"))
        .select(
            F.col("subj").alias("focus"), "pred", "n", "bound",
            F.lit("max_exceeded").alias("violation"),
        )
    )
    out = over
    for a, b in requires:
        has_a = facts.where(F.col("pred") == a).select("subj").distinct()
        has_b = facts.where(F.col("pred") == b).select("subj").distinct()
        missing = has_a.join(has_b, "subj", "left_anti").select(
            F.col("subj").alias("focus"),
            F.lit(b).alias("pred"),
            F.lit(0).cast("bigint").alias("n"),
            F.lit(1).cast("bigint").alias("bound"),
            F.lit("missing_required").alias("violation"),
        )
        out = out.unionByName(missing)
    return out


def duck_shacl_sql(
    triples_sql: str,
    max_shapes: tuple[tuple[str, int], ...] = SHACL_MAX_SHAPES,
    requires: tuple[tuple[str, str], ...] = SHACL_REQUIRES,
) -> str:
    """Oracle twin of shacl_report."""
    vals = ", ".join(f"('{p}', {b})" for p, b in max_shapes)
    req = "\nunion all\n".join(
        f"""select subj as focus, '{b}' as pred, cast(0 as bigint) as n,
       cast(1 as bigint) as bound, 'missing_required' as violation
from (select distinct subj from facts where pred = '{a}') ha
where subj not in (select subj from facts where pred = '{b}')"""
        for a, b in requires
    )
    return f"""
with facts as (select distinct subj, pred, obj from ({triples_sql})),
shapes as (select * from (values {vals}) s(pred, bound)),
counts as (
  select subj, pred, cast(count(*) as bigint) as n
  from facts group by 1, 2
)
select c.subj as focus, c.pred, c.n, cast(s.bound as bigint) as bound,
       'max_exceeded' as violation
from counts c join shapes s using (pred)
where c.n > s.bound
union all
{req}
"""


# ---------------------------------------------------------------------------
# Span-level NER evaluation: detector P/R vs planted mention truth
# ---------------------------------------------------------------------------


def ner_eval(pred_mentions: DataFrame, truth_mentions: DataFrame) -> DataFrame:
    """Mention-level detector evaluation -> one row per entity_type:
    (entity_type, n_pred, n_truth, tp, prec_e6, rec_e6). MULTISET
    semantics on the (doc_id, entity_type, mention) key — a doc
    asserting the same surface twice needs it detected twice — with
    tp = sum of per-key min(pred_count, truth_count). Completes the
    evaluation stack: q_link_eval measures the entity level,
    q_triple_eval the fact level, this the detector level the other
    two build on.

    Scale shape: both sides collapse to per-key counts map-side, the
    FULL OUTER join runs on the (doc, type, mention) key (corpus-
    bounded, no fan-out), and the final agg is |types| rows. No
    windows, no collect, integer e6 metrics with identical truncation
    in both engines."""
    kp = ["doc_id", "entity_type", "mention"]
    p = pred_mentions.groupBy(*kp).agg(
        F.count("*").cast("bigint").alias("np")
    )
    t = truth_mentions.groupBy(*kp).agg(
        F.count("*").cast("bigint").alias("nt")
    )
    j = p.join(t, kp, "full_outer").select(
        "entity_type",
        F.coalesce("np", F.lit(0)).alias("np"),
        F.coalesce("nt", F.lit(0)).alias("nt"),
    )
    return (
        j.groupBy("entity_type").agg(
            F.expr("cast(sum(np) as bigint)").alias("n_pred"),
            F.expr("cast(sum(nt) as bigint)").alias("n_truth"),
            F.expr("cast(sum(least(np, nt)) as bigint)").alias("tp"),
        ).select(
            "entity_type", "n_pred", "n_truth", "tp",
            F.expr(
                "case when n_pred = 0 then 1000000"
                " else (1000000 * tp) div n_pred end"
            ).alias("prec_e6"),
            F.expr(
                "case when n_truth = 0 then 1000000"
                " else (1000000 * tp) div n_truth end"
            ).alias("rec_e6"),
        )
    )


def duck_ner_eval_sql(truth_sql: str) -> str:
    """Oracle twin of ner_eval: on the planted corpus the detector's
    mention multiset EQUALS the truth (the q_detect_mentions gate), so
    both sides replay as the truth and the metrics assert P/R = 1.0
    NUMERICALLY; imperfect-detector algebra is pinned in pytest."""
    return f"""
with t as (
  select doc_id, entity_type, mention, cast(count(*) as bigint) as nt
  from ({truth_sql}) group by 1, 2, 3
)
select entity_type,
       cast(sum(nt) as bigint) as n_pred,
       cast(sum(nt) as bigint) as n_truth,
       cast(sum(nt) as bigint) as tp,
       1000000 as prec_e6, 1000000 as rec_e6
from t group by 1
"""


# ---------------------------------------------------------------------------
# Declarative KG pattern match: star/path conjunctive query
# ---------------------------------------------------------------------------


def kg_pattern_residence(triples: DataFrame) -> DataFrame:
    """Conjunctive triple-pattern query — the SPARQL shape

        ?p works_at ?o . ?o located_in ?wc . OPTIONAL ?p lives_in ?hc

    -> (person, org, work_city, home_city, consistent): every employed
    person with their employer's city, their asserted home city when
    one exists (else NULL), and consistent = 1 iff they match — the
    multi-join pattern-matching core of a KG query engine, and the
    signal q_rule_infer's works/located=>lives rule is calibrated by.

    Scale shape: facts = ONE distinct, checkpointed (three pattern
    legs slice it by predicate); the two equi-joins key on the org and
    person entities (Zipf-hot employers produce irreducible output,
    AQE skew-split shards them); the OPTIONAL leg is a LEFT join, not
    an anti+union. Deterministic: multi-valued lives_in/located_in
    yield one row per combination (bag semantics, as SPARQL does)."""
    facts = (
        triples.select("subj", "pred", "obj").distinct()
        .localCheckpoint(eager=True)
    )
    works = facts.where(F.col("pred") == "works_at").select(
        F.col("subj").alias("person"), F.col("obj").alias("org")
    )
    located = facts.where(F.col("pred") == "located_in").select(
        F.col("subj").alias("org"), F.col("obj").alias("work_city")
    )
    lives = facts.where(F.col("pred") == "lives_in").select(
        F.col("subj").alias("person"), F.col("obj").alias("home_city")
    )
    return (
        works.join(located, "org")
        .join(lives, "person", "left")
        .select(
            "person", "org", "work_city", "home_city",
            F.expr(
                "cast(case when home_city is not null"
                " and home_city = work_city then 1 else 0 end as bigint)"
            ).alias("consistent"),
        )
    )


def duck_kg_pattern_sql(triples_sql: str) -> str:
    """Oracle twin of kg_pattern_residence."""
    return f"""
with facts as (select distinct subj, pred, obj from ({triples_sql})),
works as (select subj as person, obj as org from facts
          where pred = 'works_at'),
located as (select subj as org, obj as work_city from facts
            where pred = 'located_in'),
lives as (select subj as person, obj as home_city from facts
          where pred = 'lives_in')
select w.person, w.org, l.work_city, v.home_city,
       cast(case when v.home_city is not null
                 and v.home_city = l.work_city then 1 else 0 end
            as bigint) as consistent
from works w
join located l using (org)
left join lives v on v.person = w.person
"""


# ---------------------------------------------------------------------------
# Multi-frame extraction over a mixed corpus: cross-talk certification
# ---------------------------------------------------------------------------


def extract_mixed(docs: DataFrame) -> DataFrame:
    """ALL SIX frame grammars (Hearst / quotation / metric / timex /
    negation / voice) over EVERY doc of a mixed corpus -> (doc_id,
    family, subj, pred, obj). The certification this buys is
    extraction PRECISION at the suite level: each grammar sees five
    families of near-miss text it must stay silent on (capitalized
    names, reporting verbs, dollar amounts, dates — the confusable
    surface area), and the oracle's union of per-family goldens hash-
    matches only if cross-talk is exactly zero corpus-wide.

    Scale shape: the corpus frame is localCheckpoint'd once and each
    grammar is a row-local single-projection pass over it (six RAM
    re-reads of one materialized table — not six corpus generations);
    at production scale the same frames fuse into ONE projection per
    scan exactly as extract_triples_inline fuses S1-S3, the checkpoint
    here just keeps the six certified operators byte-identical to
    their standalone forms rather than duplicating their grammars."""
    d = docs.localCheckpoint(eager=True)
    h = hearst_hypernyms(d).select(
        "doc_id", F.lit("hearst").alias("family"),
        F.col("hyponym").alias("subj"), "pred",
        F.col("hypernym").alias("obj"),
    )
    q = quote_attribution(d).select(
        "doc_id", F.lit("quote").alias("family"),
        F.col("speaker").alias("subj"), F.col("verb").alias("pred"),
        F.col("quote").alias("obj"),
    )
    m = numeric_facts(d).select(
        "doc_id", F.lit("metric").alias("family"), "subj", "pred",
        F.expr("cast(value as string)").alias("obj"),
    )
    t = date_facts(d).select(
        "doc_id", F.lit("timex").alias("family"), "subj", "pred",
        F.col("date_iso").alias("obj"),
    )
    n = polarity_triples(d).select(
        "doc_id", F.lit("negation").alias("family"), "subj",
        F.expr("pred || ':' || polarity").alias("pred"), "obj",
    )
    v = voice_triples(d).select(
        "doc_id", F.lit("voice").alias("family"), "subj", "pred", "obj",
    )
    return h.unionByName(q).unionByName(m).unionByName(t) \
        .unionByName(n).unionByName(v)


# ---------------------------------------------------------------------------
# node2vec second-order biased walks (Grover & Leskovec 2016) — the
# p/q-parameterized walk corpus next to the first-order random_walks:
# the bias is what lets one walk corpus interpolate between BFS-like
# (structural roles) and DFS-like (homophily) neighborhoods.

N2V_STEPS = WALK_STEPS
N2V_SALT = 71
N2V_W_RET = 25    # alpha = 1/p with p = 4   (discourage backtracking)
N2V_W_COM = 100   # alpha = 1                (common neighbor of prev)
N2V_W_OUT = 400   # alpha = 1/q with q = 1/4 (encourage exploration)


def _n2v_r(root: str, step: int) -> str:
    """Per-(walk, step) draw in [0, M): the same portable chain the
    first-order walk uses, salted differently."""
    from nerpii_spark.functions.hashing import M, sql_h2, sql_strhash

    return sql_h2(f"({sql_strhash(root)} + {step * 31}) % {M}", N2V_SALT)


def node2vec_walks(
    triples: DataFrame,
    n_steps: int = N2V_STEPS,
    degree_cap: int = WALK_DEGREE_CAP,
    w_ret: int = N2V_W_RET,
    w_com: int = N2V_W_COM,
    w_out: int = N2V_W_OUT,
) -> DataFrame:
    """One deterministic node2vec walk from every node -> (root, step,
    cur). Step t from `cur` (previous node `prev`) picks neighbor n
    with probability proportional to the integer weight

        w_ret  if n == prev           (return,   alpha = 1/p)
        w_com  if n adjacent to prev  (BFS-ish,  alpha = 1)
        w_out  otherwise              (DFS-ish,  alpha = 1/q)

    realized EXACTLY by a cumulative-weight threshold pick: candidates
    sort by name, r = portable_hash(root, t) mod total_weight, take the
    first candidate whose running sum exceeds r — proportional for the
    quantized weights and a pure function of the edge set (the oracle
    replays every draw). Step 1 has no prev: uniform (all w_com).
    Adjacency (both the candidate set and the prev-adjacency test) is
    the DEGREE-CAPPED neighbor_sample graph — same skew argument as
    random_walks: a hub contributes at most `degree_cap` candidate rows
    per walker, and the in-partition windows below are cap-bounded.

    Scale shape per step: ONE equi-join (cur -> capped neighbors), one
    broadcast-shaped LEFT join marking prev-adjacency (the capped
    adjacency keyed by (prev, nbr) — an equi-join, never a filter
    scan), then a cumulative-sum window + a total window SHARING the
    partitionBy(root) exchange, one threshold argmin agg. Frontier
    localCheckpoint'd per step (the CC/pagerank discipline).
    Reference: this is a from-scratch web-scale addition (nerpii has no
    graph stage); cites Grover & Leskovec 2016 for the alpha rule."""
    from pyspark.sql import Window as W

    e = (
        neighbor_sample(triples, k=degree_cap)
        .select("node", "nbr")
        .localCheckpoint(eager=True)
    )
    pos = (
        e.select(F.col("node").alias("root"))
        .distinct()
        .withColumn("cur", F.col("root"))
        .withColumn("prev", F.lit(None).cast("string"))
    )
    mark = e.select(
        F.col("node").alias("prev"),
        F.col("nbr").alias("nbr"),
        F.lit(1).alias("is_adj"),
    )
    out = None
    for t in range(1, n_steps + 1):
        cand = (
            pos.join(e, pos.cur == e.node)
            .select("root", "prev", "cur", "nbr")
            .join(mark, ["prev", "nbr"], "left")
            .withColumn(
                "w",
                F.expr(
                    f"case when prev is null then {w_com}"
                    f" when nbr = prev then {w_ret}"
                    f" when is_adj = 1 then {w_com}"
                    f" else {w_out} end"
                ).cast("bigint"),
            )
        )
        win = W.partitionBy("root").orderBy("nbr")
        tot_win = W.partitionBy("root")
        picked = (
            cand.withColumn("cw", F.sum("w").over(win))
            .withColumn("tot", F.sum("w").over(tot_win))
            .withColumn("r", F.expr(f"({_n2v_r('root', t)}) % tot"))
            .where(F.col("cw") > F.col("r"))
            .groupBy("root")
            .agg(
                F.min(F.struct("cw", F.col("nbr").alias("n"))).alias("b"),
                F.min("cur").alias("old_cur"),
            )
            .select(
                "root",
                F.col("old_cur").alias("prev"),
                F.col("b.n").alias("cur"),
            )
        )
        picked = picked.localCheckpoint(eager=True)
        step_rows = picked.select(
            "root", F.lit(t).cast("bigint").alias("step"), "cur"
        )
        out = step_rows if out is None else out.unionByName(step_rows)
        pos = picked
    return out


def duck_node2vec_walks_sql(
    triples_sql: str,
    n_steps: int = N2V_STEPS,
    degree_cap: int = WALK_DEGREE_CAP,
    w_ret: int = N2V_W_RET,
    w_com: int = N2V_W_COM,
    w_out: int = N2V_W_OUT,
) -> str:
    """Chained-CTE replay of node2vec_walks: same capped adjacency, same
    weights, same cumulative-threshold pick (row_number over cw > r is
    an independent formulation of min(struct)). Every CTE MATERIALIZED
    per the duck_random_walks_sql planning-blowup note."""
    ctes = [
        f"""
adj as materialized (
  select node, nbr from ({duck_neighbor_sample_sql(triples_sql, k=degree_cap)})
),
v0 as (select distinct node as root, cast(null as varchar) as prev,
              node as cur from adj)"""
    ]
    finals = []
    for t in range(1, n_steps + 1):
        r = _n2v_r("c.root", t)
        ctes.append(
            f"""
c{t} as materialized (
  select v.root as root, v.prev as prev, v.cur as cur, adj.nbr as nbr,
         cast(case when v.prev is null then {w_com}
                   when adj.nbr = v.prev then {w_ret}
                   when exists (select 1 from adj a2
                                where a2.node = v.prev
                                  and a2.nbr = adj.nbr) then {w_com}
                   else {w_out} end as bigint) as w
  from v{t - 1} v join adj on v.cur = adj.node
),
p{t} as materialized (
  select root, prev, cur, nbr from (
    select c.*,
           sum(w) over (partition by c.root order by c.nbr
                        rows unbounded preceding) as cw,
           sum(w) over (partition by c.root) as tot
    from c{t} c
  ) c where cw > ({r}) % tot
  qualify row_number() over (partition by root order by cw, nbr) = 1
),
v{t} as materialized (
  select root, cur as prev, nbr as cur from p{t}
)"""
        )
        finals.append(
            f"select root, cast({t} as bigint) as step, cur from v{t}"
        )
    return "with " + ",".join(ctes) + " " + " union all ".join(finals)
