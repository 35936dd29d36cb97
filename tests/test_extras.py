"""Training-data extras: dedup recall, ANN recall, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from nerpii_spark.operators import dedup as D
from nerpii_spark.operators import multimodal as MM
from nerpii_spark.operators import similarity as SIM

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def dup_docs(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    docs.createOrReplaceTempView("x_documents")
    return spark.sql(D.dup_docs_sql("spark", doc_rel="x_documents")).cache()


def test_exact_dedup_survivors(dup_docs):
    groups = D.exact_dedup_groups(dup_docs).collect()
    n_docs = dup_docs.count()
    dup_groups = [g for g in groups if g["n_copies"] > 1]
    # every planted exact copy collapses onto its base doc (min id)
    assert all(g["keep_id"] < D.DUP_EXACT_OFF for g in dup_groups)
    assert sum(g["n_copies"] for g in groups) == n_docs


def test_minhash_finds_planted_pairs(dup_docs):
    got = {(r["id_a"], r["id_b"]) for r in D.minhash_dup_pairs(dup_docs).collect()}
    base_ids = [
        r["doc_id"] for r in dup_docs.where(
            F.col("doc_id") < D.DUP_EXACT_OFF
        ).collect()
    ]
    for d in base_ids:
        if d % 10 == 0:
            assert (d, d + D.DUP_EXACT_OFF) in got
        if d % 7 == 3:
            assert (d, d + D.DUP_NEAR_OFF) in got


def test_ngram_hot_shingle_guard(spark):
    """A shingle present in every doc must NOT produce O(n^2) candidates:
    the df cap drops it from candidate generation, and dissimilar docs
    yield no pairs. Counts stay exact for real pairs (verified from the
    full shingle sets, not the capped ones)."""
    n = 40
    rows = [(i, f"u{i}a u{i}b u{i}c u{i}d common boiler plate") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    # every doc shares the hot shingles; with max_df < n they generate 0
    # candidates, and no doc-specific shingle is shared
    cand = D.ngram_candidate_pairs(docs, max_df=8)
    assert cand.count() == 0
    assert D.ngram_jaccard_pairs(docs, max_df=8).count() == 0
    # two genuine near-dups are still found exactly through their shared
    # doc-specific shingles, with counts from the FULL sets
    rows.append((1000, rows[0][1] + " tail"))
    docs2 = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = D.ngram_jaccard_pairs(docs2, max_df=8).collect()
    assert [(r.id_a, r.id_b) for r in got] == [(0, 1000)]
    # full sets: doc0 has 5 shingles (7 words), doc1000 has 6, sharing all
    # 5 of doc0's — including the hot one the candidate stage dropped
    assert got[0].n_inter == 5 and got[0].n_union == 6


def test_simhash_python_spark_parity(spark, dup_docs):
    sigs = {r["doc_id"]: r["simhash"]
            for r in D.simhash_signatures(dup_docs.limit(30)).collect()}
    rows = {r["doc_id"]: r["text"] for r in dup_docs.limit(30).collect()}
    for d, text in rows.items():
        ws = text.lower().split(" ")
        n = max(len(ws) - 2, 1)
        shingles = list(dict.fromkeys(
            " ".join([ws[i], ws[min(i + 1, len(ws) - 1)],
                      ws[min(i + 2, len(ws) - 1)]])
            for i in range(n)
        ))
        assert sigs[d] == D.simhash_py(shingles)


def test_lsh_topk_recall(spark):
    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    brute = SIM.cosine_topk(embs, "vec_id < 16", k=3).collect()
    ann = SIM.hyperplane_lsh_topk(embs, "vec_id < 16", k=3).collect()
    b = {(r["query_id"], r["neighbor_id"]) for r in brute}
    a = {(r["query_id"], r["neighbor_id"]) for r in ann}
    assert len(a & b) / len(b) >= 0.5  # noisy embeddings: modest-tau regime


def test_ivf_topk_recall(spark):
    """IVF coarse-quantized ANN: recall vs brute force at default
    n_probe; near-exact when probing (almost) all cells."""
    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    b = {(r["query_id"], r["neighbor_id"])
         for r in SIM.cosine_topk(embs, "vec_id < 16", k=3).collect()}
    a = {(r["query_id"], r["neighbor_id"])
         for r in SIM.ivf_topk(embs, "vec_id < 16", k=3).collect()}
    assert len(a & b) / len(b) >= 0.7  # random (clusterless) vectors
    full = {(r["query_id"], r["neighbor_id"])
            for r in SIM.ivf_topk(embs, "vec_id < 16", k=3,
                                  n_probe=16).collect()}
    assert full == b  # probing every cell degenerates to exact search


def test_pq_topk_recall(spark):
    """PQ+refine ANN: recall vs EXACT squared-L2 over the same quantized
    ints (numpy replay of _quant_expr). The ADC shortlist (k * 32
    candidates) re-ranks by exact L2, so even on random (clusterless)
    embeddings — the hardest regime for an 8-code compression — recall
    should be high; per-query shape invariants are checked too."""
    import numpy as np

    from nerpii_spark.operators.cluster import QUANT

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    rows = embs.collect()
    X = np.stack([
        np.round(np.asarray(r["embedding"], dtype=np.float64) * QUANT)
        for r in rows
    ]).astype(np.int64)
    ids = np.array([r["vec_id"] for r in rows])
    order = np.argsort(ids)
    X, ids = X[order], ids[order]
    exact = set()
    for qi in np.flatnonzero(ids < 16):
        d = ((X - X[qi]) ** 2).sum(axis=1)
        d[qi] = np.iinfo(np.int64).max
        for ni in np.argsort(d, kind="stable")[:3]:
            exact.add((int(ids[qi]), int(ids[ni])))
    ann = SIM.pq_topk(embs, "vec_id < 16", k=3).collect()
    a = {(r["query_id"], r["neighbor_id"]) for r in ann}
    assert len(a & exact) / len(exact) >= 0.8  # measured 0.896
    # every query returns exactly k ranked rows with distinct neighbors
    per_q = {}
    for r in ann:
        per_q.setdefault(r["query_id"], []).append(r)
    assert set(per_q) == {int(i) for i in ids[ids < 16]}
    for q, rs in per_q.items():
        assert sorted(r["rank"] for r in rs) == [1, 2, 3]
        assert len({r["neighbor_id"] for r in rs}) == 3
        assert all(r["neighbor_id"] != q for r in rs)


def test_embed_dup_pairs_lsh_matches_brute(spark):
    """The verified (driver) path is LSH band-join + exact cosine verify;
    precision is exact by construction, so equality with brute force
    certifies recall = 1.0 on the planted dup-emb corpus."""
    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    embs.createOrReplaceTempView("e_embeddings")
    dup = spark.sql(SIM.dup_embs_sql("spark", emb_rel="e_embeddings"))
    lsh_df = SIM.embedding_dup_pairs(dup, tau=SIM.DUP_TAU, method="lsh")
    plan = lsh_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    lsh = {tuple(r) for r in lsh_df.collect()}
    brute = {tuple(r) for r in SIM.embedding_dup_pairs(
        dup, tau=SIM.DUP_TAU, method="brute").collect()}
    assert lsh == brute
    assert lsh  # planted pairs exist even at sf0.001
    # every planted (orig, copy) pair is found
    planted = {r["vec_id"] for r in embs.collect() if r["vec_id"] % 5 == 2}
    assert {(v, v + SIM.DUP_VEC_OFF) for v in planted} <= {
        (a, b) for a, b, _ in lsh
    }


def test_media_decode_stub_raises():
    # codec kinds (non-BMP/WAV bytes) still hit the honest stub seam
    with pytest.raises(NotImplementedError):
        MM.decode_media(b"not-an-image", "image")
    with pytest.raises(NotImplementedError):
        MM.decode_media(b"\x89PNG\r\n\x1a\n" + b"\x00" * 64, "image")
    with pytest.raises(NotImplementedError):
        MM.decode_media(b"ID3" + b"\x00" * 64, "audio")
    with pytest.raises(NotImplementedError):
        MM.decode_media(b"anything", "video")


def _golden_bmp(doc_id: int) -> bytes:
    """First-principles uncompressed 24-bit BMP for a planted doc —
    built with struct, independent of the SQL hex construction."""
    import struct

    w, h = 1 + doc_id % 4, 1 + doc_id % 2
    stride = ((3 * w + 3) // 4) * 4
    pixn = stride * h
    pix = bytes((doc_id * 31 + j) % 256 for j in range(pixn))
    return (
        b"BM" + struct.pack("<III", 54 + pixn, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, pixn,
                      2835, 2835, 0, 0)
        + pix
    )


def _golden_wav(doc_id: int) -> bytes:
    import struct

    sr, ns = 8000 + (doc_id % 8) * 1000, 5 + doc_id % 4
    data = bytes((doc_id * 17 + j) % 256 for j in range(ns))
    return (
        b"RIFF" + struct.pack("<I", 36 + ns) + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sr, sr, 1, 8)
        + b"data" + struct.pack("<I", ns) + data
    )


def test_media_decode_real_bmp_wav():
    """The decode seam parses REAL artifacts: byte-exact BMP/WAV built
    with struct (not the SQL builder) decode to the planted fields."""
    for doc_id in (0, 21, 42, 63):
        got = MM.decode_media(_golden_bmp(doc_id), "image")
        w, h = 1 + doc_id % 4, 1 + doc_id % 2
        assert got["width"] == w and got["height"] == h
        # pixel_sum skips stride padding: only 3w bytes per row count
        exp = sum(
            (doc_id * 31 + r * (((3 * w + 3) // 4) * 4) + c) % 256
            for r in range(h) for c in range(3 * w)
        )
        assert got["pixel_sum"] == exp
    for doc_id in (7, 28, 49):
        got = MM.decode_media(_golden_wav(doc_id), "audio")
        ns = 5 + doc_id % 4
        assert got["sample_rate"] == 8000 + (doc_id % 8) * 1000
        assert got["n_samples"] == ns
        assert got["sample_sum"] == sum(
            (doc_id * 17 + j) % 256 for j in range(ns)
        )
    # truncated / corrupted artifacts are rejected, not mis-decoded
    bmp = _golden_bmp(21)
    with pytest.raises(NotImplementedError):
        MM.decode_media(bmp[:-1], "image")
    with pytest.raises(NotImplementedError):
        MM.decode_media(bmp[:2] + b"\x00" + bmp[3:], "image")
    wav = _golden_wav(7)
    with pytest.raises(NotImplementedError):
        MM.decode_media(wav[:-2], "audio")


def test_media_decode_rejects_top_bit_width_like_oracle():
    """A BMP header whose width has the top bit set (0x80000000) is
    rejected by decode_media and by the DuckDB oracle alike: both read
    the width unsigned, and the pixel region cannot fill the file."""
    import struct

    import duckdb

    good = _golden_bmp(21)
    bad = good[:18] + struct.pack("<I", 0x80000000) + good[22:]
    with pytest.raises(NotImplementedError):
        MM.decode_media(bad, "image")
    media = MM.media_sql("duck", "docs")
    oracle = MM.duck_features_sql("docs")
    assert media in oracle
    con = duckdb.connect()
    try:
        con.execute("create table docs as select 21::bigint as doc_id,"
                    " 'plain text' as text")
        con.execute(
            "create table crafted as select 21::bigint as doc_id,"
            " 'image' as kind, ?::blob as payload,"
            " struct_pack(width := 1, height := 1, duration_ms := 1000) as meta",
            [good],
        )
        con.execute("insert into crafted select 42, kind, ?::blob, meta"
                    " from crafted", [bad])
        con.execute("insert into docs values (42, 'plain text')")
        rows = con.sql(
            oracle.replace(media, "select * from crafted")
            + " order by doc_id"
        ).fetchall()
    finally:
        con.close()
    # (doc_id, kind, n_bytes, head_hash, n_frames, decoded_w, ...)
    assert [(r[0], r[5]) for r in rows] == [(21, 1 + 21 % 4), (42, 0)]


def test_media_feature_plumbing(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    docs.createOrReplaceTempView("m_documents")
    media = spark.sql(MM.media_sql("spark", doc_rel="m_documents"))
    feats = MM.extract_features(media)
    assert feats.schema.simpleString() == (
        "struct<doc_id:bigint,kind:string,n_bytes:int,"
        "head_hash:bigint,n_frames:int,decoded_w:int,decoded_h:int,"
        "decoded_sum:bigint>"
    )
    rows = feats.collect()
    assert len(rows) == docs.count()
    by_kind = {r["kind"] for r in rows}
    assert by_kind == {"image", "audio", "video"}
    assert all((r["n_frames"] > 0) == (r["kind"] == "video") for r in rows)
    # the SQL-built planted payloads are byte-identical to the
    # struct-built goldens, and only they decode
    payloads = {
        r["doc_id"]: bytes(r["payload"])
        for r in media.where("doc_id % 7 = 0 and doc_id < 120").collect()
    }
    by_id = {r["doc_id"]: r for r in rows}
    n_img = n_aud = 0
    for doc_id, payload in payloads.items():
        if doc_id % 3 == 0:  # image
            assert payload == _golden_bmp(doc_id)
            assert by_id[doc_id]["decoded_w"] == 1 + doc_id % 4
            n_img += 1
        elif doc_id % 3 == 1:  # audio
            assert payload == _golden_wav(doc_id)
            assert by_id[doc_id]["decoded_w"] == 8000 + (doc_id % 8) * 1000
            n_aud += 1
    assert n_img > 0 and n_aud > 0
    # undecoded rows keep text-head features; decoded rows zero them
    for r in rows:
        decoded = r["decoded_w"] > 0
        assert (r["head_hash"] == 0) == decoded
        assert (r["decoded_sum"] > 0) == decoded
    # deterministic across runs
    again = MM.extract_features(media).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_frame_offsets_spacing(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    docs.createOrReplaceTempView("f_documents")
    media = spark.sql(MM.media_sql("spark", doc_rel="f_documents"))
    offs = MM.frame_sample_offsets(media).groupBy("doc_id").agg(
        F.count("*").alias("n"), F.max("offset_ms").alias("mx")
    )
    meta = media.where(F.col("kind") == "video").select(
        "doc_id", F.col("meta.duration_ms").alias("d")
    )
    joined = offs.join(meta, "doc_id").collect()
    assert joined
    for r in joined:
        assert r["mx"] < r["d"]
        assert r["n"] == (r["d"] - 1) // 40 + 1


def test_repetition_stats_exact(spark):
    """Hand-computable top-bigram fractions; <2-word docs excluded."""
    from nerpii_spark.operators import textstats as TS

    df = spark.createDataFrame(
        [
            (1, "a b a b a"),       # bigrams: ab ba ab ba -> top 2/4
            (2, "x x x x"),         # xx xx xx -> top 3/3
            (3, "one"),             # no bigrams -> excluded
            (4, "p q r"),           # pq qr -> top 1/2
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in TS.repetition_stats(df).collect()}
    assert set(got) == {1, 2, 4}
    assert (got[1]["n_bigrams"], got[1]["top_bigram_n"]) == (4, 2)
    assert got[1]["top_frac_e6"] == 500000
    assert (got[2]["n_bigrams"], got[2]["top_bigram_n"]) == (3, 3)
    assert got[2]["top_frac_e6"] == 1000000
    assert got[4]["top_frac_e6"] == 500000


def test_vocab_topk_rank_and_ties(spark):
    """Per-lang counts with deterministic token-asc tie-break."""
    from nerpii_spark.operators import textstats as TS

    df = spark.createDataFrame(
        [
            (1, "en", "b a b c a b"),
            (2, "en", "c a"),
            (3, "it", "z z y"),
        ],
        "doc_id bigint, lang string, text string",
    )
    got = [
        (r["lang"], r["token"], r["n"], r["rk"])
        for r in TS.vocab_topk(df, k=2).orderBy("lang", "rk").collect()
    ]
    # en: a=3 b=3 c=2 -> tie at n=3 broken token-asc
    assert got == [
        ("en", "a", 3, 1),
        ("en", "b", 3, 2),
        ("it", "z", 2, 1),
        ("it", "y", 1, 2),
    ]


def test_decontaminate_flags_copies_only(spark):
    """Planted copies of eval docs are contaminated; unrelated training
    docs are not; eval originals never appear in the output."""
    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta")],
        "doc_id bigint, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta"),   # exact copy
            (2, "alpha beta gamma delta epsilon zeta theta"), # near copy
            (3, "totally unrelated words about something else"),
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in D.decontaminate(train, ev).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["contaminated"] and got[1]["n_matched"] == got[1]["n_shingles"]
    assert got[2]["contaminated"]       # 4 of 5 shingles shared
    assert not got[3]["contaminated"] and got[3]["n_matched"] == 0
    # the plan broadcasts the eval side: no shuffle of train by shingle key
    plan = (
        D.decontaminate(train, ev)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


def test_gopher_keep_flag_edges(spark):
    """Quality gates reject short docs and degenerate repetition, keep
    normal prose-like text."""
    from nerpii_spark.operators import textstats as TS

    normal = " ".join(f"word{i % 37} plus some more tokens" for i in range(20))
    repeated = " ".join(["the"] * 200)
    short = "too short"
    longword = ("x" * 2000 + " ") * 60
    df = spark.createDataFrame(
        [(1, normal), (2, repeated), (3, short), (4, longword)],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in TS.gopher_quality(df).collect()}
    assert got[1]["keep"] is True
    assert got[2]["keep"] is False      # uniq_ratio ~ 1/200
    assert got[3]["keep"] is False      # n_words < 50
    assert got[4]["keep"] is False      # max_word_len > 1000


def test_two_hop_locations_exact(spark):
    """Hand-computable 2-hop composition; triple multiplicity must not
    inflate n_paths, and only works_at o located_in composes."""
    from nerpii_spark.operators.extract import two_hop_locations

    triples = spark.createDataFrame(
        [
            ("Ann Ray", "works_at", "Acme"),
            ("Ann Ray", "works_at", "Acme"),      # duplicate triple
            ("Ann Ray", "works_at", "Globex"),
            ("Bob Ito", "works_at", "Acme"),
            ("Acme", "located_in", "Springfield"),
            ("Globex", "located_in", "Springfield"),
            ("Acme", "located_in", "Shelbyville"),
            ("Ann Ray", "lives_in", "Ogden"),      # wrong predicate
            ("Ogden", "located_in", "Utah"),       # no works_at edge in
        ],
        "subj string, pred string, obj string",
    )
    got = {
        (r["person"], r["location"]): r["n_paths"]
        for r in two_hop_locations(triples).collect()
    }
    assert got == {
        ("Ann Ray", "Springfield"): 2,   # via Acme and Globex
        ("Ann Ray", "Shelbyville"): 1,
        ("Bob Ito", "Springfield"): 1,
        ("Bob Ito", "Shelbyville"): 1,
    }


def test_entity_cooccur_lift_and_cap(spark):
    """Integer lift arithmetic is exact; a degenerate doc with more than
    max_per_doc distinct surfaces is excluded from pairs AND marginals."""
    from nerpii_spark.operators.extract import entity_cooccur

    rows = [
        (1, "PERSON", "Ann"), (1, "ORGANIZATION", "Acme"),
        (2, "PERSON", "Ann"), (2, "ORGANIZATION", "Acme"),
        (3, "PERSON", "Ann"), (3, "LOCATION", "Springfield"),
        (3, "PERSON", "Ann"),                   # repeated mention, one surface
        (4, "EMAIL_ADDRESS", "a@b.c"), (4, "PERSON", "Ann"),  # email ignored
    ]
    # doc 99 is degenerate: 5 distinct surfaces > cap of 4
    rows += [(99, "PERSON", f"P{i}") for i in range(5)]
    m = spark.createDataFrame(rows, "doc_id bigint, entity_type string, mention string")
    got = {
        (r["a"], r["b"]): (r["n_ab"], r["lift_e6"])
        for r in entity_cooccur(m, max_per_doc=4).collect()
    }
    # surviving docs: 1..4 -> n_docs=4; c(Ann)=4, c(Acme)=2, c(Springfield)=1
    # (Acme, Ann): n_ab=2, lift = 2*4/(2*4) = 1.0 -> 1_000_000
    # (Ann, Springfield): n_ab=1, lift = 1*4/(4*1) = 1.0
    assert got == {
        ("Acme", "Ann"): (2, 1000000),
        ("Ann", "Springfield"): (1, 1000000),
    }


def test_tfidf_topk_ranking(spark):
    """idf separates a doc-specific token from a corpus-wide one; rank
    window orders by the quantized score with token-asc tie-break."""
    from nerpii_spark.operators import textstats as TS

    df = spark.createDataFrame(
        [
            (1, "common rare rare"),
            (2, "common other"),
            (3, "common other"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        (r["doc_id"], r["rk"]): (r["token"], r["tf"], r["tfidf_e6"])
        for r in TS.tfidf_topk(df, k=2).collect()
    }
    import math

    # doc 1: rare tf=2 df=1 -> 2*ln(3); common tf=1 df=3 -> ln(1)=0
    assert got[(1, 1)] == ("rare", 2, round(2 * math.log(3.0) * 1e6))
    assert got[(1, 2)] == ("common", 1, 0)
    # docs 2/3: other (df=2) beats common (idf 0); ties impossible here
    assert got[(2, 1)][0] == "other"
    assert got[(2, 1)][2] == round(math.log(3.0 / 2.0) * 1e6)


def test_url_dedup_canonicalization(spark):
    """All planted variants collapse to one canonical URL; survivor is
    the latest capture; unrelated URLs stay separate."""
    crawl = spark.createDataFrame(
        [
            (10, "https://site1.example/en/page/10", 100),
            (10, "https://site1.example/en/page/10?utm_source=feed", 200),
            (10, "https://site1.example/en/page/10#section-2", 300),
            (10, "HTTPS://Site1.example/en/page/10", 400),
            (10, "https://site1.example/en/page/10/", 500),
            (11, "https://site2.example/en/page/11", 100),
        ],
        "doc_id bigint, url string, ts_s bigint",
    )
    got = {r["curl"]: r for r in D.url_dedup(crawl).collect()}
    assert set(got) == {
        "https://site1.example/en/page/10",
        "https://site2.example/en/page/11",
    }
    g = got["https://site1.example/en/page/10"]
    assert (g["n_captures"], g["last_ts_s"], g["survivor_doc"]) == (5, 500, 10)


def test_asof_join_semantics(spark):
    """Latest prior click wins; purchases before any click get nulls;
    other users' clicks never leak."""
    from datetime import datetime as dt

    from nerpii_spark.operators.events import asof_join

    rows = [
        # user 1: click(10) @t1, purchase(11) @t2, click(12) @t3, purchase(13) @t4
        (10, dt(2024, 1, 1, 0, 0, 1), 1, "click", 0.0, "{}"),
        (11, dt(2024, 1, 1, 0, 0, 2), 1, "purchase", 0.0, "{}"),
        (12, dt(2024, 1, 1, 0, 0, 3), 1, "click", 0.0, "{}"),
        (13, dt(2024, 1, 1, 0, 0, 5), 1, "purchase", 0.0, "{}"),
        # user 2: purchase with no prior click (click comes after)
        (20, dt(2024, 1, 1, 0, 0, 1), 2, "purchase", 0.0, "{}"),
        (21, dt(2024, 1, 1, 0, 0, 2), 2, "click", 0.0, "{}"),
        # noise: a view event must not participate
        (30, dt(2024, 1, 1, 0, 0, 0), 1, "view", 0.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp_ntz, user_id bigint,"
        " event_type string, value double, props string",
    )
    got = {r["event_id"]: r for r in asof_join(ev).collect()}
    assert set(got) == {11, 13, 20}
    assert (got[11]["right_event_id"], got[11]["gap_us"]) == (10, 1_000_000)
    assert (got[13]["right_event_id"], got[13]["gap_us"]) == (12, 2_000_000)
    assert got[20]["right_event_id"] is None and got[20]["gap_us"] is None


def test_mix_weights_integer_exact(spark):
    """Quantized-pow + bigint normalization: weights are exact integer
    arithmetic over per-lang pow_e6 and sum to <= 1e6."""
    from nerpii_spark.operators import textstats as TS

    df = spark.createDataFrame(
        [(i, "en" if i < 80 else ("it" if i < 90 else "de"), "x")
         for i in range(100)],
        "doc_id bigint, lang string, text string",
    )
    got = {r["lang"]: r for r in TS.mix_weights(df).collect()}
    assert {g["n_docs"] for g in got.values()} == {80, 10, 10}
    tot = sum(g["pow_e6"] for g in got.values())
    for g in got.values():
        assert g["weight_e6"] == g["pow_e6"] * 1_000_000 // tot
    assert sum(g["weight_e6"] for g in got.values()) <= 1_000_000
    # alpha=0.3 upsamples low-resource langs: de weight >> its doc share
    assert got["de"]["weight_e6"] > 100_000  # doc share would be 100k exactly


def test_mix_sample_binding_lang_and_shares(spark):
    """mix_sample keeps 100% of the binding language (the one whose
    supply runs out first at its target share) and downsamples the rest
    so output shares track the alpha-smoothed targets; membership is the
    keyed hash, so the sample is deterministic across runs."""
    from nerpii_spark.functions.hashing import hn
    from nerpii_spark.operators import textstats as TS

    rows = [(i, "en" if i < 800 else ("it" if i < 900 else "de"), "x")
            for i in range(1000)]
    df = spark.createDataFrame(
        rows, "doc_id bigint, lang string, text string"
    )
    w = {r["lang"]: r for r in TS.mix_weights(df).collect()}
    # binding lang = argmin n_l/w_l. alpha=0.3 UPSAMPLES the rare langs
    # (their target share far exceeds their supply share), so a rare
    # language runs out first — it and de tie (same n, same weight).
    ratios = {l: w[l]["n_docs"] * 1_000_000 // w[l]["weight_e6"] for l in w}
    cap = min(ratios.values())
    assert ratios["it"] == ratios["de"] == cap < ratios["en"]
    got = TS.mix_sample(df).collect()
    by_lang = {}
    for r in got:
        by_lang.setdefault(r["lang"], set()).add(r["doc_id"])
    # binding langs: rate_e6 == 1e6 -> every doc kept
    assert len(by_lang["it"]) == len(by_lang["de"]) == 100
    # the big lang is strictly downsampled to exactly the hash subset
    rate = cap * 1_000_000 // ratios["en"]
    expect = {i for i, l, _ in rows
              if l == "en" and hn(i, TS.MIX_SALT) % 1_000_000 < rate}
    assert by_lang["en"] == expect
    assert 0 < len(by_lang["en"]) < 800
    # output shares track target weights (hash noise ~ 1/sqrt(n))
    n_out = len(got)
    for lang in by_lang:
        share = len(by_lang[lang]) / n_out
        target = w[lang]["weight_e6"] / 1_000_000
        assert abs(share - target) < 0.05
    # the corpus-sized side joins the rate table via BROADCAST
    plan = TS.mix_sample(df)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_kmeans_matches_pure_python_lloyd(spark):
    """kmeans_assign == a transparent pure-Python Lloyd replay (same
    quantization, init, floor-div means, lowest-id tie-break, keep-centroid
    empty-cluster rule) on a small deterministic corpus — independent of
    both the Spark and the DuckDB implementations."""
    from nerpii_spark.operators import cluster as CL

    # 24 vectors, 4 dims, deterministic pseudo-random floats
    vecs = [
        [(((i * 37 + d * 101 + 13) % 997) - 498) / 997.0 for d in range(4)]
        for i in range(24)
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )
    got = {
        r["vec_id"]: r["cluster"]
        for r in CL.kmeans_assign(df, k=3, n_iters=2).collect()
    }

    import struct as _s

    def f32(x):  # the parquet/createDataFrame column is float32
        return _s.unpack("f", _s.pack("f", x))[0]

    def quant(v):
        return [int(round(f32(x) * CL.QUANT)) for x in v]

    xq = {i: quant(v) for i, v in enumerate(vecs)}
    cents = [xq[i] for i in range(3)]

    def assign(c):
        out = {}
        for i, x in xq.items():
            dists = [sum((a - b) ** 2 for a, b in zip(x, cv)) for cv in c]
            out[i] = dists.index(min(dists))
        return out

    for _ in range(2):
        a = assign(cents)
        new = []
        for cid in range(3):
            mem = [xq[i] for i in a if a[i] == cid]
            if not mem:
                new.append(cents[cid])
            else:
                new.append(
                    [sum(col) // len(mem) for col in zip(*mem)]
                )
        cents = new
    want = assign(cents)
    assert got == want
    assert len(set(got.values())) > 1  # the corpus actually splits


def test_grouped_percentiles_disc_semantics(spark):
    """Hand-computed percentile_disc: smallest value whose cumulative
    count reaches ceil(p% of n), exact under ties; singleton group
    returns its value at every p."""
    from nerpii_spark.operators import events as EV

    rows = [("a", v) for v in (0.01, 0.02, 0.02, 0.03)] + [("b", 0.42)]
    df = spark.createDataFrame(rows, "event_type string, value double")
    got = {r["event_type"]: r for r in EV.grouped_percentiles(df).collect()}
    # a: n=4 -> p50 = 2nd smallest (2), p90 = ceil(3.6)=4th (3), p99 = 4th
    assert (got["a"]["n"], got["a"]["p50_c"], got["a"]["p90_c"],
            got["a"]["p99_c"]) == (4, 2, 3, 3)
    assert (got["b"]["n"], got["b"]["p50_c"], got["b"]["p99_c"]) == (1, 42, 42)


def test_interval_join_banded_semantics_and_plan(spark):
    """Banded range join hand cases: containment across bucket
    boundaries, inclusive endpoints, non-contained point dropped,
    overlapping intervals multi-match; plan is an equi-join (no
    nested-loop/cartesian fallback)."""
    from datetime import datetime as dt

    from nerpii_spark.operators import events as EV

    left = spark.createDataFrame(
        [
            (1, "u1", dt(2024, 1, 1, 0, 30)),   # inside iv A (same bucket)
            (2, "u1", dt(2024, 1, 1, 1, 30)),   # inside iv A (next bucket)
            (3, "u1", dt(2024, 1, 1, 2, 0)),    # == A end (inclusive)
            (4, "u1", dt(2024, 1, 1, 5, 0)),    # outside all
            (5, "u2", dt(2024, 1, 1, 0, 45)),   # in BOTH u2 overlaps
        ],
        "event_id bigint, user_id string, ts timestamp",
    )
    ivs = spark.createDataFrame(
        [
            ("u1", dt(2024, 1, 1, 0, 0), dt(2024, 1, 1, 2, 0)),    # A
            ("u2", dt(2024, 1, 1, 0, 0), dt(2024, 1, 1, 1, 0)),
            ("u2", dt(2024, 1, 1, 0, 30), dt(2024, 1, 1, 1, 30)),
        ],
        "user_id string, session_start timestamp, session_end timestamp",
    )
    out = EV.interval_join(left, ivs)
    got = sorted(
        (r["event_id"], r["session_start"]) for r in out.collect()
    )
    assert [e for e, _ in got] == [1, 2, 3, 5, 5]  # 4 dropped, 5 twice
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pack_sequences_chunking_and_determinism(spark):
    """Concat-and-chunk semantics with one bucket and seq_len=10: docs
    fill the stream in hash order, a doc straddling a boundary keeps its
    start-window assignment (overflow, no padding); the layout is
    invariant to the input's partitioning."""
    from nerpii_spark.functions.hashing import hn
    from nerpii_spark.operators import textstats as TS

    rows = [(i, "en", " ".join(["t"] * 4)) for i in range(1, 7)]  # 4 toks
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, text string")
    out = TS.pack_sequences(df, seq_len=10, n_buckets=1).collect()
    # expected stream order = hash order (salt PACK_SALT+1), ties by id
    order = sorted(range(1, 7), key=lambda i: (hn(i, TS.PACK_SALT + 1), i))
    starts = {d: 4 * k for k, d in enumerate(order)}
    for r in out:
        assert r["bucket"] == 0
        assert r["seq_id"] == starts[r["doc_id"]] // 10
        assert r["offset_tok"] == starts[r["doc_id"]] % 10
    # doc at stream offset 8 straddles the window-0/1 boundary: seq 0
    third = order[2]
    assert starts[third] == 8
    assert [r["seq_id"] for r in out if r["doc_id"] == third] == [0]
    # repartitioning the input does not change the layout
    again = TS.pack_sequences(df.repartition(7), seq_len=10, n_buckets=1)
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, out))


def test_span_dedup_hand_cases(spark):
    """ExactSubstr span stats, hand-computed (w=20): full-copy doc loses
    everything, an embedded 20-token passage loses exactly 20, internal
    period-20 repetition loses its second period, the canonical doc and
    a short doc lose nothing."""
    from nerpii_spark.operators import dedup as D

    A = [f"a{i}" for i in range(30)]
    C = [f"c{i}" for i in range(5)] + A[:20] + [f"c{i}" for i in range(5, 10)]
    X = [f"d{i}" for i in range(20)]
    rows = [
        (1, " ".join(A)),         # canonical: 11 windows, all firsts
        (2, " ".join(A)),         # exact copy: one island covering all 30
        (3, " ".join(C)),         # embeds A[0:20]: one window -> 20 tokens
        (4, " ".join(X + X)),     # period-20 self-repeat: second X marked
        (5, "too short"),         # < w tokens: no windows
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in D.span_dedup_stats(df).collect()}
    assert (got[1]["n_tokens"], got[1]["n_removed"]) == (30, 0)
    assert (got[2]["n_tokens"], got[2]["n_removed"]) == (30, 30)
    assert (got[3]["n_tokens"], got[3]["n_removed"]) == (30, 20)
    assert (got[4]["n_tokens"], got[4]["n_removed"]) == (40, 20)
    assert (got[5]["n_tokens"], got[5]["n_removed"]) == (2, 0)


def test_url_filter_suffix_patterns_and_plan(spark):
    """UT1-style curation hand cases: exact host hit, subdomain hit via
    parent-suffix, case-variant host, pattern hit, domain beats pattern,
    clean URL survives; plan = broadcast joins only (no explode + re-agg
    of the corpus)."""
    from nerpii_spark.operators import textstats as TS

    rows = [
        (1, "https://site13.example/en/page/1"),        # exact domain
        (2, "https://cdn.site13.example/asset/2"),      # subdomain suffix
        (3, "HTTPS://Site97.example/it/page/3"),        # case variant
        (4, "https://ok.example/en/page/4?utm_source=x"),  # pattern
        (5, "https://site13.example/p?utm_source=x"),   # domain wins
        (6, "https://ok.example/en/page/6"),            # clean
        (7, "https://a.b.c.d.site13.example/deep"),     # beyond depth 4
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, url string")
    out = {r["doc_id"]: r for r in TS.url_filter(df).collect()}
    assert out[1]["reason"] == "domain:site13.example"
    assert out[2]["reason"] == "domain:site13.example"
    assert out[3]["reason"] == "domain:site97.example"
    assert out[4]["reason"] == "pattern:[?&]utm_"
    assert out[5]["reason"] == "domain:site13.example"
    assert out[6]["keep"] and out[6]["reason"] is None
    # suffix depth is bounded: a host nested deeper than URL_HOST_DEPTH
    # labels above the entry is (documented) out of reach
    assert out[7]["keep"]
    assert all((r["reason"] is None) == r["keep"] for r in out.values())
    plan = TS.url_filter(df)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Generate" not in plan  # no explode of the corpus rows


def test_lm_surprisal_hand_case_and_plan(spark):
    """Integer-log2 surprisal: hand-computed values on a 3-doc corpus
    (n_total=7, head={a:5}: s(a)=ilog2(1)=0, OOV s=ilog2(7)=2), and the
    head-vocab membership join is a broadcast."""
    from nerpii_spark.operators import textstats as TS

    docs = spark.createDataFrame(
        [(0, "a a a a"), (1, "a b"), (2, "c")], "doc_id bigint, text string"
    )
    out = TS.lm_surprisal(docs, min_cnt=2)
    got = {r["doc_id"]: r for r in out.collect()}
    assert (got[0]["n_tokens"], got[0]["surprisal_sum"],
            got[0]["score_milli"]) == (4, 0, 0)
    assert (got[1]["surprisal_sum"], got[1]["score_milli"]) == (2, 1000)
    assert (got[2]["surprisal_sum"], got[2]["score_milli"]) == (2, 2000)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_hll_sketch_accuracy(spark):
    """The DuckDB oracle certifies the sketch computation bit-for-bit;
    this gates what that cannot — that the estimate is a USEFUL
    cardinality estimate vs the exact distinct count. sf0.01 puts the
    per-lang vocab at 365-770 distinct token classes (n/m ~ 6-12x, raw
    HLL's unbiased regime for m=64; expected stderr ~13%)."""
    from nerpii_spark.functions.hashing import sql_strhash
    from nerpii_spark.operators import sketch as SK
    from nerpii_spark.sources import pages as P

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    docs.createOrReplaceTempView("hll_documents")
    pg = spark.sql(P.pages_sql("spark", doc_rel="hll_documents")).cache()
    est = {r["lang"]: r for r in SK.hll_distinct(pg).collect()}
    exact = {
        r["lang"]: r["n"]
        for r in pg.select(
            "lang",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok"),
        )
        .where(F.col("tok") != "")
        .groupBy("lang")
        .agg(
            F.countDistinct(F.expr(sql_strhash("tok"))).alias("n")
        )
        .collect()
    }
    pg.unpersist()
    assert set(est) == set(exact)
    for lang, n in exact.items():
        r = est[lang]
        assert 0 < r["n_regs_hit"] <= 64
        rel_err = abs(r["est_distinct"] - n) / n
        assert rel_err < 0.35, (lang, r["est_distinct"], n)


def test_bpe_merge_greedy_semantics(spark):
    """The Catalyst fold implements the standard greedy left-to-right
    non-overlapping BPE scan: 'aaa' under pair (a, a) -> [aa, a] (the
    merged symbol never re-merges within the same pass), and an
    alternating overlap 'abab' under (a, b) merges BOTH occurrences."""
    from nerpii_spark.operators import bpe

    df = spark.createDataFrame(
        [("aaa",), ("abab",), ("ba",), ("b",)], "word string"
    ).withColumn("seq", F.split("word", ""))
    got = {
        r["word"]: r["m"]
        for r in df.selectExpr(
            "word", f"{bpe._merge_expr(('a', 'b'))} as m"
        ).collect()
    }
    assert got["abab"] == ["ab", "ab"]
    assert got["ba"] == ["b", "a"]
    assert got["b"] == ["b"]
    got_aa = {
        r["word"]: r["m"]
        for r in df.selectExpr(
            "word", f"{bpe._merge_expr(('a', 'a'))} as m"
        ).collect()
    }
    assert got_aa["aaa"] == ["aa", "a"]


def test_bpe_merges_end_to_end(spark):
    """3 learned merges on a corpus with a known dominant pair; also
    pins that the output is ordered and weighted correctly."""
    from nerpii_spark.operators import bpe

    df = spark.createDataFrame(
        [("zz zz zz qx",), ("zz qx qx",)], "text string"
    )
    rows = [tuple(r) for r in bpe.bpe_merges(df, n_merges=2).collect()]
    # 'z z' pair occurs in 4 'zz' words; 'q x' in 3 'qx' words
    assert rows[0] == (1, "z", "z", 4)
    assert rows[1] == (2, "q", "x", 3)


def test_bpe_batched_equals_sequential_and_saves_round_trips(spark):
    """VERDICT r3 #4: batched passes must be BIT-IDENTICAL to one-
    merge-per-iteration training (top_k=1 forces the old sequential
    path: the truncation bound equals the argmax count, so the batch
    is always a singleton) while spending >=4x fewer driver round-trips
    on a vocabulary whose top pairs are symbol-disjoint."""
    from nerpii_spark.operators import bpe

    # 8 disjoint dominant pairs with strictly descending freqs; the
    # tail word exercises the truncation bound (count 1 << all tops)
    words = ["ab", "cd", "ef", "gh", "ij", "kl", "mn", "op"]
    rows = [(" ".join([w] * (40 - 4 * i)),) for i, w in enumerate(words)]
    rows.append(("xy",))
    df = spark.createDataFrame(rows, "text string")
    batched_stats: dict = {}
    batched = [
        tuple(r)
        for r in bpe.bpe_merges(
            df, n_merges=8, top_k=16, stats=batched_stats
        ).collect()
    ]
    batched_trips = batched_stats["round_trips"]
    # the module-level alias mirrors the per-call stats (single-threaded)
    assert bpe.LAST_TRAIN_ROUND_TRIPS == batched_trips
    seq_stats: dict = {}
    seq = [
        tuple(r)
        for r in bpe.bpe_merges(
            df, n_merges=8, top_k=1, stats=seq_stats
        ).collect()
    ]
    seq_trips = seq_stats["round_trips"]
    assert batched == seq
    assert [(m[1], m[2]) for m in seq] == [tuple(w) for w in words]
    # sequential: 8 collects + 7 rewrites (the final rewrite is
    # skipped once the merge budget is met); batched: ONE collect
    assert seq_trips == 15 and batched_trips <= 2  # >= 7x fewer
    # overlapping corpus: batching degrades to sequential, same output
    df2 = spark.createDataFrame(
        [("the then there that",), ("he her here",)], "text string"
    )
    b2 = [tuple(r) for r in bpe.bpe_merges(df2, n_merges=4, top_k=16).collect()]
    s2 = [tuple(r) for r in bpe.bpe_merges(df2, n_merges=4, top_k=1).collect()]
    assert b2 == s2


def test_bpe_batched_equals_sequential_adversarial(spark):
    """Property sweep for the batched-pass safety proof: on corpora
    built to stress every _select_batch break condition (shared-symbol
    tops, repeated-char self-pairs, chained merges whose fused symbols
    re-enter the ranking, plus seeded-random overlap-heavy corpora over
    a 4-letter alphabet) the batched trainer must stay bit-identical to
    strict sequential greedy at every merge count."""
    import random

    from nerpii_spark.operators import bpe

    crafted = [
        "aaaa bbbb aaaa",            # self-pairs (a,a)/(b,b)
        "abab baba abba",            # overlapping (a,b)/(b,a)
        "ab ab abc bc bc bc a a",    # fused symbol re-enters ranking
        "the then there that he her",
        "xy xy xyz zyx yz yz yz",
        "aa ab ba bb aaa bbb",       # dense 2-letter pair lattice
    ]
    rng = random.Random(20260821)
    for _ in range(5):
        words = [
            "".join(rng.choice("abcd") for _ in range(rng.randint(1, 6)))
            for _ in range(rng.randint(5, 30))
        ]
        crafted.append(" ".join(words))
    for i, text in enumerate(crafted):
        df = spark.createDataFrame([(text,)], "text string")
        for nm in (3, 6):
            b = [tuple(r) for r in
                 bpe.bpe_merges(df, n_merges=nm, top_k=16).collect()]
            s = [tuple(r) for r in
                 bpe.bpe_merges(df, n_merges=nm, top_k=1).collect()]
            assert b == s, (i, nm, text, b, s)


def test_bpe_hash_sampled_training(spark):
    """sample_mod trains on the deterministic 1/k word-vocabulary hash
    sample: two runs agree exactly, the sample genuinely shrinks the
    working vocabulary, and dominant merges survive sampling on a
    corpus where one pair dwarfs the rest."""
    from nerpii_spark.operators import bpe
    from nerpii_spark.functions.hashing import sql_strhash, strhash
    from pyspark.sql import functions as F

    # 400 distinct filler words + one dominant repeated word
    rows = [(" ".join(f"w{j:03d}qq" for j in range(i, i + 20)),)
            for i in range(0, 380, 20)]
    rows.append((("zz " * 500).strip(),))
    df = spark.createDataFrame(rows, "text string")
    a = [tuple(r) for r in
         bpe.bpe_merges(df, n_merges=2, sample_mod=3).collect()]
    b = [tuple(r) for r in
         bpe.bpe_merges(df, n_merges=2, sample_mod=3).collect()]
    assert a == b and len(a) == 2
    # the dominant (z, z) pair survives sampling iff 'zz' is in the
    # sample; assert consistency with the predicate itself
    # strhash's Python mirror == its SQL form (asserted in test_hashing)
    zz_in = strhash("zz") % 3 == 0
    assert (("z", "z") in {(m[1], m[2]) for m in a}) == zz_in
    # the sampled vocabulary is a strict subset
    full_vocab = bpe._word_counts(df, "text").count()
    samp_vocab = bpe._word_counts(df, "text").where(
        F.expr(f"({sql_strhash('word')}) % 3 = 0")
    ).count()
    assert 0 < samp_vocab < full_vocab


def test_bpe_batched_matches_sequential_on_corpus(spark):
    """The planted-corpus contract query path: batched training output
    == strict sequential on real text (the DuckDB oracle replays
    sequential greedy, so this is the oracle-parity guard)."""
    from nerpii_spark.operators import bpe
    from nerpii_spark.sources import pages as P

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.createOrReplaceTempView("bpe_batch_documents")
    pg = spark.sql(P.pages_sql("spark", doc_rel="bpe_batch_documents"))
    b = [tuple(r) for r in bpe.bpe_merges(pg, n_merges=6, top_k=16).collect()]
    s = [tuple(r) for r in bpe.bpe_merges(pg, n_merges=6, top_k=1).collect()]
    assert b == s and len(b) == 6


def test_cms_overestimate_bound(spark):
    """CMS guarantees: est >= exact always (min of row counters, each an
    overestimate), and the absent probe's estimate is bounded by the
    collision mass N/w per row."""
    from nerpii_spark.operators import sketch as SK
    from nerpii_spark.sources import pages as P

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    docs.createOrReplaceTempView("cms_documents")
    pg = spark.sql(P.pages_sql("spark", doc_rel="cms_documents")).cache()
    est = {r["token"]: r["est_count"]
           for r in SK.cms_counts(pg).collect()}
    toks = pg.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok")
    ).where(F.col("tok") != "")
    n_total = toks.count()
    exact = {
        r["tok"]: r["n"]
        for r in toks.where(
            F.col("tok").isin(SK.CMS_PROBES)
        ).groupBy("tok").agg(F.count("*").alias("n")).collect()
    }
    pg.unpersist()
    bound = n_total // SK.CMS_W + 1
    for p in SK.CMS_PROBES:
        true_n = exact.get(p, 0)
        assert est[p] >= true_n, (p, est[p], true_n)
        # probabilistic bound made generous (4 rows, min): 3x N/w
        assert est[p] - true_n <= 3 * bound, (p, est[p], true_n, bound)
    assert exact.get("zz-absent-zz", 0) == 0


def test_asof_join_equal_timestamp_inclusive(spark):
    """ADVICE r2: 'at or before' must be inclusive regardless of
    event_id order (native-ASOF p.ts >= c.ts semantics), and several
    right events tied on (user_id, ts) resolve to max event_id — the
    rule the DuckDB oracle's deduped right side mirrors."""
    from datetime import datetime as dt

    import duckdb

    from nerpii_spark.operators.events import asof_join, duck_asof_sql

    rows = [
        # purchase event_id SMALLER than the same-ts click: the old
        # (ts, event_id) ordering missed this click
        (5, dt(2024, 1, 1, 0, 0, 2), 1, "click", 0.0, "{}"),
        (3, dt(2024, 1, 1, 0, 0, 2), 1, "purchase", 0.0, "{}"),
        # two clicks tied on (user, ts): max event_id (42) must win
        (41, dt(2024, 1, 1, 0, 0, 1), 2, "click", 0.0, "{}"),
        (42, dt(2024, 1, 1, 0, 0, 1), 2, "click", 0.0, "{}"),
        (50, dt(2024, 1, 1, 0, 0, 1), 2, "purchase", 0.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp_ntz, user_id bigint,"
        " event_type string, value double, props string",
    )
    got = {r["event_id"]: r for r in asof_join(ev).collect()}
    assert (got[3]["right_event_id"], got[3]["gap_us"]) == (5, 0)
    assert (got[50]["right_event_id"], got[50]["gap_us"]) == (42, 0)

    # the DuckDB oracle agrees row-for-row on the tie data
    con = duckdb.connect()
    con.execute(
        "create table events(event_id bigint, ts timestamp, user_id bigint,"
        " event_type varchar, value double, props varchar)"
    )
    con.executemany("insert into events values (?, ?, ?, ?, ?, ?)", rows)
    oracle = {
        r[0]: r for r in con.execute(duck_asof_sql()).fetchall()
    }
    for eid, r in got.items():
        assert oracle[eid][2] == r["right_event_id"], eid
        assert oracle[eid][3] == r["gap_us"], eid


def test_session_window_exact_gap_merges(spark):
    """Boundary audit of ADVICE r2's q_interval_join finding: Spark's
    session_window MERGES an event arriving exactly `gap` after the
    previous one (the divergence ADVICE hypothesized would require it to
    split). Locked here so the `> 1800` is_new rule in the q_sessionize /
    q_session_window / q_interval_join oracles — and the safety of the
    inclusive ts <= session_end containment — rest on a measured fact,
    not an assumption; a Spark upgrade that flips the convention fails
    this test instead of silently diverging from the oracles."""
    from datetime import datetime as dt

    from nerpii_spark.operators.events import interval_join
    import pyspark.sql.functions as F

    rows = [
        (1, dt(2024, 1, 1, 10, 0, 0), 1, "view", 0.0, "{}"),
        # exactly 1800s later: MERGES (Spark extends the session)
        (2, dt(2024, 1, 1, 10, 30, 0), 1, "view", 0.0, "{}"),
        # 1801s later: splits
        (3, dt(2024, 1, 1, 11, 0, 1), 1, "view", 0.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp_ntz, user_id bigint,"
        " event_type string, value double, props string",
    )
    sess = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
    got = sorted(
        (r["session_start"], r["session_end"], r["n_events"])
        for r in sess.collect()
    )
    assert got == [
        (dt(2024, 1, 1, 10, 0, 0), dt(2024, 1, 1, 11, 0, 0), 2),
        (dt(2024, 1, 1, 11, 0, 1), dt(2024, 1, 1, 11, 30, 1), 1),
    ]
    # inclusive containment matches every event to exactly ONE session —
    # no event can sit at a final session_end (it would have merged)
    out = interval_join(ev, sess).collect()
    assert sorted(r["event_id"] for r in out) == [1, 2, 3]
    # right-open variant for genuinely right-open interval tables
    out_ro = interval_join(ev, sess, end_inclusive=False).collect()
    assert sorted(r["event_id"] for r in out_ro) == [1, 2, 3]


def test_bucket_degrade_stats_observability(spark):
    """ADVICE r2: the reps>max_bucket cutoff must be observable.
    bucket_degrade_stats counts degraded keys and warns when a key
    crosses max_bucket^2 (representative links skipped)."""
    import warnings

    from nerpii_spark.operators.dedup import (
        _bucket_pairs,
        bucket_degrade_stats,
    )

    rows = spark.createDataFrame(
        [("hot", i) for i in range(10)] + [("cold", 100 + i) for i in range(2)],
        "k string, id bigint",
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        st = bucket_degrade_stats(rows, ["k"], max_bucket=3)
    assert st == {"keys": 2, "over_cap": 1, "over_cap2": 1, "max_n": 10}
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        bucket_degrade_stats(rows, ["k"], max_bucket=3)
        assert any("representative cross-links" in str(x.message) for x in w)
    # under-cap corpus: silent, zero counters
    st2 = bucket_degrade_stats(rows, ["k"], max_bucket=32)
    assert st2["over_cap"] == 0 and st2["over_cap2"] == 0
    # within cap..cap^2 (max_bucket=4: 4 < 10 <= 16) the degrade path
    # keeps the hot bucket CC-connected via representative links — only
    # past cap^2 (the warned case above) does it fragment
    pairs = [
        (r["id_a"], r["id_b"])
        for r in _bucket_pairs(rows, ["k"], "id", max_bucket=4).collect()
    ]
    parent = {i: i for i in range(10)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a < 10 and b < 10:
            parent[find(a)] = find(b)
    assert len({find(i) for i in range(10)}) == 1


def test_ivf_cell_occupancy_bounded_on_skewed_corpus(spark):
    """VERDICT r2 #5: lowest-id 'centroids' on an adversarially ordered
    corpus (the first ids are near-identical vectors) give one cell that
    absorbs most of the corpus — a hot probe-join key at scale. Trained
    integer-Lloyd centroids on the hash-sample must keep occupancy
    bounded: no cell > 4 * N / n_cells on a planted 8-blob corpus whose
    lowest ids all sit in one blob."""
    from nerpii_spark.functions.hashing import hn
    from nerpii_spark.operators.cluster import (
        _quant_expr,
        _with_assignment,
        lloyd_centroids,
    )
    from nerpii_spark.operators.similarity import ivf_sample_pred

    n, n_cells = 256, 8
    rows = []
    for i in range(n):
        if i < n_cells:
            blob = 0  # adversarial: the lowest ids are one tight blob
        else:
            blob = hn(i, 3) % n_cells
        base = [0.0] * 4
        base[blob % 4] = 1.0 if blob < 4 else -1.0
        jit = [(hn(i, 11 + d) % 201 - 100) / 2000.0 for d in range(4)]
        rows.append((i, [base[d] + jit[d] for d in range(4)]))
    embs = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    q = embs.select("vec_id", F.expr(_quant_expr("embedding")).alias("xq"))
    sample = q.where(F.expr(ivf_sample_pred("vec_id")))
    assert sample.count() >= n_cells  # the path ivf_topk takes here
    cents = lloyd_centroids(sample, n_cells, SIM.IVF_N_ITERS)
    occ = (
        _with_assignment(q, cents)
        .groupBy("cluster").count().agg(F.max("count")).collect()[0][0]
    )
    assert occ <= 4 * n / n_cells, occ
    # the degenerate init this replaced: centroids = lowest-id vectors,
    # no training -> the near-identical-blob cell absorbs ~all of one
    # direction's mass; show trained occupancy is strictly better
    deg = [list(r["xq"]) for r in q.orderBy("vec_id").limit(n_cells).collect()]
    deg_occ = (
        _with_assignment(q, deg)
        .groupBy("cluster").count().agg(F.max("count")).collect()[0][0]
    )
    assert occ < deg_occ, (occ, deg_occ)


def test_lang_id_twelve_languages_and_mix(spark):
    """VERDICT r2 #8: the O(L) lang_id expression at L=12 — a planted
    corpus slice with 3 docs per language (stopword-bearing sentences
    plus shared filler) must classify every doc, and mix_weights over
    the PREDICTIONS reproduces the alpha-smoothed mixture on a
    realistic 12-way split."""
    from nerpii_spark.functions.gazetteers import LANG_STOPWORDS
    from nerpii_spark.operators import textstats as TS2

    assert len(LANG_STOPWORDS) == 12
    rows = []
    for li, (lang, sw) in enumerate(sorted(LANG_STOPWORDS.items())):
        for j in range(3):
            # 6 of the language's own stopwords + neutral filler tokens
            # no other language list contains
            words = sw[j : j + 6] + ["zqx1", "zqx2", "zqx3"]
            rows.append((li * 10 + j, " ".join(words), lang))
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    pred = {r["doc_id"]: r["lang_pred"] for r in TS2.lang_id(df).collect()}
    truth = {r[0]: r[2] for r in rows}
    # every doc classified as its own language: 6 in-lang stopwords
    # always beat cross-lang collisions (lists overlap by at most 2-3
    # words), so this also guards new lists against collision drift
    assert pred == truth
    # realistic mixture: weights over predictions, alpha-upsampling a
    # deliberately skewed corpus (en x9 extra docs)
    extra = [(900 + k, "the and of to in is that for with on", "en")
             for k in range(9)]
    df2 = spark.createDataFrame(rows + extra,
                                "doc_id bigint, text string, lang string")
    preds = TS2.lang_id(df2).withColumnRenamed("lang_pred", "lang")
    w = {r["lang"]: r for r in TS2.mix_weights(preds).collect()}
    assert w["en"]["n_docs"] == 12 and all(
        w[lang]["n_docs"] == 3 for lang in LANG_STOPWORDS if lang != "en"
    )
    # alpha=0.3 compresses the 4x doc skew to ~1.5x in sampling weight
    assert 1.4 < w["en"]["weight_e6"] / w["de"]["weight_e6"] < 1.6


def test_bloom_decontaminate_no_false_negatives(spark):
    """decontaminate_bloom is the fixed-size-broadcast scale path of
    decontaminate: Bloom membership can only overcount (no false
    negatives), so every exactly-contaminated doc must flag, n_matched
    >= exact n_matched per doc, and at the sandbox bitmap load
    (~500 eval shingles in 2^16 bits, k=4 -> FP ~ 1e-6) the two reports
    coincide row-for-row on the planted corpus."""
    import __spark_entry__ as E

    exact = {r["doc_id"]: r for r in E.q_decontaminate(spark, SF).collect()}
    bloom = {
        r["doc_id"]: r for r in E.q_decontaminate_bloom(spark, SF).collect()
    }
    assert set(exact) == set(bloom)
    for d, r in exact.items():
        b = bloom[d]
        assert b["n_shingles"] == r["n_shingles"], d
        assert b["n_matched"] >= r["n_matched"], d
        if r["contaminated"]:
            assert b["contaminated"], d
    assert sum(r["contaminated"] for r in exact.values()) > 0
    # at this load the approximation is exact
    assert {d: (r["n_matched"], r["contaminated"]) for d, r in bloom.items()} \
        == {d: (r["n_matched"], r["contaminated"]) for d, r in exact.items()}


def test_bpe_encode_end_to_end(spark):
    """Tokenizer APPLY: encoding with the trained merges reproduces the
    trainer's final symbol sequences per word, stitched back in document
    order. Corpus from test_bpe_merges_end_to_end: merges (z,z) then
    (q,x) -> 'zz' encodes to one token 'zz', 'qx' to 'qx'."""
    from nerpii_spark.operators import bpe

    df = spark.createDataFrame(
        [(1, "zz zz zz qx"), (2, "zz qx qx"), (3, "zzz azq")],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in bpe.bpe_encode(df, n_merges=2).collect()}
    assert got[1]["tokens_str"] == "zz|zz|zz|qx"
    assert got[1]["n_tokens"] == 4
    assert got[2]["tokens_str"] == "zz|qx|qx"
    # greedy scan inside longer words: 'zzz' -> [zz, z]; 'azq' has no
    # adjacent trained pair -> stays char-split
    assert got[3]["tokens_str"] == "zz|z|a|z|q"
    assert got[3]["n_tokens"] == 5
    # explicit merges skip training entirely
    pre = {r["doc_id"]: r["tokens_str"]
           for r in bpe.bpe_encode(df, merges=[("z", "z")]).collect()}
    assert pre[3] == "zz|z|a|z|q"
    assert pre[1] == "zz|zz|zz|q|x"


def test_chunk_text_boundary_semantics(spark):
    """Sliding-window chunking invariants: full coverage, exact overlap,
    short-doc single chunk, and the final-partial-window rule."""
    from nerpii_spark.operators.textstats import chunk_text

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),  # 10 toks
            (2, "a b c"),                                # shorter than window
            (3, " ".join(f"u{i}" for i in range(8))),    # exactly window+stride? 8
        ],
        "doc_id bigint, text string",
    )
    out = chunk_text(docs, window=4, overlap=2).collect()
    by = {}
    for r in out:
        by.setdefault(r["doc_id"], []).append(r)
    for rows in by.values():
        rows.sort(key=lambda r: r["chunk_id"])
    # doc1: stride 2, 10 tokens -> chunks start 1,3,5,7 -> 4 chunks
    c1 = [r["chunk"] for r in by[1]]
    assert c1[0] == "t0 t1 t2 t3" and c1[1] == "t2 t3 t4 t5"
    assert c1[-1] == "t6 t7 t8 t9" and len(c1) == 4
    # consecutive chunks share exactly `overlap` tokens
    for a, b in zip(c1, c1[1:]):
        assert a.split()[-2:] == b.split()[:2]
    # full coverage in order
    assert [t for i, c in enumerate(c1) for t in c.split()[2 * (i > 0):]] \
        == [f"t{i}" for i in range(10)]
    # doc2: one short chunk
    assert [(r["chunk"], r["n_tokens"]) for r in by[2]] == [("a b c", 3)]
    # doc3: 8 tokens -> starts 1,3,5 -> last chunk partial ("u6 u7")? n=8,
    # window=4, stride=2: n_chunks = 1 + ceil(4/2) = 3 -> starts 1,3,5
    assert [r["chunk"] for r in by[3]] == [
        "u0 u1 u2 u3", "u2 u3 u4 u5", "u4 u5 u6 u7",
    ]


def test_dsir_target_slice_scores_higher(spark):
    """DSIR sanity on the planted corpus: the target-lang (en) slice
    must out-score every other lang ON AVERAGE (its n-gram profile IS
    the target distribution), keep decisions replay through the Python
    h1 mirror, and rate_e6 is a true min-max normalization (full [0,
    1e6] span, monotone in score)."""
    from nerpii_spark.functions.hashing import h1
    from nerpii_spark.operators.textstats import dsir_weights

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    scored = dsir_weights(docs).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    rows = scored.collect()
    assert len(rows) == docs.count()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r["score"])
    mean_en = sum(by_lang["en"]) / len(by_lang["en"])
    for lang, ss in by_lang.items():
        if lang != "en":
            assert mean_en > sum(ss) / len(ss), lang
    # keep replays through the Python mirror of the keyed hash chain
    from nerpii_spark.operators.textstats import DSIR_SALT

    for r in rows:
        assert r["keep"] == int(
            h1(r["doc_id"], DSIR_SALT) % 1000000 < r["rate_e6"]
        )
    # min-max: extremes hit 0 and 1e6 exactly; monotone in score
    rates = sorted((r["score"], r["rate_e6"]) for r in rows)
    assert rates[0][1] == 0 and rates[-1][1] == 1000000
    assert all(a[1] <= b[1] for a, b in zip(rates, rates[1:]))


def test_pq_topk_tiny_corpus_short_codebooks(spark):
    """A corpus smaller than k_codes falls back to full-table training
    with SHORT codebooks (the lloyd_centroids/`limit k` behavior) — it
    must run, return exactly k ranked neighbors per query, and agree
    with exact L2 (with <= n-1 codes per subspace the quantizer is
    near-lossless at this size)."""
    import numpy as np

    from nerpii_spark.operators.cluster import QUANT

    embs = spark.read.parquet(f"{SF}/embeddings.parquet").where(
        "vec_id < 20"
    )
    got = SIM.pq_topk(embs, "vec_id < 4", k=2).collect()
    per_q = {}
    for r in got:
        per_q.setdefault(r["query_id"], []).append(r)
    assert set(per_q) == {0, 1, 2, 3}
    assert all(sorted(x["rank"] for x in rs) == [1, 2]
               for rs in per_q.values())
    rows = embs.collect()
    X = np.stack([
        np.round(np.asarray(r["embedding"], dtype=np.float64) * QUANT)
        for r in rows
    ]).astype(np.int64)
    ids = np.array([r["vec_id"] for r in rows])
    o = np.argsort(ids)
    X, ids = X[o], ids[o]
    for q, rs in per_q.items():
        qi = int(np.flatnonzero(ids == q)[0])
        d = ((X - X[qi]) ** 2).sum(axis=1)
        for r in rs:
            ni = int(np.flatnonzero(ids == r["neighbor_id"])[0])
            assert r["dist"] == d[ni]  # exact re-rank distances


def test_bm25_matches_python_mirror(spark):
    import math

    from nerpii_spark.operators.textstats import bm25_topk

    corpus = [
        (0, "spark spark spark merge window pad pad pad"),
        (1, "spark merge"),
        (2, "window pad pad"),
        (3, "pad pad pad pad pad pad pad pad pad pad pad pad"),
        (4, "spark window merge spark"),
    ]
    query = ("spark", "merge", "window")

    def mirror():
        toks = {d: t.split(" ") for d, t in corpus}
        n = len(corpus)
        sum_dl = sum(len(v) for v in toks.values())
        df = {q: sum(1 for v in toks.values() if q in v) for q in query}
        out = []
        for d, v in toks.items():
            dl = len(v)
            s = 0.0
            for q in query:
                tf = v.count(q)
                idf = math.log((n - df[q] + 0.5) / (df[q] + 0.5) + 1.0)
                s += idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl * float(n) / sum_dl)))
            out.append((d, round(s * 1e6)))
        out.sort(key=lambda r: (-r[1], r[0]))
        return out

    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = [
        (r["doc_id"], r["score_e6"])
        for r in bm25_topk(df, query=query, k=5).collect()
    ]
    want = mirror()
    assert got == want
    # ranking sanity: the multi-term short doc 4 beats the one-term
    # doc 2; the no-term doc 3 is last with score 0
    order = [d for d, _ in got]
    assert order.index(4) < order.index(2)
    assert order[-1] == 3 and got[-1][1] == 0


def test_triple_support_counts_distinct_hosts(spark):
    from nerpii_spark.operators.extract import triple_support

    rows = [
        # same fact from two docs on ONE host + one doc on another host
        (1, "https://a.io/x", "alice", "works_at", "acme"),
        (2, "https://a.io/y", "alice", "works_at", "acme"),
        (3, "https://b.io/z", "alice", "works_at", "acme"),
        # single-source fact
        (3, "https://b.io/z", "bob", "lives_in", "rome"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, url string, subj string, pred string, obj string"
    )
    got = {
        (r["subj"], r["pred"], r["obj"]): (r["n_docs"], r["n_hosts"])
        for r in triple_support(df).collect()
    }
    assert got == {
        ("alice", "works_at", "acme"): (3, 2),
        ("bob", "lives_in", "rome"): (1, 1),
    }


def test_kcenter_matches_python_bruteforce(spark):
    from nerpii_spark.operators.cluster import QUANT, kcenter_select

    # 2-d-ish vectors padded to 4 dims: three tight points near origin,
    # two far outliers — greedy must pick the outliers early
    vecs = {
        0: [0.0, 0.0, 0.0, 0.0],
        1: [0.01, 0.0, 0.0, 0.0],
        2: [0.0, 0.01, 0.0, 0.0],
        3: [10.0, 0.0, 0.0, 0.0],
        4: [0.0, -9.0, 0.0, 0.0],
    }
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )

    def mirror(k):
        xq = {i: [round(x * QUANT) for x in v] for i, v in vecs.items()}
        d2 = lambda a, b: sum((x - y) ** 2 for x, y in zip(a, b))
        picked = [(1, 0, 0)]
        dmin = {i: d2(xq[i], xq[0]) for i in xq}
        for r in range(2, k + 1):
            cand = [i for i in xq if i not in [p[1] for p in picked]]
            nxt = max(cand, key=lambda i: (dmin[i], -i))
            picked.append((r, nxt, dmin[nxt]))
            for i in xq:
                dmin[i] = min(dmin[i], d2(xq[i], xq[nxt]))
        return picked

    got = [
        (r["sel_rank"], r["vec_id"], r["d2"])
        for r in kcenter_select(df, k=4)
        .orderBy("sel_rank")
        .collect()
    ]
    assert got == mirror(4)
    # diversity property: the two outliers are picked at ranks 2 and 3
    assert {got[1][1], got[2][1]} == {3, 4}
