"""Planted-corpus goldens: offsets, determinism, detection P/R = 1.0.

Mirrors the reference's golden-dict strategy
(tests/test_named_entity_recognizer.py:203-265) but over the page corpus:
the generator computes ground truth, the detector must reproduce it.
"""

import duckdb
import pytest

from nerpii_spark.operators.detect import scan_text
from nerpii_spark.sources import pages as P

BASE_WORDS = "key agg row scan slow fast table value part hash the a".split()


def base_text(i: int) -> str:
    return " ".join(BASE_WORDS[(i + j) % len(BASE_WORDS)] for j in range(20))


def golden_mentions_with_offsets(doc_id: int, base: str):
    """Expected (entity_type, mention, begin, end) from the planted spec."""
    planted = P.plant_doc(doc_id)
    text = base
    out = []
    for s in planted.sentences:
        start = len(text) + 1  # joined with one space
        text = text + " " + s.text
        cursor = 0
        for etype, m in s.mentions:
            off = s.text.index(m, cursor)
            out.append((etype, m, start + off, start + off + len(m)))
            cursor = off + 1
    return text, out


@pytest.mark.parametrize("doc_id", list(range(0, 200, 7)))
def test_scan_text_exact_offsets(doc_id):
    base = base_text(doc_id)
    text, golden = golden_mentions_with_offsets(doc_id, base)
    got = [(m[1], m[2], m[3], m[4]) for m in scan_text(text)]
    assert sorted(got) == sorted(golden)
    # byte-identical reconstruction
    assert text == P.page_text(base, doc_id)


def test_corpus_deterministic():
    a = P.plant_doc(12345)
    b = P.plant_doc(12345)
    assert [s.text for s in a.sentences] == [s.text for s in b.sentences]


def test_luhn_planted_cards_valid():
    for doc_id in range(300):
        for s in P.plant_doc(doc_id).sentences:
            for etype, m in s.mentions:
                if etype == "CREDIT_CARD_NUMBER":
                    assert P.luhn_valid(m), m
                if etype == "US_SSN":
                    assert len(m) == 11 and m[3] == m[6] == "-"


def test_duckdb_python_page_parity():
    con = duckdb.connect()
    rows = [(i, base_text(i), "en") for i in range(64)]
    con.sql("create table documents as select * from (values " +
            ",".join(f"({i}, '{t}', '{l}')" for i, t, l in rows) +
            ") t(doc_id, text, lang)")
    duck = {r[0]: r[1] for r in
            con.sql("select doc_id, text from (" + P.pages_sql("duck") + ")").fetchall()}
    for i, t, _ in rows:
        assert duck[i] == P.page_text(t, i)


def test_spark_pipeline_pr_one(spark):
    """Full S1->S2->S3 on html-wrapped pages == planted ground truth."""
    from pyspark.sql import functions as F

    from nerpii_spark.operators.clean import clean_pages
    from nerpii_spark.operators.detect import detect_mentions
    from nerpii_spark.operators.extract import extract_triples

    rows = [(i, base_text(i), "en") for i in range(80)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    docs.createOrReplaceTempView("t_documents")
    pg = (
        spark.sql(P.pages_sql("spark", doc_rel="t_documents", with_html=True))
        .drop("text")
        .withColumn("text", F.lit(None).cast("string"))
    )
    mentions = detect_mentions(clean_pages(pg))
    got_m = sorted(
        (r["doc_id"], r["entity_type"], r["mention"], r["begin"], r["end"])
        for r in mentions.collect()
    )
    exp_m = []
    exp_t = []
    for i, t, _ in rows:
        _, golden = golden_mentions_with_offsets(i, t)
        exp_m += [(i, *g) for g in golden]
        for s in P.plant_doc(i).sentences:
            exp_t += [(i, *tr) for tr in s.triples]
    assert got_m == sorted(exp_m)

    triples = extract_triples(mentions)
    got_t = sorted(
        (r["doc_id"], r["subj"], r["pred"], r["obj"]) for r in triples.collect()
    )
    assert got_t == sorted(exp_t)


def test_clean_html_edge_cases():
    """clean is a total, pure function of the bytes (SURVEY.md §7 hard
    part (a)): malformed/empty inputs never raise."""
    from nerpii_spark.operators.clean import clean_html_bytes

    assert clean_html_bytes(None) is None
    assert clean_html_bytes(b"") == ""
    assert clean_html_bytes(b"plain words only") == "plain words only"
    # article region wins, byte-exact
    assert clean_html_bytes(b"<html><article>A  B</article></html>") == "A  B"
    # no article: blocks stripped, whitespace collapsed
    got = clean_html_bytes(
        b"<html><script>x</script><body>Hello <b>world</b></body></html>"
    )
    assert got == "Hello world"
    # invalid utf-8 replaced, not raised
    assert clean_html_bytes(b"<article>\xff\xfe</article>") is not None
    # deterministic
    raw = b"<html><nav>n</nav><p>x y</p></html>"
    assert clean_html_bytes(raw) == clean_html_bytes(raw)
    # real-world casing/attributes: uppercase script stripped, attributed
    # article still wins
    assert clean_html_bytes(b"<SCRIPT>var x=1;</SCRIPT><P>Hello</P>") == "Hello"
    assert clean_html_bytes(b'<Article class="x">A B</Article>') == "A B"
    assert clean_html_bytes(b"<style >c{}</style >ok") == "ok"


def test_builtin_patterns_have_scan_prefix():
    """Every built-in detector regex except the '@'-guarded EMAIL, and
    SENT_SPLIT, compiles with a literal or charset prefix, so `re` skips
    ahead to candidate positions instead of trying a full match at every
    character. A leading \\b or lookbehind silently loses this."""
    try:
        from re import _compiler, _constants, _parser

        compile_info = _compiler._compile_info
        parse = _parser.parse
        scannable = _constants.SRE_INFO_PREFIX | _constants.SRE_INFO_CHARSET
    except (ImportError, AttributeError) as e:
        pytest.skip(f"re's private compiler API is not available: {e}")
    from nerpii_spark.operators.detect import (
        SENT_SPLIT, build_detectors, compile_detectors,
    )

    rxs = {"sent_split": SENT_SPLIT}
    for lang in ("en", "it"):
        for d in compile_detectors(build_detectors(lang=lang)):
            if d[3] != "regex_email":
                rxs[d[3]] = d[1]
    no_prefix = []
    for name, rx in rxs.items():
        parsed = parse(rx.pattern, rx.flags)
        code: list = []
        compile_info(code, parsed, parsed.state.flags)
        # INFO block layout: [INFO, skip, mask, ...]
        if not code[2] & scannable:
            no_prefix.append(name)
    assert no_prefix == []


def test_detector_registry_seam(spark):
    """The analyzer is built from registrations (reference
    set_presidio_analyzer/set_model seam, named_entity_recognizer.py:
    343-405): additional_addresses extends the deny list (:97-147) and a
    custom recognizer spec surfaces its own mentions in S2 output."""
    from nerpii_spark.operators.detect import build_detectors, detect_mentions

    dets = build_detectors(
        additional_addresses=["Esplanade"],
        extra=[("BADGE_ID", r"\bBDG-\d{4}\b", 0.9, "custom_badge", False)],
    )
    df = spark.createDataFrame(
        [(1, "Meet at 5 Esplanade near the office. Badge BDG-1234 required.")],
        "doc_id bigint, text string",
    )
    got = detect_mentions(df, id_cols=("doc_id",), detectors=dets)
    rows = {(r["entity_type"], r["mention"]) for r in got.collect()}
    assert ("ADDRESS", "Esplanade") in rows
    assert ("BADGE_ID", "BDG-1234") in rows
    # the default analyzer knows neither
    base = detect_mentions(df, id_cols=("doc_id",))
    brows = {(r["entity_type"], r["mention"]) for r in base.collect()}
    assert ("ADDRESS", "Esplanade") not in brows
    assert all(e != "BADGE_ID" for e, _ in brows)


def test_detector_registry_validation(spark):
    """A typo'd guard tag fails fast driver-side with a clear message;
    an explicitly empty detector list means 'detect nothing', not 'fall
    back to the default analyzer'."""
    from nerpii_spark.operators.detect import detect_mentions

    df = spark.createDataFrame(
        [(1, "Contact a@b.example now.")], "doc_id bigint, text string"
    )
    with pytest.raises(ValueError, match="unknown guard"):
        detect_mentions(
            df, id_cols=("doc_id",),
            detectors=[("X", r"x", 1.0, "x", False, "digit")],
        )
    assert detect_mentions(df, id_cols=("doc_id",), detectors=[]).count() == 0
    assert detect_mentions(df, id_cols=("doc_id",)).count() > 0


def test_it_detectors_find_italian_entities(spark):
    """lang='it' analyzer (it_core_news_lg stand-in): Italian persons and
    cities detected in page text."""
    from nerpii_spark.operators.detect import build_detectors, detect_mentions

    df = spark.createDataFrame(
        [(1, "Giulia Rossi lavora a Milano. Contact via Corso Cavour 7.")],
        "doc_id bigint, text string",
    )
    got = detect_mentions(
        df, id_cols=("doc_id",), detectors=build_detectors(lang="it")
    )
    rows = {(r["entity_type"], r["mention"]) for r in got.collect()}
    assert ("PERSON", "Giulia Rossi") in rows
    assert ("LOCATION", "Milano") in rows
    assert ("ADDRESS", "Corso") in rows


def test_page_html_python_sql_parity(spark):
    """pages_sql(with_html) bytes == the page_html() python mirror for
    every page — the invariant html_expr() claims; also pins the planted
    anchor links the web-graph queries extract."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.createOrReplaceTempView("hp_documents")
    rows = (
        spark.sql(P.pages_sql("spark", doc_rel="hp_documents", with_html=True))
        .select("doc_id", "html", "text")
        .collect()
    )
    assert rows
    for r in rows:
        assert bytes(r["html"]) == P.page_html(r["text"], r["doc_id"])
        nxt, hub = P.link_hosts(r["doc_id"])
        assert f'href="https://{nxt}/"'.encode() in bytes(r["html"])
        assert f'href="https://{hub}/"'.encode() in bytes(r["html"])


def test_callable_detector_rides_registry(spark):
    """VERDICT r2 #4: a callable (model-backed) detector must ride the
    same registry as regex specs — registered via build_detectors'
    `extra`, constructed lazily per executor (never pickled pre-built),
    and surfacing its mentions in S2 output with detector provenance.
    The factory is a nested function so cloudpickle ships it by VALUE —
    exactly how a user registers one from their own driver script."""
    from nerpii_spark.operators.detect import (
        build_detectors,
        detect_mentions,
        scan_text,
        compile_detectors,
    )

    def _planet_model_factory():
        # stand-in for a heavyweight NER engine: 'loads the model'
        # (builds a closure) once per executor Python process and
        # returns fn(segment) -> [(start, end)] spans
        import re as _re

        rx = _re.compile(r"\bZorblat(?: Prime)?\b")
        return lambda seg: [(m.start(), m.end()) for m in rx.finditer(seg)]

    dets = build_detectors(
        extra=[("PLANET", _planet_model_factory, 0.9, "model_planet", False)],
    )
    df = spark.createDataFrame(
        [
            (1, "Karen Kemp arrived from Zorblat Prime yesterday."),
            (2, "Nothing here. The Zorblat embassy on Main St was shut."),
        ],
        "doc_id bigint, text string",
    )
    got = detect_mentions(df, id_cols=("doc_id",), detectors=dets).collect()
    planets = {
        (r["doc_id"], r["mention"], r["detector"], r["score"])
        for r in got if r["entity_type"] == "PLANET"
    }
    assert planets == {
        (1, "Zorblat Prime", "model_planet", 0.9),
        (2, "Zorblat", "model_planet", 0.9),
    }
    # spans are document-absolute (segment offset applied), same as regex
    p1 = next(r for r in got if r["entity_type"] == "PLANET" and r["doc_id"] == 2)
    text2 = "Nothing here. The Zorblat embassy on Main St was shut."
    assert text2[p1["begin"]:p1["end"]] == "Zorblat"
    # regex detectors still fire alongside (PERSON from the gazetteer)
    assert any(r["entity_type"] == "PERSON" and r["doc_id"] == 1 for r in got)
    # direct scan_text path + the luhn post-filter applies to callables too
    cd = compile_detectors(dets)
    assert [m[1] for m in scan_text("Zorblat calling.", cd) if m[1] == "PLANET"]
    # a non-matcher registration fails fast driver-side
    with pytest.raises(ValueError, match="zero-arg factory"):
        detect_mentions(
            df, id_cols=("doc_id",),
            detectors=[("X", 42, 1.0, "bad", False)],
        )


def test_model_lifecycle_artifact_loaded_once_per_executor(spark, tmp_path):
    """VERDICT r3 #3: the callable-detector seam under a REAL model
    lifecycle shape — a factory that loads a multi-MB weights/lookup
    artifact from DISK (the reference's spaCy/BERT loads,
    named_entity_recognizer.py:398-405), constructed ONCE per executor
    Python process and reused across every Arrow batch, partition, and
    job (spark.python.worker.reuse). Memory stays bounded at
    |artifact| x |worker processes|, never x |tasks|: the per-PID
    construction markers prove it."""
    import os

    from nerpii_spark.operators.detect import build_detectors, detect_mentions

    # ~3 MB on-disk gazetteer artifact: 150k synthetic surnames, with
    # two planted markers the corpus below mentions
    artifact = tmp_path / "surnames.txt"
    marker_dir = tmp_path / "constructions"
    marker_dir.mkdir()
    with open(artifact, "w") as f:
        for i in range(150_000):
            f.write(f"Synthname{i:06d}\n")
        f.write("Zorblatson\nQuuxworthy\n")
    assert artifact.stat().st_size > 2_000_000
    art_path, mark_path = str(artifact), str(marker_dir)

    def _artifact_model_factory():
        # 'load the weights': parse the artifact into an in-memory
        # lookup ONCE; drop a per-PID marker so the test can count
        # constructions per worker process from the driver
        import re as _re

        with open(art_path) as fh:
            names = {ln.strip() for ln in fh if ln.strip()}
        with open(os.path.join(mark_path, str(os.getpid())), "a") as mh:
            mh.write(f"{len(names)}\n")
        rx = _re.compile(r"\b[A-Z][a-z]+\b")
        return lambda seg: [
            (m.start(), m.end())
            for m in rx.finditer(seg)
            if m.group(0) in names
        ]

    dets = build_detectors(
        extra=[("SURNAME", _artifact_model_factory, 0.95,
                "model_surname_artifact_v1", False)],
    )
    rows = [
        (i, f"Case {i}: Dr. Zorblatson met Ms. Quuxworthy at noon.")
        for i in range(64)
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string"
    ).repartition(8)
    # two jobs over 8 partitions = 16 task executions through the seam
    got1 = detect_mentions(df, id_cols=("doc_id",), detectors=dets).collect()
    got2 = detect_mentions(df, id_cols=("doc_id",), detectors=dets).collect()
    for got in (got1, got2):
        surnames = [r for r in got if r["entity_type"] == "SURNAME"]
        assert len(surnames) == 2 * 64
        # provenance: S2 rows carry the model-version detector name
        assert {r["detector"] for r in surnames} == {
            "model_surname_artifact_v1"
        }
        assert {r["mention"] for r in surnames} == {
            "Zorblatson", "Quuxworthy"
        }
    # lifecycle: every worker process constructed the model EXACTLY
    # once (one marker line per PID) despite processing many batches
    # across two jobs — and each load saw the full 150,002-name artifact
    pids = os.listdir(mark_path)
    assert 1 <= len(pids) <= 32
    for pid in pids:
        lines = open(os.path.join(mark_path, pid)).read().splitlines()
        assert lines == ["150002"], (pid, lines)
