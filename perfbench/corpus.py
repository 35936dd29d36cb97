"""Seeded inputs for the benchmark: the planted pages corpus and its goldens.

The filler text of each document comes from a numpy generator seeded with
the workload seed; the planted entity/PII sentences are a keyed hash of
``doc_id`` (``nerpii_spark.sources.pages``). The seed also offsets the
``doc_id`` space, so a new seed gives new planted content of the same
shape. Goldens are recomputed from the same seeded documents.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# the vocabulary and language mix of the `documents` test tables:
# lowercase engine words that no detector matches
VOCAB = (
    "spark window merge table column vector stream value data small join"
    " filter big group hash customer sort order slow line part fast row the"
    " agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)

# doc_id must stay far below 2^31 (functions/hashing.py: key * PHI must
# fit int64 on the SQL side)
SEED_STRIDE = 1_000_000
N_SEED_SLOTS = 2000


def doc_id_base(seed: int) -> int:
    return (seed % N_SEED_SLOTS) * SEED_STRIDE


def documents(seed: int, n_docs: int) -> pd.DataFrame:
    """(doc_id, lang, text): `n_docs` seeded filler documents."""
    if not 0 < n_docs <= SEED_STRIDE:
        raise ValueError(f"n_docs must be in (0, {SEED_STRIDE}], got {n_docs}")
    rng = np.random.Generator(np.random.PCG64(seed))
    n_words = rng.integers(8, 96, size=n_docs)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), size=int(n_words.sum()))]
    ends = np.cumsum(n_words)
    texts = [" ".join(ws) for ws in np.split(words, ends[:-1])]
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64) + doc_id_base(seed),
        "lang": rng.choice(LANGS, size=n_docs, p=LANG_P),
        "text": texts,
    })


# many small scan tasks (16 per core on 4 CPUs): when the host slows one
# CPU, the last wave of a stage waits on one short task, not a long one
N_FILES = 64


def pages_table(docs: pd.DataFrame):
    """The pages table (doc_id, url, warc_ts, html, text, lang) as Arrow.
    `text` is null, so S1 must derive it from the html bytes. Pages come
    from the Python mirror of the planted corpus (`page_text`/`page_html`);
    the goldens below come from the SQL builders, so the two derivations
    check each other."""
    import pyarrow as pa

    from nerpii_spark.functions.hashing import h1
    from nerpii_spark.sources.pages import BASE_EPOCH, page_html, page_text

    ids = docs["doc_id"].tolist()
    langs = docs["lang"].tolist()
    htmls = [
        page_html(page_text(t, d), d) for d, t in zip(ids, docs["text"].tolist())
    ]
    urls = [
        f"https://site{h1(d, 0) % 977}.example/{lang}/page/{d}"
        for d, lang in zip(ids, langs)
    ]
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(
            [(BASE_EPOCH + d) * 1_000_000 for d in ids], pa.timestamp("us", "UTC")
        ),
        "html": pa.array(htmls, pa.binary()),
        "text": pa.nulls(len(ids), pa.string()),
        "lang": pa.array(langs, pa.string()),
    })


def write_pages(table, path: str, n_files: int = N_FILES) -> int:
    """Write `table` round-robin into `n_files` Parquet files under `path`;
    returns the bytes written."""
    import os

    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    total = 0
    for i in range(n_files):
        f = os.path.join(path, f"part-{i:03d}.parquet")
        pq.write_table(table.take(list(range(i, table.num_rows, n_files))), f)
        total += os.path.getsize(f)
    return total


def _duck(sql: str, **tables: pd.DataFrame) -> pd.DataFrame:
    import duckdb

    con = duckdb.connect()
    try:
        for name, df in tables.items():
            con.register(name, df)
        return con.execute(sql).df()
    finally:
        con.close()


def golden_triples(docs: pd.DataFrame) -> pd.DataFrame:
    """(doc_id, subj, pred, obj) planted truth, recomputed in DuckDB."""
    from nerpii_spark.sources import pages as P

    return _duck(P.golden_triples_sql("duck"), documents=docs)


def golden_masked_triples(golden: pd.DataFrame) -> pd.DataFrame:
    """`masked_triples_exprs` applied to the golden triples (DuckDB)."""
    from nerpii_spark.operators.mask import masked_triples_exprs

    subj, obj = masked_triples_exprs("duck")
    return _duck(
        f"select doc_id, {subj} as subj, pred, {obj} as obj from golden",
        golden=golden,
    )


def golden_entities(docs: pd.DataFrame) -> pd.DataFrame:
    """(entity_type, canonical, n_surfaces, n_mentions) planted clusters,
    recomputed in DuckDB from the same documents."""
    from nerpii_spark.sources import pages as P

    return _duck(P.golden_entities_sql("documents"), documents=docs)
