r"""S2 — vectorized mention detection (the core op, SURVEY.md O10).

Arrow-batched ``mapInPandas`` scan producing the long `mentions` table

    (id cols..., sid, entity_type, mention, begin, end, score, detector,
     m_works, m_lives, m_in)

Detector suite = deterministic stand-ins for the reference's engines
(models are unavailable in the sandbox; the `detector` column records
provenance, SURVEY.md §7 hard-part (d)):

  * structural regexes — Presidio built-ins (EMAIL/PHONE/URL/US_SSN/
    CREDIT_CARD with Luhn validation/ZIPCODE)
  * the reference's exact 25-term ADDRESS deny list
    (named_entity_recognizer.py:115-141)
  * gazetteer PERSON / LOCATION (stand-in for spaCy,
    named_entity_recognizer.py:331-341)
  * pattern ORGANIZATION with BIO tags (stand-in for dslim/bert-base-NER,
    named_entity_recognizer.py:398-405)

All regexes are compiled once per executor process at module import
(per-executor singleton — never pickled through closures, SURVEY.md §4.5).

Every built-in pattern except EMAIL (which starts with a repeat and is
skipped by its '@' guard), and the sentence splitter, begins with a
CONSUMED character: a literal, a character class or a branch of
literals. The left-context check a pattern needs (``\b``, ``(?<![\d-])``)
is a lookbehind placed right after that character. CPython's `re` then
compiles a prefix or charset into the pattern and skips ahead to the
positions holding a possible first character; a pattern that begins
with ``\b`` or a lookbehind instead gets a full match attempt at every
position of every sentence. Moving the check keeps the match at every
start position, so `finditer` output is unchanged.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import gazetteers as G
from ..sources.pages import luhn_valid

# split at sentence-final punctuation, but never after a middle initial
# ("James Q. Smith"). Equivalent to (?<=[.!?])(?<!\s[A-Z]\.)\s+ with both
# lookbehinds checked after the first whitespace char, so the pattern
# starts with a consumed character class (see the module docstring).
SENT_SPLIT = re.compile(r"\s(?<=[.!?]\s)(?<!\s[A-Z]\.\s)\s*")


def _alt(words: list[str]) -> str:
    return "|".join(re.escape(w) for w in sorted(words, key=len, reverse=True))


def _trie_alt(words: list[str]) -> str:
    """Character-trie form of `_alt`: matches EXACTLY the same set with
    the same leftmost-longest span (at each node, child branches are
    tried before the end-of-word marker, mirroring the length-desc sort),
    but common prefixes are merged so the `re` engine never re-scans
    them per branch. Measured 1.6-2.5x on the gazetteer detectors over
    the bench corpus with zero span mismatches across 8k docs. The
    result is wrapped in a group, which hides its first characters from
    the engine's prefix scan; `_word_alt` is the prefix-scannable form
    for whole-word gazetteers."""
    root: dict = {}
    for w in words:
        node = root
        for ch in w:
            node = node.setdefault(ch, {})
        node[""] = {}
    def emit(node: dict) -> str:
        end = "" in node
        alts = [
            re.escape(k) + emit(node[k])
            for k in sorted(k for k in node if k != "")
        ]
        if not alts:
            return ""
        body = "|".join(alts)
        if end:
            return "(?:" + body + ")?"
        return alts[0] if len(alts) == 1 else "(?:" + body + ")"
    return "(?:" + emit(root) + ")"


def _word_alt(
    groups: list[tuple[list[str], str]], literal: str | None = None
) -> str:
    r"""Prefix-scannable form of ``\b(?:trie_1)tail_1|\b(?:trie_2)tail_2
    ...|literal`` for `groups` of (words, tail): the same match at every
    start position, so the same `finditer` spans.

    The alternation is factored by first character, and ``\bc`` (c a
    word character) is written ``c(?<!\w.)``: after consuming c, the
    lookbehind checks that the character before c is not a word
    character, which is what ``\b`` before c checks. Every top-level
    branch then starts with a literal, so `re` scans ahead to the
    positions holding one of those characters instead of trying a full
    match at every position of the text. At one position the branches
    are tried in the old order: each group's trie of suffixes with its
    tail, in `groups` order, then the rest of `literal`, which matches
    without a word boundary."""
    by_first: dict[str, list[str]] = {}
    for words, tail in groups:
        firsts: dict[str, list[str]] = {}
        for w in words:
            if not re.match(r"\w", w):
                raise ValueError(f"{w!r} does not start with a word character")
            firsts.setdefault(w[0], []).append(w[1:])
        for c, rests in firsts.items():
            by_first.setdefault(c, []).append(
                r"(?<!\w.)" + _trie_alt(rests) + tail
            )
    if literal:
        by_first.setdefault(literal[0], []).append(re.escape(literal[1:]))
    return "|".join(
        re.escape(c) + (alts[0] if len(alts) == 1 else "(?:" + "|".join(alts) + ")")
        for c, alts in sorted(by_first.items())
    )


# --- structural recognizers (Presidio-style) -------------------------------
# EMAIL starts with a repeat and keeps its '@' guard; every other pattern
# begins with a consumed character and checks its left context with a
# lookbehind right after it: \d(?<![\d-]\d) matches where (?<![\d-])\d does.
RE_EMAIL = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
RE_URL = re.compile(r"https?://[^\s<>\"']+")
RE_PHONE = re.compile(
    r"[(\d](?:(?<=\()\d{3}\) \d{3}-\d{4}"
    r"|(?<=\d)(?<![\d-]\d)\d{2}-\d{3}-\d{4}(?![\d-]))"
)
RE_SSN = re.compile(r"\d(?<![\d-]\d)\d{2}-\d{2}-\d{4}(?![\d-])")
RE_CARD = re.compile(r"\d(?<![\d-]\d)\d{12,15}(?![\d-])")
RE_ZIP = re.compile(r"\d(?<![\d/.-]\d)\d{4}(?![\d-])")

# --- gazetteer recognizers (spaCy stand-ins) --------------------------------
# optional middle initial between first and last name ("James Q. Smith")
_PERSON_TAIL = r" (?:[A-Z]\. )?[A-Z][a-z]+\b"
_FIRSTS = G.FIRST_NAMES + [n.upper() for n in G.FIRST_NAMES]
RE_PERSON = re.compile(_word_alt([(_FIRSTS, _PERSON_TAIL)]))
_LOCS = G.CITIES + G.STATES + G.COUNTRIES
RE_LOC = re.compile(_word_alt([(_LOCS, r"\b"), (G.STATE_ABBR, r"\b")]))

# --- pattern ORGANIZATION (BERT stand-in) -----------------------------------
RE_ORG = re.compile(
    rf"[A-Z](?<!\w.)(?:[a-z]+ {_trie_alt(G.ORG_SUFFIXES)}\b"
    r"|(?<=U)niversity of [A-Z][a-z]+\b)"
)

# --- the reference's deny-list ADDRESS recognizer ---------------------------
_DENY_WORDS = [w for w in G.ADDRESS_DENY_LIST if w != "C/"]
RE_ADDRESS = re.compile(_word_alt([(_DENY_WORDS, r"\b")], literal="C/"))

# --- detector registry ------------------------------------------------------
# A detector is DATA: (entity_type, matcher, score, detector_name,
# needs_luhn[, guard]) where `matcher` is one of
#   * a regex (re.Pattern) or pattern string (compiled lazily
#     executor-side) — the vectorizable fast path;
#   * a zero-arg FACTORY returning a span function
#     `fn(segment: str) -> iterable[(start, end)]` — the model seam:
#     the factory runs ONCE PER EXECUTOR PYTHON PROCESS (cached by
#     detector name, never pickled pre-built), which is exactly how a
#     real Presidio AnalyzerEngine / spaCy nlp / HF pipeline must be
#     held (load the weights per worker, ship only the recipe).
# The optional `guard` names a cheap per-segment necessary condition
# ('at' = contains '@', 'http', 'dig' = contains a digit, 'up' =
# contains an uppercase letter) that lets scan_text skip the matcher
# entirely on segments that cannot match. With the prefix-scannable
# patterns they still save 1.39x in scan_text (10k benchmark pages, one
# process on a 4-CPU host: 0.95 s without guards, 0.69 s with), with
# byte-identical output.
# The analyzer is BUILT from registrations —
# the seam the reference exposes via set_presidio_analyzer(
# add_addresses_recognizer, additional_addresses) and set_model
# (named_entity_recognizer.py:343-405): swapping in a real Presidio/spaCy/
# HF engine (or a user's custom recognizer) is a registration, not a
# module edit.

DetectorSpec = tuple  # (entity_type, re.Pattern | str | factory, float, str, bool)

# per-executor-process cache of constructed callable matchers, keyed by
# (detector name, factory module, factory qualname) — name uniqueness
# per registry is validated in compile_detectors; the factory identity
# fields guard against worker-reuse serving a stale matcher after a
# model is re-registered under the same name (see scan_text). A model
# VERSION change must come with a new detector name or a new factory
# function — that convention is part of the registry contract.
_MATCHER_CACHE: dict[tuple, object] = {}


def build_detectors(
    lang: str = "en",
    add_addresses_recognizer: bool = True,
    additional_addresses: list[str] | tuple[str, ...] = (),
    extra: list[DetectorSpec] | tuple[DetectorSpec, ...] = (),
) -> list[DetectorSpec]:
    """Construct the analyzer's detector list.

    Mirrors the reference's engine construction branch by branch:
    structural Presidio built-ins (language-neutral), the optional
    deny-list ADDRESS recognizer with user-supplied additional terms
    (named_entity_recognizer.py:97-147,343-357), per-lang gazetteer
    PERSON/LOCATION (en_core_web_lg vs it_core_news_lg, :359-376), the
    per-lang ORG model stand-in (dslim/bert-base-NER vs
    osiria/bert-italian-uncased-ner, :387-405), and `extra` custom
    registrations appended last (analyzer.registry.add_recognizer) —
    regex specs OR callable-backed model specs (a zero-arg factory
    returning fn(segment) -> [(start, end)], constructed once per
    executor; see the registry comment), so a real Presidio/spaCy/HF
    engine rides the same seam as the stand-ins."""
    from ..functions.text import address_pattern

    dets: list[DetectorSpec] = [
        ("EMAIL_ADDRESS", RE_EMAIL, 1.0, "regex_email", False, "at"),
        ("URL", RE_URL, 0.5, "regex_url", False, "http"),
        ("PHONE_NUMBER", RE_PHONE, 0.75, "regex_phone", False, "dig"),
        ("US_SSN", RE_SSN, 0.85, "regex_ssn", False, "dig"),
        ("CREDIT_CARD_NUMBER", RE_CARD, 1.0, "regex_luhn", True, "dig"),
        ("ZIPCODE", RE_ZIP, 0.6, "regex_zip", False, "dig"),
    ]
    if add_addresses_recognizer:
        rx = (
            RE_ADDRESS
            if not additional_addresses
            else address_pattern(list(additional_addresses))
        )
        # every built-in deny term is capitalized ('C/' incl.), so 'up'
        # is a necessary condition unless a user-added term is lowercase
        guard = (
            "up"
            if all(w != w.lower() for w in additional_addresses)
            else None
        )
        dets.append(("ADDRESS", rx, 1.0, "denylist_address", False, guard))
    if lang == "it":
        firsts = G.IT_FIRST_NAMES + [n.upper() for n in G.IT_FIRST_NAMES]
        rx_person = _word_alt([(firsts, _PERSON_TAIL)])
        rx_loc = _word_alt([(G.IT_CITIES + G.COUNTRIES, r"\b")])
        dets.append(
            ("PERSON", rx_person, 0.85, "gazetteer_person_it", False, "up")
        )
        dets.append(
            ("LOCATION", rx_loc, 0.85, "gazetteer_location_it", False, "up")
        )
        dets.append(("ORGANIZATION", RE_ORG, 0.8, "pattern_org_it", False, "up"))
    else:
        dets.append(("PERSON", RE_PERSON, 0.85, "gazetteer_person", False, "up"))
        dets.append(
            ("LOCATION", RE_LOC, 0.85, "gazetteer_location", False, "up")
        )
        dets.append(("ORGANIZATION", RE_ORG, 0.8, "pattern_org", False, "up"))
    dets.extend(extra)
    return dets


VALID_GUARDS = ("at", "http", "dig", "up", None)
_HAS_DIGIT = re.compile(r"\d")
# the substring a segment must contain for the 'at' and 'http' guards
_GUARD_TEXT = {"at": "@", "http": "http"}


def compile_detectors(dets: list[DetectorSpec]) -> list[DetectorSpec]:
    """Compile pattern strings; normalize 5-tuples (no guard) to 6.
    Validates guard tags and matcher types so a typo'd registration
    fails fast with a clear message instead of a KeyError deep inside an
    executor task (detect_mentions also runs this once driver-side for
    that reason). Callable matchers (factories) are passed through
    UNCALLED — construction happens lazily executor-side (scan_text's
    _MATCHER_CACHE), so a heavyweight model is never built on the
    driver nor pickled."""
    out = []
    names = set()
    for d in dets:
        e, p, s, n, luhn = d[:5]
        guard = d[5] if len(d) > 5 else None
        if guard not in VALID_GUARDS:
            raise ValueError(
                f"detector {n!r} ({e}): unknown guard {guard!r};"
                f" valid guards: {VALID_GUARDS}"
            )
        if not isinstance(p, (str, re.Pattern)) and not callable(p):
            raise ValueError(
                f"detector {n!r} ({e}): matcher must be a regex, a"
                " pattern string, or a zero-arg factory returning"
                f" fn(segment) -> [(start, end)]; got {type(p).__name__}"
            )
        if callable(p) and not isinstance(p, re.Pattern) and n in names:
            raise ValueError(
                f"detector name {n!r} is not unique — callable matchers"
                " are cached per executor by name"
            )
        names.add(n)
        out.append(
            (e, re.compile(p) if isinstance(p, str) else p, s, n, luhn, guard)
        )
    return out


# the default analyzer (en, addresses on) — identical to round-1 behavior
PAGE_DETECTORS = build_detectors()

# tabular mode stage split, mirroring the reference pipeline order
# (presidio stage excludes ORG + ZIPCODE: ZIPCODE exists only as a
# column-name rule, named_entity_recognizer.py:538-546; ORG only via the
# model stage, :491-521)
PRESIDIO_STAGE = [d for d in PAGE_DETECTORS if d[0] not in ("ORGANIZATION", "ZIPCODE")]
MODEL_STAGE = [d for d in PAGE_DETECTORS if d[0] == "ORGANIZATION"]

MENTION_FIELDS = (
    "sid int, entity_type string, mention string, begin bigint, end bigint,"
    " score double, detector string, m_works boolean, m_lives boolean,"
    " m_in boolean"
)


def scan_text(text: str, detectors: list[DetectorSpec] | None = None) -> list[tuple]:
    """All mentions in one document text. Returns tuples matching
    MENTION_FIELDS order. `detectors` must be pre-compiled (regex
    objects; 6-tuples with guard); defaults to the en analyzer.

    Per-segment guards (substring/charclass necessary conditions) skip
    regexes that cannot match, with byte-identical output (guards are
    implied by the patterns; see the registry comment). `up` and `dig`
    are computed once per sentence, the '@' and 'http' substring tests
    only for a detector that asks for them."""
    out = []
    pos = 0
    for sid, seg in enumerate(SENT_SPLIT.split(text)):
        start = text.index(seg, pos)
        pos = start + len(seg)
        # islower() is False when ANY uppercase cased char exists or when
        # there are no cased chars at all — conservative either way
        up = not seg.islower()
        # C-level regex search: the python-level any(isdigit) generator
        # was 87% of scan time on mention-sparse segments
        dig = _HAS_DIGIT.search(seg) is not None
        m_works = " works at " in seg
        m_lives = " lives at " in seg
        m_in = " in " in seg
        for etype, rx, score, det, needs_luhn, guard in (
            PAGE_DETECTORS if detectors is None else detectors
        ):
            if guard == "up":
                if not up:
                    continue
            elif guard == "dig":
                if not dig:
                    continue
            elif guard is not None and _GUARD_TEXT[guard] not in seg:
                continue
            if isinstance(rx, re.Pattern):  # hot path — untouched
                for m in rx.finditer(seg):
                    if needs_luhn and not luhn_valid(m.group(0)):
                        continue
                    out.append(
                        (sid, etype, m.group(0), start + m.start(),
                         start + m.end(), score, det, m_works, m_lives, m_in)
                    )
            else:
                # model seam: rx is a zero-arg factory; the constructed
                # matcher lives once per executor Python process.
                # Cache key = (detector name, factory identity): worker
                # reuse (spark.python.worker.reuse) keeps this dict
                # alive ACROSS jobs, so name alone would silently serve
                # a stale matcher after the user re-registers a changed
                # model under the same name. The qualname/module pair
                # catches the realistic case (factory_v1 vs factory_v2
                # are different functions); re-DEFINING the same
                # function name with new behavior is not detectable
                # from here — the documented convention is that the
                # detector NAME identifies the model version.
                ck = (
                    det,
                    getattr(rx, "__module__", None),
                    getattr(rx, "__qualname__", repr(type(rx))),
                )
                fn = _MATCHER_CACHE.get(ck)
                if fn is None:
                    fn = _MATCHER_CACHE.setdefault(ck, rx())
                for ms, me in fn(seg):
                    mtext = seg[ms:me]
                    if needs_luhn and not luhn_valid(mtext):
                        continue
                    out.append(
                        (sid, etype, mtext, start + ms, start + me,
                         score, det, m_works, m_lives, m_in)
                    )
    return out


def detect_mentions(
    clean_pages: DataFrame,
    id_cols: tuple[str, ...] = ("doc_id", "url", "lang"),
    text_col: str = "text",
    detectors: list[DetectorSpec] | None = None,
) -> DataFrame:
    """clean_pages -> mentions (long). One Arrow batch in, many mention
    rows out; no state crosses batches. `detectors` (from
    build_detectors) customizes the analyzer — specs with string
    patterns compile once per partition inside the executor."""
    id_cols = [c for c in id_cols if c in clean_pages.columns]
    schema = (
        ", ".join(f"{c} {clean_pages.schema[c].dataType.simpleString()}" for c in id_cols)
        + ", " + MENTION_FIELDS
    )
    cols = [*id_cols, text_col]

    out_cols = [
        "sid", "entity_type", "mention", "begin", "end", "score",
        "detector", "m_works", "m_lives", "m_in",
    ]

    specs = detectors  # capture specs, compile executor-side
    if specs is not None:
        compile_detectors(specs)  # driver-side validation (fail fast)

    def scan_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # columnar assembly: building per-column lists and one dict-of-lists
        # DataFrame is several times cheaper than DataFrame-from-row-tuples
        # (this closure is the hottest Python in the engine)
        cdets = compile_detectors(specs) if specs is not None else None
        for pdf in batches:
            cols: dict[str, list] = {c: [] for c in (*id_cols, *out_cols)}
            ids = pdf[id_cols].itertuples(index=False, name=None)
            for id_vals, text in zip(ids, pdf[text_col].tolist()):
                if not text:
                    continue
                mts = scan_text(text, cdets)
                if not mts:
                    continue
                for c, v in zip(id_cols, id_vals):
                    cols[c].extend([v] * len(mts))
                for j, c in enumerate(out_cols):
                    col = cols[c]
                    for mt in mts:
                        col.append(mt[j])
            yield pd.DataFrame(cols)

    return clean_pages.select(*cols).mapInPandas(scan_batches, schema=schema)
