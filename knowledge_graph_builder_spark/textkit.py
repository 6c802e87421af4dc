"""Deterministic text kernel: cleaning, sentence segmentation, gazetteer
NER, metadata span detection, and pattern-based SVO extraction.

This module is pure Python with no Spark imports. It runs *inside* the
Arrow-batched extraction UDF (one call per document, vectorized over
pandas batches — see operators/extraction.py) and must stay deterministic:
the same document text always yields the same sentences, mentions, and SVO
candidates regardless of partitioning or executor count.

It replaces the reference's spaCy parse (en_core_web_sm is unavailable and
non-deterministic across versions) with a rule-driven equivalent:

* sentence split  — reference used spaCy `doc.sents` (nlp_engine.py:158);
  here: punctuation split with an abbreviation guard.
* NER             — reference used spaCy `doc.ents` (nlp_engine.py:166);
  here: gazetteer longest-match + capitalized-run heuristic + regex
  classes for DATE/MONEY/PERCENT/CARDINAL/ORDINAL. The gazetteer
  deliberately mislabels a few names the way spaCy does (amazon/alibaba/
  kindle as GPE) so the downstream type-correction operator
  (nlp_engine.py:55-101) has real work to do.
* SVO             — reference used the spaCy dependency parse
  (relationship_logic.py:176-256); here: a verb-anchored pattern grammar
  over detected mention spans, reproducing the reference's observable
  quirks (full-phrase endpoints including determiners, which then fail
  the validator's exact-name match).

Everything downstream of this kernel is relational (DataFrame ops).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from .rules import (
    EVENT_PARTICIPANT_TYPES,
    EVENT_PATTERNS,
    FORCE_DETECT_PRODUCTS,
    GPE_ABBREVIATIONS,
    HIGH_CONFIDENCE_VERBS,
    KNOWN_COMPANIES,
    KNOWN_PRODUCTS,
    MAX_BUCKET_PER_SENTENCE,
    MIN_CONFIDENCE_THRESHOLD,
    ORG_SUFFIXES,
    ROLE_INDICATOR_MAX_DISTANCE,
    ROLE_INDICATOR_PAIRS,
    SEMANTIC_RULES,
    SPACY_TO_NORMALIZED,
    STRONG_INDICATORS,
    STRUCTURAL_TYPES,
    VERB_TO_RELATIONSHIP,
    event_trigger_confidence,
)

# ---------------------------------------------------------------------------
# Cleaning (reference nlp_engine.py:22-27)
# ---------------------------------------------------------------------------

_WS_RE = re.compile(r"\s+")


def clean_text(text: str) -> str:
    """Collapse all whitespace runs to single spaces and strip."""
    return _WS_RE.sub(" ", text).strip()


# ---------------------------------------------------------------------------
# P3 type correction / P2 name normalization (reference nlp_engine.py:29-101)
#
# These run inside the kernel, once per mention, so the JVM side never
# re-evaluates the lexicon `when` chains or the 8-step suffix-strip regex
# chain (which Catalyst would otherwise duplicate into every window key
# and projection that references the column). The equivalent relational
# operators (operators/extraction.corrected_type_col / normalized_name_col)
# remain the public §2 operator surface and are pinned by tests to agree
# with these.
# ---------------------------------------------------------------------------

_KNOWN_PRODUCTS = frozenset(KNOWN_PRODUCTS)
_KNOWN_COMPANIES = frozenset(KNOWN_COMPANIES)


def correct_entity_type(text: str, label: str) -> str:
    """Lexicon override: known products win (any label), then known
    companies rescue GPE mislabels (reference nlp_engine.py:55-101)."""
    key = text.lower().strip()
    if key in _KNOWN_PRODUCTS:
        return "PRODUCT"
    if label == "GPE" and key in _KNOWN_COMPANIES:
        return "ORG"
    return label


def normalize_entity_name(text: str, ctype: str) -> str:
    """Sequential suffix strip for ORG/GPE (each of the 8 suffixes tested
    in order against the result of the previous strip), then GPE
    abbreviation expansion (reference nlp_engine.py:29-53)."""
    normalized = text.strip()
    if ctype in ("ORG", "GPE"):
        for suffix in ORG_SUFFIXES:
            if normalized.endswith(suffix):
                normalized = normalized[: -len(suffix)].strip()
    if ctype == "GPE":
        normalized = GPE_ABBREVIATIONS.get(normalized, normalized)
    return normalized


# ---------------------------------------------------------------------------
# Sentence segmentation
# ---------------------------------------------------------------------------

# Abbreviations that must not end a sentence (lowercased, no trailing dot).
_ABBREVIATIONS = {
    "inc", "corp", "ltd", "co", "mr", "mrs", "ms", "dr", "prof", "st", "vs",
    "etc", "e.g", "i.e", "u.s", "u.k", "u.s.a", "no", "jr", "sr", "jan",
    "feb", "mar", "apr", "jun", "jul", "aug", "sep", "sept", "oct", "nov", "dec",
}

_BOUNDARY_RE = re.compile(r"[.!?]+")
_NEXT_START_RE = re.compile(r'[A-Z0-9"\'$(]')


def split_sentences(text: str) -> list[tuple[str, int]]:
    """Split cleaned text into sentences.

    Returns ``[(sentence_text, start_offset)]`` with offsets into the
    cleaned document. A ``[.!?]`` run ends a sentence when it is followed
    by whitespace and an uppercase/digit/quote/dollar opener, unless the
    preceding token is a known abbreviation or a single capital initial.
    """
    sentences: list[tuple[str, int]] = []
    start = 0
    n = len(text)
    for m in _BOUNDARY_RE.finditer(text):
        end = m.end()
        if end >= n:
            break
        # Must be followed by whitespace then a plausible sentence opener.
        j = end
        while j < n and text[j] == " ":
            j += 1
        if j == end or j >= n or not _NEXT_START_RE.match(text[j]):
            continue
        # Preceding token check (only for '.' endings).
        if text[m.start()] == ".":
            word = _preceding_word(text, m.start())
            wl = word.lower().rstrip(".")
            if wl in _ABBREVIATIONS:
                continue
            if len(word) == 1 and word.isupper():
                continue  # middle initial: "J. Smith"
        sent = text[start:end].strip()
        if sent:
            sentences.append((sent, start))
        start = j
    tail = text[start:].strip()
    if tail:
        sentences.append((tail, start))
    return sentences


def _preceding_word(text: str, pos: int) -> str:
    i = pos
    while i > 0 and text[i - 1] not in " \t":
        i -= 1
    return text[i:pos]


# ---------------------------------------------------------------------------
# Gazetteer NER
# ---------------------------------------------------------------------------

# Raw-label gazetteer. Labels here are the *spaCy-layer* labels the kernel
# emits; the type-correction operator (P3) fixes the deliberate
# misclassifications below exactly like the reference corrects spaCy.
_GAZETTEER_SOURCE: dict[str, list[str]] = {
    "PERSON": [
        "steve jobs", "tim cook", "jeff bezos", "bill gates", "elon musk",
        "satya nadella", "sundar pichai", "mark zuckerberg", "larry page",
        "sergey brin", "jack ma", "andy jassy", "jensen huang", "lisa su",
        "sam altman", "warren buffett", "marc benioff", "jack dorsey",
        "reed hastings", "daniel ek", "steve wozniak", "paul allen",
        "larry ellison", "michael dell", "susan wojcicki", "sheryl sandberg",
    ],
    "ORG": [
        "apple", "microsoft", "google", "beats", "netflix", "oracle", "ibm",
        "intel", "nvidia", "amd", "samsung", "sony", "tesla", "spacex",
        "uber", "airbnb", "salesforce", "cisco", "huawei", "xiaomi", "meta",
        "facebook", "twitter", "tencent", "baidu", "openai", "spotify",
        "slack", "zoom", "whatsapp", "instagram", "youtube", "linkedin",
        "paypal", "stripe", "shopify", "qualcomm", "broadcom", "dell",
        "lenovo", "asus", "acer", "pixar", "deepmind", "whole foods",
        "activision", "linkedin corp", "github", "mojang", "skype",
    ],
    # Deliberate spaCy-style misclassifications: corrected downstream by P3.
    "GPE_MISLABELED": ["amazon", "alibaba", "kindle"],
    "GPE": [
        "cupertino", "california", "seattle", "redmond", "mountain view",
        "new york", "london", "paris", "tokyo", "beijing", "shanghai",
        "china", "japan", "germany", "france", "india", "texas", "austin",
        "san francisco", "menlo park", "united states", "u.s.", "u.s",
        "u.k.", "u.k", "u.s.a.", "u.s.a",
        "united kingdom", "washington", "europe", "canada",
        "singapore", "dublin", "ireland", "boston", "chicago", "hangzhou",
        "south korea", "seoul", "shenzhen", "santa clara", "palo alto",
    ],
    "PRODUCT": [
        "iphone", "ipad", "macbook", "airpods", "apple watch", "imac",
        "xbox", "surface", "azure", "android", "chrome", "gmail",
        "google maps", "pixel", "playstation", "ps5", "nintendo switch",
        "fire tv", "fire stick", "windows", "kubernetes", "tensorflow",
    ],
    # NOTE: echo/alexa/siri/cortana are intentionally absent — the
    # force-detect operator (reference nlp_engine.py:197-214) must find them.
}

GAZETTEER: dict[str, str] = {}
for _label, _phrases in _GAZETTEER_SOURCE.items():
    _out = "GPE" if _label == "GPE_MISLABELED" else _label
    for _p in _phrases:
        GAZETTEER[_p] = _out

_MAX_GAZ_WORDS = max(len(p.split()) for p in GAZETTEER)

# Fast prefilters: a gazetteer (or date-phrase) match at a token position
# is only possible when the token's punctuation-stripped core is the first
# word of some phrase — one set lookup skips the whole matching loop for
# the typical token. Keys cover dotted/dotless variants ("u.s." / "u.s").
_GAZ_FIRST_WORDS: set[str] = set()
for _p in GAZETTEER:
    _w0 = _p.split()[0]
    _GAZ_FIRST_WORDS.add(_w0)
    _GAZ_FIRST_WORDS.add(_w0.rstrip("."))

# Corporate-suffix tokens absorbed into a preceding ORG/GPE gazetteer match
# so "Apple Inc." is one span, like a spaCy ORG ent. Entries are the
# dotless token cores; a directly attached '.' is kept in the span text.
_CORP_SUFFIX_TOKENS = {"inc", "corp", "corporation", "llc", "ltd", "limited", "co"}

# Products the NER deliberately misses so the force-detect operator
# (reference nlp_engine.py:197-214) has real work to do.
_NER_BLINDSPOTS = {"echo", "alexa", "siri", "cortana"}

# Capitalized-run fallback: unknown TitleCase token runs become ORG
# (mirrors spaCy's tendency on tech/business prose, e.g. "Beats").
_CAP_TOKEN_RE = re.compile(r"^[A-Z][a-z]+$")
_STOP_CAPS = {
    "The", "A", "An", "In", "On", "At", "It", "He", "She", "They", "We",
    "I", "This", "That", "These", "Those", "Its", "His", "Her", "Their",
    "Our", "If", "When", "While", "After", "Before", "But", "And", "Or",
    "As", "By", "For", "From", "To", "With", "Series", "Last", "Next",
    "During", "Since", "Both", "Each", "Per", "Also", "However", "Then",
    "There", "Here", "Today", "Yesterday", "Tomorrow", "Meanwhile", "Now",
    "Later", "First", "Finally", "Once", "Some", "Many", "Most", "Other",
    "Another", "Such", "So", "Not", "No", "Yes", "Still", "Soon", "Again",
    "Until", "Though", "Although", "Because", "Thus", "Hence", "Therefore",
    "Moreover", "Further", "Several", "All", "Every", "Any", "What", "Who",
    "How", "Why", "Where", "Which", "Please", "Thanks", "Ok", "Okay",
}

# Metadata regex classes (ordered; first match at a position wins).
# Every word-ending alternative carries a trailing \b: without it a longer
# word extending the match ("$5 thousandths", "99 percentile") would be
# truncated INTO a mention and the rest of the token swallowed by
# _advance, feeding a bogus amount/percent into R9/EV6 metadata.
_MONEY_RE = re.compile(
    r"\$[\d][\d,]*(?:\.\d+)?(?:\s(?:trillion|billion|million|thousand)\b)?"
)
_PERCENT_RE = re.compile(r"\d+(?:\.\d+)?\s?(?:%|percent\b)")
_DATE_PHRASES = [
    "last year", "last month", "last week", "next year", "next month",
    "this year", "this month", "this week", "yesterday", "tomorrow",
]
_MONTHS = (
    "January|February|March|April|May|June|July|August|September|October|November|December"
)
# NB: every alternative needs its trailing \b — without it any token
# STARTING with a month name ("Mayor", "Juneau", "Marching") becomes a
# DATE mention, and a month followed by a longer number ("March 12345")
# would truncate into a bogus day/year and swallow the number token.
_DATE_RE = re.compile(
    rf"(?:(?:{_MONTHS})\s\d{{1,2}}(?:,\s\d{{4}})?\b)|(?:(?:{_MONTHS})\s\d{{4}}\b)|(?:(?:{_MONTHS})\b)|(?:\b(?:19|20)\d{{2}}\b)"
)
_DATE_FIRST_WORDS = {p.split()[0] for p in _DATE_PHRASES}
# cheap exact preconditions for the metadata regexes: a match at a token
# start is impossible unless the first char(s) qualify, so ordinary word
# tokens skip every regex attempt (the kernel's hottest loop)
_DATE_FIRST_CHARS = frozenset("JFMASOND0123456789")  # month initial or year digit
_ORDINAL_PREFIXES = frozenset({"fi", "se", "th", "fo", "si", "ei", "ni", "te"})
_ORDINAL_RE = re.compile(
    r"\b(?:first|second|third|fourth|fifth|sixth|seventh|eighth|ninth|tenth|\d+(?:st|nd|rd|th))\b",
    re.IGNORECASE,
)
_CARDINAL_RE = re.compile(
    r"\b\d[\d,]*(?:\.\d+)?(?:\s(?:trillion|billion|million|thousand|hundred))?\b"
)

_TOKEN_RE = re.compile(r"\S+")


@dataclass
class Mention:
    """One detected span. ``label`` is the raw (spaCy-layer) label."""

    text: str
    label: str
    start: int  # offset within the *document* (cleaned text)
    end: int


def _tokenize(sentence: str) -> list[tuple[str, int, int]]:
    return [(m.group(0), m.start(), m.end()) for m in _TOKEN_RE.finditer(sentence)]


def _strip_punct(tok: str) -> tuple[str, int, int]:
    """Strip leading/trailing punctuation; return (core, lead, trail) widths."""
    # fast path: the overwhelmingly common token has no edge punctuation
    if tok and tok[0] not in "\"'([{" and tok[-1] not in ",.;:!?\"')]}":
        return tok, 0, 0
    lead = 0
    trail = 0
    while lead < len(tok) and tok[lead] in "\"'([{":
        lead += 1
    core = tok[lead:]
    while trail < len(core) and core[-trail - 1] in ",.;:!?\"')]}":
        trail += 1
    if trail:
        core = core[:-trail]
    return core, lead, trail


def detect_mentions(
    sentence: str, sent_start: int, tokens: list[tuple[str, int, int]] | None = None
) -> list[Mention]:
    """Scan one sentence left-to-right for entity and metadata spans.

    Precedence at each token position: gazetteer longest-match > money >
    percent > date-phrase/date > ordinal > cardinal > capitalized-run ORG.
    Offsets are document-level (``sent_start`` + in-sentence offset).
    ``tokens`` lets the caller share one tokenization across passes.
    """
    if tokens is None:
        tokens = _tokenize(sentence)
    lower = sentence.lower()
    mentions: list[Mention] = []
    i = 0
    while i < len(tokens):
        tok, ts, te = tokens[i]
        core, lead, trail = _strip_punct(tok)
        if not core:
            i += 1
            continue
        cs, ce = ts + lead, te - trail
        core_lower = core.lower()

        # 1) gazetteer longest match (case-insensitive, over core tokens).
        # A trailing '.' attached to the last token is tried first so
        # dotted abbreviations ("U.S.") keep their spaCy-like surface form.
        # The first-word prefilter makes the common (non-entity) token a
        # single set lookup instead of a span loop.
        matched = False
        for span in range(
            min(_MAX_GAZ_WORDS, len(tokens) - i) if core_lower in _GAZ_FIRST_WORDS else 0, 0, -1
        ):
            lt, lts, lte = tokens[i + span - 1]
            lcore, llead, ltrail = _strip_punct(lt)
            if not lcore:
                continue
            core_end = lte - ltrail
            candidates = []
            if ltrail and sentence[core_end] == ".":
                candidates.append(core_end + 1)
            candidates.append(core_end)
            for pe in candidates:
                phrase = sentence[cs:pe]
                label = GAZETTEER.get(phrase.lower())
                if label is None:
                    continue
                # absorb a following corporate-suffix token ("Apple Inc.")
                # into ORG/GPE spans, the way spaCy yields one ORG ent.
                j = i + span
                while label in ("ORG", "GPE") and j < len(tokens):
                    stok, sts, ste = tokens[j]
                    score, slead, strail = _strip_punct(stok)
                    if score.lower() not in _CORP_SUFFIX_TOKENS or slead:
                        break
                    send = ste - strail
                    if strail and sentence[send] == ".":
                        send += 1
                    phrase = sentence[cs:send]
                    pe = send
                    j += 1
                mentions.append(Mention(phrase, label, sent_start + cs, sent_start + pe))
                i = _advance(tokens, i, pe)
                matched = True
                break
            if matched:
                break
        if matched:
            continue

        # position-anchored matches (no per-token sentence slicing; the
        # char before cs is always whitespace or leading punctuation, so
        # \b semantics are unchanged vs matching a slice). Each regex is
        # gated on its exact first-char precondition so plain word tokens
        # attempt no regex at all.
        c0 = core[0]
        if c0 == "$":
            m = _MONEY_RE.match(sentence, cs)
            if m:
                mentions.append(Mention(m.group(0), "MONEY", sent_start + cs, sent_start + m.end()))
                i = _advance(tokens, i, m.end())
                continue

        is_digit0 = c0.isdigit()
        if is_digit0:
            m = _PERCENT_RE.match(sentence, cs)
            if m:
                mentions.append(Mention(m.group(0), "PERCENT", sent_start + cs, sent_start + m.end()))
                i = _advance(tokens, i, m.end())
                continue

        if core_lower in _DATE_FIRST_WORDS:
            phrase_matched = False
            for phrase in _DATE_PHRASES:
                pe_ = cs + len(phrase)
                # boundary check: "Last yearly" must not match "last year"
                if lower.startswith(phrase, cs) and (
                    pe_ >= len(sentence) or not sentence[pe_].isalnum()
                ):
                    raw = sentence[cs : pe_]
                    mentions.append(Mention(raw, "DATE", sent_start + cs, sent_start + cs + len(phrase)))
                    i = _advance(tokens, i, cs + len(phrase))
                    phrase_matched = True
                    break
            if phrase_matched:
                continue

        if c0 in _DATE_FIRST_CHARS:
            m = _DATE_RE.match(sentence, cs)
            if m:
                mentions.append(Mention(m.group(0), "DATE", sent_start + cs, sent_start + m.end()))
                i = _advance(tokens, i, m.end())
                continue

        if is_digit0 or core_lower[:2] in _ORDINAL_PREFIXES:
            m = _ORDINAL_RE.match(sentence, cs)
            if m:
                mentions.append(Mention(m.group(0), "ORDINAL", sent_start + cs, sent_start + m.end()))
                i = _advance(tokens, i, m.end())
                continue

        if is_digit0:
            m = _CARDINAL_RE.match(sentence, cs)
            if m:
                mentions.append(Mention(m.group(0), "CARDINAL", sent_start + cs, sent_start + m.end()))
                i = _advance(tokens, i, m.end())
                continue

        # 2) capitalized-run fallback -> ORG. Deliberately blind to the
        # force-detect products; stops before gazetteer words so "Beats"
        # next to "Apple" stays two spans.
        if (
            c0.isupper()
            and _CAP_TOKEN_RE.match(core)
            and core not in _STOP_CAPS
            and core_lower not in _NER_BLINDSPOTS
        ):
            last_end = ce
            j = i
            # extend while the token had no trailing punctuation and the
            # next token is an unknown TitleCase word
            while trail == 0 and j + 1 < len(tokens):
                t2, t2s, t2e = tokens[j + 1]
                c2, l2, r2 = _strip_punct(t2)
                if (
                    not c2
                    or l2
                    or not _CAP_TOKEN_RE.match(c2)
                    or c2 in _STOP_CAPS
                    or c2.lower() in GAZETTEER
                    or c2.lower() in _NER_BLINDSPOTS
                ):
                    break
                j += 1
                last_end = t2e - r2
                trail = r2
            # absorb a trailing corporate-suffix token, like the gazetteer path
            while trail == 0 and j + 1 < len(tokens):
                stok, sts, ste = tokens[j + 1]
                score, slead, strail = _strip_punct(stok)
                if slead or score.lower() not in _CORP_SUFFIX_TOKENS:
                    break
                send = ste - strail
                if strail and sentence[send] == ".":
                    send += 1
                j += 1
                last_end = send
                trail = 1
            phrase = sentence[cs:last_end]
            mentions.append(Mention(phrase, "ORG", sent_start + cs, sent_start + last_end))
            i = j + 1
            continue

        i += 1
    return mentions


def _advance(tokens: list[tuple[str, int, int]], i: int, end_off: int) -> int:
    """Move token index past a matched span ending at in-sentence ``end_off``."""
    j = i
    while j < len(tokens) and tokens[j][1] < end_off:
        j += 1
    return max(j, i + 1)


# ---------------------------------------------------------------------------
# SVO pattern extraction
# ---------------------------------------------------------------------------

# Lemmatization for the verbs the rule table can ever map. The reference
# looks VERB_TO_RELATIONSHIP up by spaCy token.lemma_
# (relationship_logic.py:190,216), so only base-form keys are reachable.
_VERB_LEMMAS: dict[str, str] = {
    "owns": "own", "owned": "own", "possesses": "possess", "possessed": "possess",
    "controls": "control", "controlled": "control",
    "founded": "found", "founds": "found", "co-founded": "co-found",
    "employs": "employ", "employed": "employ",
    "hires": "hire", "hired": "hire",
    "works": "work", "worked": "work",
    "locates": "locate", "located": "locate",
    "bases": "base", "based": "base",
    "headquarters": "headquarter", "headquartered": "headquarter",
    "acquires": "acquire", "acquired": "acquire",
    "buys": "buy", "bought": "buy",
    "purchases": "purchase", "purchased": "purchase",
    "produces": "produce", "produced": "produce",
    "manufactures": "manufacture", "manufactured": "manufacture",
    "makes": "make", "made": "make",
    "creates": "create", "created": "create",
    "develops": "develop", "developed": "develop",
    "builds": "build", "built": "build",
    "releases": "release", "released": "release",
    "launches": "launch", "launched": "launch",
    "establishes": "establish", "established": "establish",
    "occurs": "occur", "occurred": "occur",
    "happens": "happen", "happened": "happen",
    "collaborates": "collaborate", "collaborated": "collaborate",
    "partners": "partner", "partnered": "partner",
    "competes": "compete", "competed": "compete",
    "rivals": "rival", "rivaled": "rival",
    "raises": "raise", "raised": "raise",
    "names": "name", "named": "name",
    "appoints": "appoint", "appointed": "appoint",
}

_VERB_SURFACE = set(_VERB_LEMMAS) | set(_VERB_LEMMAS.values())

_PREPOSITIONS = {"in", "by", "for", "with", "at", "of", "from", "to", "on", "into", "as"}
_DETERMINERS = {"the", "a", "an", "its", "his", "her", "their", "our"}


def lemmatize_verb(word: str) -> str:
    w = word.lower()
    return _VERB_LEMMAS.get(w, w)


@dataclass
class SvoCandidate:
    subj: str
    verb_lemma: str
    obj: str
    order: int  # emission order within the sentence


def extract_svo(
    sentence: str,
    mentions: list[Mention],
    sent_start: int,
    tokens: list[tuple[str, int, int]] | None = None,
) -> list[SvoCandidate]:
    """Verb-anchored SVO approximation of the reference's dependency walk
    (relationship_logic.py:176-256).

    * anchor verb = first token whose lemma maps through the verb table
      (approximates the single ROOT verb of a simple sentence);
    * subject = nearest mention ending before the verb (approximates
      nsubj/nsubjpass subtree);
    * objects = first mention after the verb (approximates dobj) plus any
      mention directly introduced by a preposition (approximates
      prep->pobj);
    * endpoint texts are expanded leftward over determiners to reproduce
      the reference's full-subtree join ("the iPhone"), which is what
      makes most SVO endpoints fail the validator's exact-name match.
    """
    if tokens is None:
        tokens = _tokenize(sentence)
    verb_idx = None
    verb_lemma = None
    for idx, (tok, ts, te) in enumerate(tokens):
        core, lead, trail = _strip_punct(tok)
        cl = core.lower()
        if cl in _VERB_SURFACE:
            lem = lemmatize_verb(cl)
            if lem in VERB_TO_RELATIONSHIP or lem in {"raise", "name", "appoint"}:
                verb_idx = idx
                verb_lemma = lem
                break
    if verb_idx is None:
        return []

    verb_start = sent_start + tokens[verb_idx][1]
    verb_end = sent_start + tokens[verb_idx][2]

    before = [m for m in mentions if m.end <= verb_start]
    after = [m for m in mentions if m.start >= verb_end]
    if not before or not after:
        return []

    subj = before[-1]  # nearest mention before the verb

    objects: list[Mention] = []
    prev_end = verb_end
    for k, m in enumerate(after):
        between = sentence[prev_end - sent_start : m.start - sent_start].lower()
        between_words = set(re.findall(r"[a-z]+", between))
        if k == 0 and not (between_words & _PREPOSITIONS):
            objects.append(m)  # direct object
        elif between_words & _PREPOSITIONS:
            objects.append(m)  # prepositional object
        prev_end = m.end
        if len(objects) >= MAX_BUCKET_PER_SENTENCE:
            break  # fan-out guard — see rules.MAX_BUCKET_PER_SENTENCE

    out: list[SvoCandidate] = []
    subj_text = _expand_determiners(sentence, subj, sent_start)
    for order, obj in enumerate(objects):
        obj_text = _expand_determiners(sentence, obj, sent_start)
        out.append(SvoCandidate(subj_text, verb_lemma, obj_text, order))
    return out


def _expand_determiners(sentence: str, m: Mention, sent_start: int) -> str:
    """Prefix the mention with an immediately preceding determiner, the way
    a dependency subtree join includes 'the' in 'the iPhone'."""
    local_start = m.start - sent_start
    prefix = sentence[:local_start]
    words = prefix.rstrip().split(" ")
    if words and words[-1].lower() in _DETERMINERS and prefix.endswith(" "):
        det = words[-1]
        return f"{det} {m.text}"
    return m.text


# ---------------------------------------------------------------------------
# Sentence-local rule candidates (R1-R5 + scored SVO)
#
# The reference applies these rules per sentence over in-memory entity
# lists (relationship_logic.py:258-330) — the logic is sentence-LOCAL, so
# at scale the cheapest place to run it is inside the same Arrow kernel
# pass that already holds each sentence's mentions: zero extra shuffles,
# embarrassingly parallel. The relational formulation
# (operators/relationships.candidate_relationships — per-sentence
# self-joins) remains the documented §2 operator surface; a parity test
# pins both paths to identical output, and everything global (D1 dedup,
# V2 validation, R9 metadata) stays relational downstream of either.
# ---------------------------------------------------------------------------

_HQ_PHRASES = ["headquartered", "headquarters in", "headquartered in"]
_BASED_PHRASES = ["based in", "located in"]
_RELEASED_PHRASES = ["released", "launched"]
_PRODUCED_PHRASES = ["produced", "manufactures"]
_DEVELOPED_PHRASES = ["developed", "created"]
_LIST_PHRASES = ["such as", "including", "like"]
_COMPETE_PHRASES = ["competes with", "competitors like", "rivals like", "competing with"]
_STRONG_INDICATORS_LOWER = [s.lower() for s in STRONG_INDICATORS]
_HIGH_CONF_VERBS = frozenset(HIGH_CONFIDENCE_VERBS)


@dataclass
class RuleCandidate:
    source: str
    target: str
    rtype: str
    reason: str
    confidence: float
    verb: str | None
    strat_group: int
    rule_pri: int
    ord_a: int
    ord_b: int
    attach_metadata: bool


def _svo_confidence(subj: str, obj: str, verb: str, sl: str) -> float:
    """R7 (reference relationship_logic.py:106-147): base 0.5, +0.3 for a
    high-confidence verb, +0.3 if any strong indicator occurs, ±distance
    term from first-occurrence positions, clamped to [0, 1]."""
    conf = 0.5
    if verb.lower() in _HIGH_CONF_VERBS:
        conf += 0.3
    if any(ind in sl for ind in _STRONG_INDICATORS_LOWER):
        conf += 0.3
    p1 = sl.find(subj.lower())
    p2 = sl.find(obj.lower())
    if p1 >= 0 and p2 >= 0:
        dist = abs(p1 - p2)
        if dist < 30:
            conf += 0.2
        elif dist > 100:
            conf -= 0.1
    return min(1.0, max(0.0, conf))


def extract_rule_candidates(
    sentence: str, mentions: list[Mention], svos: list[SvoCandidate]
) -> list[RuleCandidate]:
    """All rule candidates of one sentence, thresholded at 0.6.

    Bucket ranks (ord_a/ord_b) are 1-based positions within the sentence's
    per-type entity lists in document order — identical to the relational
    path's row_number window over start_char."""
    sl = sentence.lower()
    out: list[RuleCandidate] = []

    persons: list[Mention] = []
    orgs: list[Mention] = []
    gpes: list[Mention] = []
    products: list[Mention] = []
    for m in mentions:
        ctype = correct_entity_type(m.text, m.label)
        if ctype == "PERSON":
            persons.append(m)
        elif ctype == "ORG":
            orgs.append(m)
        elif ctype == "GPE":
            gpes.append(m)
        elif ctype == "PRODUCT":
            products.append(m)
    # fan-out guard (rules.MAX_BUCKET_PER_SENTENCE): keep the FIRST N of
    # each bucket (document order), bounding every pair loop below
    persons = persons[:MAX_BUCKET_PER_SENTENCE]
    orgs = orgs[:MAX_BUCKET_PER_SENTENCE]
    gpes = gpes[:MAX_BUCKET_PER_SENTENCE]
    products = products[:MAX_BUCKET_PER_SENTENCE]

    find_cache: dict[str, int] = {}

    def fpos(text: str) -> int:
        key = text.lower()
        p = find_cache.get(key)
        if p is None:
            p = sl.find(key)
            find_cache[key] = p
        return p

    # R1 — role-based detection (relationship_logic.py:149-174): first
    # indicator in dict-then-list order that is present AND within 80
    # chars of both entity first-occurrence positions.
    if persons and orgs:
        ind_pos = [(rel, sl.find(ind)) for rel, ind in ROLE_INDICATOR_PAIRS]
        for pi, p in enumerate(persons, 1):
            pp = fpos(p.text)
            for oi, o in enumerate(orgs, 1):
                op = fpos(o.text)
                for rel_type, ip in ind_pos:
                    if ip < 0:
                        continue
                    if pp >= 0 and op >= 0 and max(abs(ip - pp), abs(ip - op)) < ROLE_INDICATOR_MAX_DISTANCE:
                        out.append(RuleCandidate(
                            p.text, o.text, rel_type,
                            f"Role-based detection: {p.text} → {rel_type} → {o.text}",
                            0.95, None, 0, 1, pi, oi, True,
                        ))
                        break

    # R2 — location detection (relationship_logic.py:329-355).
    if orgs and gpes:
        f_hq = any(ph in sl for ph in _HQ_PHRASES)
        f_based = any(ph in sl for ph in _BASED_PHRASES)
        rtype = "HEADQUARTERED_IN" if f_hq else "LOCATED_IN"
        conf = 0.95 if f_hq else (0.85 if f_based else 0.65)
        for oi, o in enumerate(orgs, 1):
            for gi, g in enumerate(gpes, 1):
                out.append(RuleCandidate(
                    o.text, g.text, rtype,
                    f"Location detection: {o.text} → {rtype} → {g.text}",
                    conf, None, 0, 2, oi, gi, False,
                ))

    # R3/R4 — production detection + list-pattern PRODUCES
    # (relationship_logic.py:360-408).
    if orgs and products:
        f_released = any(ph in sl for ph in _RELEASED_PHRASES)
        f_produced = any(ph in sl for ph in _PRODUCED_PHRASES)
        f_developed = any(ph in sl for ph in _DEVELOPED_PHRASES)
        f_list = any(ph in sl for ph in _LIST_PHRASES)
        if f_released:
            rtype, conf = "RELEASED", 0.9
        elif f_produced:
            rtype, conf = "PRODUCES", 0.9
        elif f_developed:
            rtype, conf = "DEVELOPS", 0.85
        else:
            rtype, conf = "PRODUCES", 0.65
        for oi, o in enumerate(orgs, 1):
            for pri_, pr in enumerate(products, 1):
                out.append(RuleCandidate(
                    o.text, pr.text, rtype,
                    f"Production detection: {o.text} → {rtype} → {pr.text}",
                    conf, None, 0, 3, oi, pri_, True,
                ))
                if f_list:
                    out.append(RuleCandidate(
                        o.text, pr.text, "PRODUCES",
                        f"List-based production: {o.text} → PRODUCES → {pr.text}",
                        0.85, None, 0, 4, oi, pri_, True,
                    ))

    # R5 — competition lists (relationship_logic.py:410-426): the first
    # org competes with each later org; directional.
    if len(orgs) >= 2 and any(ph in sl for ph in _COMPETE_PHRASES):
        primary = orgs[0]
        for oi, other in enumerate(orgs[1:], 2):
            out.append(RuleCandidate(
                primary.text, other.text, "COMPETES_WITH",
                f"Competition detection: {primary.text} ← → COMPETES_WITH → {other.text}",
                0.85, None, 0, 5, oi, 0, False,
            ))

    # R6/R7/R8 — SVO candidates through the verb map, confidence-scored.
    for s in svos:
        rtype = VERB_TO_RELATIONSHIP.get(s.verb_lemma)
        if rtype is None:
            continue
        conf = _svo_confidence(s.subj, s.obj, s.verb_lemma, sl)
        if conf < MIN_CONFIDENCE_THRESHOLD:
            continue
        out.append(RuleCandidate(
            s.subj, s.obj, rtype,
            f"SVO pattern: '{s.subj}' {s.verb_lemma} '{s.obj}'",
            conf, s.verb_lemma, 1, 6, s.order, 0, True,
        ))

    return [c for c in out if c.confidence >= MIN_CONFIDENCE_THRESHOLD]


# ---------------------------------------------------------------------------
# Document-local graph construction (E1-E4/P6, D1, V2, R9, EV1-EV6/D2)
#
# In the reference, the ENTIRE extraction pipeline is per-document — only
# the Neo4j MERGE (global node/edge dedup) crosses documents. The Spark
# translation of that fact: run all document-local logic inside the one
# Arrow kernel pass (zero additional shuffles at 10^12-turn scale; the
# only shuffle is the conv_id clustering before the kernel), and keep the
# genuinely GLOBAL operators — node/edge MERGE dedup, canonicalization,
# session analytics — as DataFrame operators over the kernel's output.
# The relational formulations of the per-document operators remain in
# operators/ as the documented §2 surface; parity tests pin both paths to
# identical rows.
# ---------------------------------------------------------------------------

_WHITELIST_TYPES = frozenset(SPACY_TO_NORMALIZED)
_STRUCTURAL_SET = frozenset(STRUCTURAL_TYPES)
_SEMANTIC_RULE_SET = frozenset(SEMANTIC_RULES)
_EVENT_PARTICIPANT_SET = frozenset(EVENT_PARTICIPANT_TYPES)


@dataclass
class DocEntity:
    text: str
    etype: str
    start: int
    end: int
    context: str
    source_sentence: str
    sent_idx: int
    is_forced: bool


@dataclass
class DocTriple:
    source: str
    target: str
    rtype: str
    reason: str
    confidence: float
    verb: str | None
    sentence: str
    sent_idx: int
    date: str | None
    amount: str | None


@dataclass
class DocEvent:
    event_type: str
    name: str
    participants: list[str]
    date: str | None
    location: str | None
    amount: str | None
    context: str
    sent_idx: int
    confidence: float


@dataclass
class DocumentGraph:
    entities: list[DocEntity]
    triples: list[DocTriple]
    events: list[DocEvent]


@dataclass
class DocumentAnalysis:
    """Everything one parse yields: raw artifacts (sentences, mentions,
    SVOs, rule candidates) plus the finished per-document graph."""

    sentences: list[tuple[str, int]]
    mentions: list[tuple[int, "Mention"]]
    svos: list[tuple[int, "SvoCandidate"]]
    candidates: list[tuple[int, "RuleCandidate"]]
    graph: DocumentGraph


def analyze_document(text: str, max_length: int = 2_000_000) -> DocumentAnalysis:
    """One document -> its parse artifacts and final (entities, validated
    triples, events): the per-document slice of the whole reference
    pipeline (main.py:75-80) and the Arrow kernel's single entry point."""
    cleaned = clean_text(text)[:max_length]
    sentences = split_sentences(cleaned)

    # --- parse + per-sentence rule candidates (single pass) -------------
    all_mentions: list[tuple[int, Mention]] = []
    all_svos: list[tuple[int, SvoCandidate]] = []
    candidates: list[tuple[int, RuleCandidate]] = []
    for sent_idx, (sent, start) in enumerate(sentences):
        toks = _tokenize(sent)
        sm = detect_mentions(sent, start, toks)
        all_mentions.extend((sent_idx, m) for m in sm)
        svos = extract_svo(sent, sm, start, toks)
        all_svos.extend((sent_idx, s) for s in svos)
        candidates.extend((sent_idx, c) for c in extract_rule_candidates(sent, sm, svos))

    sent_text = {i: s for i, (s, _st) in enumerate(sentences)}

    # --- entity stage: E1 -> P3 -> P2 -> E2 -> P6 -> E4 -----------------
    entities: list[DocEntity] = []
    seen_keys: set[tuple[str, str]] = set()
    prewhitelist_names: set[str] = set()
    for sent_idx, m in all_mentions:
        if m.label not in _STRUCTURAL_SET:
            continue
        ctype = correct_entity_type(m.text, m.label)
        norm = normalize_entity_name(m.text, ctype)
        prewhitelist_names.add(norm.lower())
        key = (norm.lower(), ctype)
        if key in seen_keys:
            continue
        seen_keys.add(key)
        if ctype not in _WHITELIST_TYPES:
            continue
        s = sent_text[sent_idx]
        entities.append(DocEntity(norm, ctype, m.start, m.end, s[:200], s, sent_idx, False))

    # P6 — force-detect products (reference nlp_engine.py:197-214).
    doc_lower = cleaned.lower()
    for product in FORCE_DETECT_PRODUCTS:
        pos = doc_lower.find(product)
        if pos < 0 or product in prewhitelist_names:
            continue
        entities.append(DocEntity(
            product.capitalize(), "PRODUCT", pos, pos + len(product),
            f"Force-detected product: {product}", "", -1, True,
        ))

    # --- R9 metadata side channel (first date/money per sentence STRING) -
    first_date: dict[str, str] = {}
    first_money: dict[str, str] = {}
    for sent_idx, m in all_mentions:
        if m.label == "DATE":
            first_date.setdefault(sent_text[sent_idx], m.text)
        elif m.label == "MONEY":
            first_money.setdefault(sent_text[sent_idx], m.text)

    # --- D1 strategy-order dedup --------------------------------------
    ordered = sorted(
        ((si, c) for si, c in candidates),
        key=lambda t: (t[1].strat_group, t[0], t[1].rule_pri, t[1].ord_a, t[1].ord_b),
    )
    survivors: dict[tuple[str, str, str], tuple[int, RuleCandidate]] = {}
    for si, c in ordered:
        survivors.setdefault((c.source.lower(), c.target.lower(), c.rtype), (si, c))

    # --- V2 validation (exact, case-sensitive first-entity resolution) --
    # entity list order = document order with forced entities appended
    # last (semantic_validator.py:84-85 next() semantics).
    first_entity_norm: dict[str, str] = {}
    for e in entities:
        if e.text not in first_entity_norm:
            first_entity_norm[e.text] = SPACY_TO_NORMALIZED[e.etype]

    triples: list[DocTriple] = []
    for (_, _, _), (si, c) in survivors.items():
        src_norm = first_entity_norm.get(c.source)
        dst_norm = first_entity_norm.get(c.target)
        if src_norm is None or dst_norm is None:
            continue
        if (c.rtype, src_norm, dst_norm) not in _SEMANTIC_RULE_SET:
            continue
        s = sent_text[si]
        date = first_date.get(s) if c.attach_metadata else None
        amount = first_money.get(s) if c.attach_metadata else None
        triples.append(DocTriple(
            c.source, c.target, c.rtype, c.reason, c.confidence, c.verb, s, si, date, amount,
        ))

    # --- events: EV1-EV6 + D2 ------------------------------------------
    # Align FINAL entities by sentence-string equality (EV2); distinct
    # sentence strings processed in first-occurrence order.
    ents_by_sentence: dict[str, list[DocEntity]] = {}
    for e in entities:
        if e.source_sentence:
            ents_by_sentence.setdefault(e.source_sentence, []).append(e)
    sentence_first_idx: dict[str, int] = {}
    for i, (s, _st) in enumerate(sentences):
        sentence_first_idx.setdefault(s, i)

    events: list[DocEvent] = []
    seen_events: set[tuple[str, tuple[str, ...]]] = set()
    for s in sorted(ents_by_sentence, key=lambda x: sentence_first_idx.get(x, 1 << 30)):
        aligned = sorted(ents_by_sentence[s], key=lambda e: (e.start, e.text, e.etype))
        sl = s.lower()
        event_type = None
        conf = 0.3
        for fam, pattern in EVENT_PATTERNS:
            hit = next((t for t in pattern["triggers"] if t in sl), None)
            if hit is not None:
                event_type = fam
                conf = event_trigger_confidence(hit)
                break
        if event_type is None:
            continue  # OTHER: 0.3 < 0.5, always skipped (EV3)
        fam_required = dict(EVENT_PATTERNS)[event_type]["required_entities"]
        etypes = {e.etype for e in aligned}
        if not any(r in etypes for r in fam_required):
            continue
        participants = [e.text for e in aligned if e.etype in _EVENT_PARTICIPANT_SET]
        if not participants:
            continue
        dkey = (event_type, tuple(sorted(participants)))
        if dkey in seen_events:
            continue
        seen_events.add(dkey)
        location = next((e.text for e in aligned if e.etype == "GPE"), None)
        events.append(DocEvent(
            event_type, _event_name(event_type, participants), participants,
            first_date.get(s), location, first_money.get(s), s,
            sentence_first_idx.get(s, 0), conf,
        ))

    return DocumentAnalysis(
        sentences, all_mentions, all_svos, candidates, DocumentGraph(entities, triples, events)
    )


def _is_launch_org(p: str) -> bool:
    """ProductLaunch org-vs-product heuristic (event_extraction.py:177):
    contains 'Inc'/'Corp' or is a single word."""
    return "Inc" in p or "Corp" in p or len(p.split(" ")) == 1


def _event_name(event_type: str, participants: list[str]) -> str:
    """EV5 naming templates (event_extraction.py:163-198)."""
    p0 = participants[0]
    if event_type == "Acquisition":
        return f"{p0} acquires {participants[1]}" if len(participants) >= 2 else f"{p0} acquisition"
    if event_type == "ProductLaunch":
        orgs = [p for p in participants if _is_launch_org(p)]
        prods = [p for p in participants if not _is_launch_org(p)]
        if orgs and prods:
            return f"{orgs[0]} launches {prods[0]}"
        if prods:
            return f"{prods[0]} launch"
        return f"{p0} product launch"
    if event_type == "LeadershipChange":
        return f"{p0} joins {participants[1]}" if len(participants) >= 2 else f"{p0} leadership change"
    if event_type == "Conference":
        return p0
    if event_type == "FundingRound":
        return f"{p0} funding round"
    return " - ".join(participants[:2])

