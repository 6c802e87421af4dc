"""Property-based tests (hypothesis) for the deterministic text kernel:
arbitrary input must never crash the parse, outputs must be reproducible,
offsets must index back into the cleaned text, and the per-document graph
must uphold its structural invariants (validated endpoints resolve,
confidences within bounds, dedup keys unique)."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from knowledge_graph_builder_spark import textkit

# text with realistic structure: words, entities, punctuation, unicode noise
_WORD = st.sampled_from(
    ["Apple", "Microsoft", "Tim", "Cook", "founded", "released", "the", "iPhone",
     "in", "2007", "for", "$599", "10%", "first", "CEO", "of", "acquired",
     "Beats", "such", "as", "competes", "with", "headquartered", "Cupertino",
     "café", "naïve", "…", "—", "(", ")", '"', "Inc.", "Corp", "U.S.", "und"]
)
_TEXT = st.lists(_WORD, min_size=0, max_size=60).map(" ".join)
_NOISY = st.text(max_size=200)


@settings(max_examples=200, deadline=None)
@given(_TEXT | _NOISY)
def test_parse_never_crashes_and_is_deterministic(text):
    a = textkit.analyze_document(text)
    b = textkit.analyze_document(text)
    assert [(i, m.text, m.label, m.start, m.end) for i, m in a.mentions] == [
        (i, m.text, m.label, m.start, m.end) for i, m in b.mentions
    ]
    assert len(a.sentences) == len(b.sentences)


@settings(max_examples=200, deadline=None)
@given(_TEXT | _NOISY)
def test_clean_text_idempotent(text):
    once = textkit.clean_text(text)
    assert textkit.clean_text(once) == once


@settings(max_examples=200, deadline=None)
@given(_TEXT)
def test_mention_offsets_index_cleaned_text(text):
    cleaned = textkit.clean_text(text)[:2_000_000]
    an = textkit.analyze_document(text)
    for _i, m in an.mentions:
        assert 0 <= m.start < m.end <= len(cleaned)
        assert cleaned[m.start : m.end] == m.text


@settings(max_examples=150, deadline=None)
@given(_TEXT)
def test_document_graph_invariants(text):
    g = textkit.analyze_document(text).graph
    names = {e.text for e in g.entities}
    keys = [(e.text.lower(), e.etype) for e in g.entities]
    assert len(keys) == len(set(keys)), "E2/P6 dedup violated"
    for t in g.triples:
        assert t.source in names and t.target in names, "V2 resolution violated"
        assert 0.6 <= t.confidence <= 1.0
    tkeys = [(t.source.lower(), t.target.lower(), t.rtype) for t in g.triples]
    assert len(tkeys) == len(set(tkeys)), "D1 dedup violated"
    for ev in g.events:
        assert ev.participants, "EV3 gating violated"
        assert 0.5 <= ev.confidence <= 0.9
