"""Unit tests for the deterministic text kernel (P1, P4, P5-ish, SVO)."""

from knowledge_graph_builder_spark import textkit as tk


def test_clean_text_collapses_whitespace():
    assert tk.clean_text("  a\n\nb\t c  ") == "a b c"  # nlp_engine.py:22-27 semantics


def test_sentence_split_respects_abbreviations():
    sents = [s for s, _ in tk.split_sentences("Apple Inc. released the iPhone in 2007 for $599. The product sold well.")]
    assert sents == [
        "Apple Inc. released the iPhone in 2007 for $599.",
        "The product sold well.",
    ]


def test_sentence_offsets_are_document_level():
    text = "First one. Second one here."
    sents = tk.split_sentences(text)
    for s, start in sents:
        assert text[start : start + len(s)] == s


def test_gazetteer_and_suffix_absorption():
    an = tk.analyze_document("Apple Inc. is headquartered in Cupertino.")
    labels = {(m.text, m.label) for _, m in an.mentions}
    assert ("Apple Inc.", "ORG") in labels
    assert ("Cupertino", "GPE") in labels


def test_deliberate_gpe_mislabels_for_type_correction():
    an = tk.analyze_document("Amazon competes with companies like Microsoft, Google, and Alibaba.")
    by_text = {m.text: m.label for _, m in an.mentions}
    assert by_text["Amazon"] == "GPE"  # corrected to ORG downstream (P3)
    assert by_text["Alibaba"] == "GPE"
    assert by_text["Microsoft"] == "ORG"


def test_ner_blindspots_for_force_detect():
    an = tk.analyze_document("Amazon produces devices such as Kindle, Echo, and Fire TV.")
    texts = {m.text for _, m in an.mentions}
    assert "Echo" not in texts  # force-detect operator's job (nlp_engine.py:197-214)
    assert "Kindle" in texts and "Fire TV" in texts


def test_metadata_classes():
    an = tk.analyze_document("Microsoft raised $1 billion in Series B funding last year.")
    by_label = {m.label: m.text for _, m in an.mentions}
    assert by_label["MONEY"] == "$1 billion"
    assert by_label["DATE"] == "last year"


def test_svo_includes_determiner_in_object():
    an = tk.analyze_document("In 2007, Apple released the iPhone for $599.")
    svos = [(s.subj, s.verb_lemma, s.obj) for _, s in an.svos]
    assert ("Apple", "release", "the iPhone") in svos  # subtree-join quirk


def test_svo_passive_by_object():
    an = tk.analyze_document("Apple was founded in 1976 by Steve Jobs.")
    svos = [(s.subj, s.verb_lemma, s.obj) for _, s in an.svos]
    assert ("Apple", "found", "Steve Jobs") in svos


def test_svo_unmapped_verb_still_anchors():
    # 'named' lemmatizes to 'name' (unmapped) -> downstream drops it; the
    # kernel must not fall through to a later verb.
    an = tk.analyze_document("Tim Cook was named CEO of Apple in 2011.")
    assert all(s.verb_lemma == "name" for _, s in an.svos)


def test_parse_is_deterministic():
    text = "Apple acquired Beats for $3 billion in 2014. Google launched Android in 2008."
    a = tk.analyze_document(text)
    b = tk.analyze_document(text)
    assert [(i, m.text, m.label, m.start) for i, m in a.mentions] == [
        (i, m.text, m.label, m.start) for i, m in b.mentions
    ]
    assert [(i, s.subj, s.verb_lemma, s.obj) for i, s in a.svos] == [
        (i, s.subj, s.verb_lemma, s.obj) for i, s in b.svos
    ]


def test_metadata_regex_trailing_boundaries():
    """A longer word extending a metadata pattern must not be truncated
    into a mention that swallows the rest of the token (review findings:
    'March 12345', 'Last yearly', '99 percentile', '$5 thousandths')."""
    def labels(s):
        return [(m.text, m.label) for m in tk.detect_mentions(s, 0)]

    assert ("March", "DATE") in labels("March 12345 units were sold.")
    assert ("12345", "CARDINAL") in labels("March 12345 units were sold.")
    assert all(l != "DATE" for _, l in labels("Last yearly revenue grew at Apple."))
    assert all(l != "PERCENT" for _, l in labels("He scored in the 99 percentile at Apple."))
    money = [t for t, l in labels("It cost $5 thousandths of the budget.") if l == "MONEY"]
    assert money == ["$5"]
    # positives unchanged
    full = labels("Apple raised $3 billion on March 12, 2014 and grew 5 percent last year.")
    assert ("$3 billion", "MONEY") in full
    assert ("March 12, 2014", "DATE") in full
    assert ("5 percent", "PERCENT") in full
    assert ("last year", "DATE") in full
