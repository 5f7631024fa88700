"""Char-offset tracking: the term-vector ``offsets`` flag
(`TermVectorQuery.java:60-76`, golden span shape
`TermVectorTokensTest.java:16-55`) and the OpenNLP ``tokenizePos``
interface parity (`ATokenizer.java:55-71`, golden
`TabTokenizerTest.java`)."""

import pytest
from pyspark.sql import functions as F

from elasticsearch_nlp_classifier_spark.analyzer.chain import (
    ANALYZERS,
    Analyzer,
    get_analyzer,
)
from elasticsearch_nlp_classifier_spark.index.build import (
    build_logical_index,
    term_vectors,
)
from elasticsearch_nlp_classifier_spark.query.highlight import (
    highlight_from_offsets,
)

TEXTS = [
    "def tokenize(text): return text.split()",
    "The spark engine builds fast indexes!!",
    "#hashtag @handle https://x.co/page plain words",
    "Pen\tPineapple\tApple\tPen",
    "",
    "MiXeD CaSe Identifiers_42 and numbers 123 456",
]


@pytest.mark.parametrize("name", sorted(ANALYZERS))
def test_offsets_token_sequence_matches_tokenize(name):
    an = get_analyzer(name)
    for text in TEXTS:
        toks = an.tokenize(text)
        triples = an.tokenize_with_offsets(text)
        assert [t for t, _, _ in triples] == toks, (name, text)


@pytest.mark.parametrize("name", sorted(ANALYZERS))
def test_offsets_spans_are_sane(name):
    an = get_analyzer(name)
    for text in TEXTS:
        for t, s, e in an.tokenize_with_offsets(text):
            assert 0 <= s <= e <= len(text), (name, text, t, s, e)


def test_split_stage_spans_slice_original_text():
    # split-only chains (no lowercase/stop/stem): the span IS the token
    for split in ("simple", "code", "tab", "twitter"):
        an = Analyzer(split=split, use_lowercase=False,
                      use_stopwords=False, use_stemming=False)
        for text in TEXTS:
            for t, s, e in an.tokenize_with_offsets(text):
                assert text[s:e] == t, (split, text)
    # simple_code lowers: the span is the token up to case
    an = get_analyzer("simple_code")
    for text in TEXTS:
        for t, s, e in an.tokenize_with_offsets(text):
            assert text[s:e].lower() == t


def test_stemmed_token_keeps_surface_span():
    an = Analyzer(split="simple")  # lowercase+stopwords+stem
    text = "Earthquakes shaking buildings"
    triples = an.tokenize_with_offsets(text)
    assert triples[0][0] == "earthquak"           # stemmed token
    s, e = triples[0][1], triples[0][2]
    assert text[s:e] == "Earthquakes"             # original surface span


def test_clean_twitter_hash_strip_advances_start():
    an = Analyzer(split="twitter", use_clean_twitter=True,
                  use_stopwords=False, use_stemming=False)
    text = "#Fire at @place http://x.co now"
    triples = an.tokenize_with_offsets(text)
    toks = [t for t, _, _ in triples]
    assert toks == an.tokenize(text)
    t0, s0, e0 = triples[0]
    assert t0 == "fire" and text[s0:e0] == "Fire"  # '#' stripped, span +1


def test_shingle_and_edge_ngram_offsets():
    an = get_analyzer("simple_code_shingle2")
    text = "alpha beta gamma"
    triples = an.tokenize_with_offsets(text)
    assert [t for t, _, _ in triples] == ["alpha beta", "beta gamma"]
    assert triples[0][1:] == (0, 10)   # first constituent start..last end
    assert triples[1][1:] == (6, 16)

    an = get_analyzer("simple_code_edge")
    triples = an.tokenize_with_offsets("beta")
    # every gram keeps the SOURCE token's span (Lucene EdgeNGramFilter)
    assert all((s, e) == (0, 4) for _, s, e in triples)
    assert [t for t, _, _ in triples] == ["b", "be", "bet", "beta"]


def test_tokenize_pos_tab_golden():
    """`TabTokenizerTest.java` tokenizePos golden."""
    an = get_analyzer("tab")
    spans = an.tokenize_pos("Pen\tPineapple\tApple\tPen")
    assert spans == [(0, 3), (4, 13), (14, 19), (20, 23)]


def test_tokenize_pos_degenerate_span_on_transformed_token():
    """ATokenizer.tokenizePos searches the FINAL token verbatim and
    emits the degenerate (pos+1, pos+1) span on a miss — reference
    parity, quirks included (`ATokenizer.java:55-71`)."""
    an = Analyzer(split="simple", use_stopwords=False, use_stemming=False)
    spans = an.tokenize_pos("Spark rocks")
    # "spark" (lowered) is not found verbatim in "Spark rocks"
    assert spans[0] == (1, 1)
    assert spans[1] == (6, 11)  # "rocks" found verbatim


def test_term_vectors_offsets_roundtrip(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "beta gamma")],
        "doc_id bigint, text string",
    )
    idx = build_logical_index(docs, text_col="text",
                              analyzer="simple_code", with_offsets=True)
    tv = {r["doc_id"]: r["terms"]
          for r in term_vectors(idx).collect()}
    alpha = next(t for t in tv[1] if t["term"] == "alpha")
    assert alpha["tf"] == 2
    assert list(alpha["positions"]) == [0, 2]
    assert list(alpha["start_offsets"]) == [0, 11]
    assert list(alpha["end_offsets"]) == [5, 16]
    beta2 = next(t for t in tv[2] if t["term"] == "beta")
    assert (list(beta2["start_offsets"]),
            list(beta2["end_offsets"])) == ([0], [4])


@pytest.mark.parametrize("ts", [False, True])
@pytest.mark.parametrize("pos", [False, True])
@pytest.mark.parametrize("off", [False, True])
@pytest.mark.parametrize("pay", [False, True])
def test_term_vector_flag_combinations(spark, ts, pos, off, pay):
    """All 2⁴ flag combinations of the term-vector request — the
    reference's own test matrix (`TermVectorQueryTest.java:70-95`).
    ``payloads`` is observably inert (no payloads indexed — ES omits
    the field then too)."""
    docs = spark.createDataFrame(
        [(1, "alpha beta alpha")], "doc_id bigint, text string"
    )
    idx = build_logical_index(docs, text_col="text",
                              analyzer="simple_code", with_offsets=True)
    tv = term_vectors(idx, term_statistics=ts, positions=pos,
                      offsets=off, payloads=pay)
    row = tv.collect()[0]["terms"]
    got_fields = set(row[0].asDict())
    want = {"term", "tf"}
    if ts:
        want |= {"df", "ttf"}
    if pos:
        want |= {"positions"}
    if off:
        want |= {"start_offsets", "end_offsets"}
    assert got_fields == want
    alpha = next(t for t in row if t["term"] == "alpha")
    assert alpha["tf"] == 2
    if ts:
        assert alpha["df"] == 1 and alpha["ttf"] == 2
    if pos:
        assert list(alpha["positions"]) == [0, 2]
    if off:
        assert list(alpha["start_offsets"]) == [0, 11]


def test_term_vector_flags_raise_without_payload(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta")], "doc_id bigint, text string"
    )
    idx = build_logical_index(docs, text_col="text",
                              analyzer="simple_code")  # no payloads
    with pytest.raises(ValueError, match="positions=True"):
        term_vectors(idx, positions=True)
    with pytest.raises(ValueError, match="offsets=True"):
        term_vectors(idx, offsets=True)


def test_physical_offsets_payload_roundtrip(spark, tmp_path):
    """off_vb/len_vb in the compressed block layout: full decode of a
    with_offsets physical index reproduces the logical postings'
    per-occurrence (position, start, end) exactly (the integrity bar
    every other payload meets)."""
    import pandas as pd

    from elasticsearch_nlp_classifier_spark.index.blocks import (
        build_physical_index,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta alpha gamma{i % 3} beta alpha") for i in
         range(40)],
        "doc_id bigint, text string",
    )
    idx = build_physical_index(
        docs, str(tmp_path / "offidx"), text_col="text",
        analyzer="simple_code", block_size=4, with_offsets=True,
    )
    assert idx.has_offsets and idx.has_positions
    dec = idx.logical_postings().toPandas()
    logical = build_logical_index(
        docs, text_col="text", analyzer="simple_code",
        with_offsets=True,
    ).postings.toPandas()

    def canon(pdf):
        pdf = pdf.copy()
        for c in ("positions", "start_offsets", "end_offsets"):
            pdf[c] = pdf[c].map(lambda a: tuple(int(x) for x in a))
        return pdf.sort_values(["doc_id", "term"]).reset_index(drop=True)

    d, w = canon(dec), canon(logical)
    pd.testing.assert_frame_equal(
        d[["doc_id", "term", "tf", "positions", "start_offsets",
           "end_offsets"]],
        w[["doc_id", "term", "tf", "positions", "start_offsets",
           "end_offsets"]],
        check_dtype=False,
    )
    # manifests account for the two extra payload columns
    import json as _json
    import os as _os

    total = 0
    for mf in _os.listdir(f"{idx.path}/manifests"):
        with open(f"{idx.path}/manifests/{mf}") as f:
            total += _json.load(f)["payload_bytes"]
    assert total > 0


def test_highlight_from_offsets(spark):
    docs = spark.createDataFrame(
        [(1, "Alpha beta ALPHA end"), (2, "nothing to see")],
        "doc_id bigint, text string",
    )
    idx = build_logical_index(docs, text_col="text",
                              analyzer="simple_code", with_offsets=True)
    hits = docs.select("doc_id", "text")
    out = {r["doc_id"]: r["highlight"]
           for r in highlight_from_offsets(
               idx, hits, "alpha", text_col="text",
               analyzer="simple_code").collect()}
    # stored offsets mark the ORIGINAL surface forms, any case
    assert out[1] == "<em>Alpha</em> beta <em>ALPHA</em> end"
    assert out[2] is None

# --- round 4: batch-vectorized offsets path + ADVICE regressions -----

NASTY = [
    "def _foo(___, x): return x---y!!! ...",
    "err != None or A_B_c9 __init__ --- ### @@@",
    "the and of IS a THE  don should\tnow",
    "multi\nline\ndoc with\n\nnewlines and CRLF\r\n tokens",
    "0 00 123abc abc123 _ _9 9_",
    None,
    "",
    "   ",
    "ALL UPPER and MiXeD with Stopwords LIKE the AND was",
]


@pytest.mark.parametrize("name", ["code", "simple_code"])
def test_batch_offsets_parity_with_per_doc_chain(name):
    """`chain.batch_tokenize_with_offsets` (the one-finditer fast path
    the offsets index build uses) must reproduce the per-doc
    `tokenize_with_offsets` chain EXACTLY — terms, spans, per-doc
    counts."""
    import numpy as np

    from elasticsearch_nlp_classifier_spark.analyzer.chain import (
        batch_tokenize_with_offsets,
    )

    an = get_analyzer(name)
    texts = NASTY + TEXTS
    out = batch_tokenize_with_offsets(an, texts)
    assert out is not None
    doc_idx, terms, starts, ends, n_per_doc = out
    want = [an.tokenize_with_offsets(t) for t in texts]
    assert list(n_per_doc) == [len(w) for w in want]
    got_by_doc = {i: [] for i in range(len(texts))}
    for d, t, s, e in zip(doc_idx, terms, starts, ends):
        got_by_doc[int(d)].append((t, int(s), int(e)))
    for i, w in enumerate(want):
        assert got_by_doc[i] == w, (name, texts[i])
    assert np.all(doc_idx[:-1] <= doc_idx[1:])


def test_batch_offsets_simple_split_parity():
    an = Analyzer(split="simple", use_stemming=False)
    from elasticsearch_nlp_classifier_spark.analyzer.chain import (
        batch_tokenize_with_offsets,
    )

    texts = NASTY + TEXTS
    out = batch_tokenize_with_offsets(an, texts)
    assert out is not None
    doc_idx, terms, starts, ends, _n = out
    flat = [(int(d), t, int(s), int(e))
            for d, t, s, e in zip(doc_idx, terms, starts, ends)]
    want = [(i, t, s, e) for i, txt in enumerate(texts)
            for t, s, e in an.tokenize_with_offsets(txt)]
    assert flat == want


def test_batch_offsets_greek_sigma_parity():
    """Round-5 regression (ADVICE r4): whole-string lower() is
    context-sensitive for 'Σ' ('ς' word-final vs the per-doc chain's
    token-wise 'σ').  simple_code must decline the batch (spans are
    defined on the lowered text); code/simple must still batch but
    lower token-wise — both ending term-identical to the per-doc
    chain."""
    from elasticsearch_nlp_classifier_spark.analyzer.chain import (
        batch_tokenize_with_offsets,
    )

    texts = ["ΑΣ x", "ΟΔΥΣΣΕΥΣ", "plain ascii", "ΑΣ"]
    an_sc = get_analyzer("simple_code")
    assert batch_tokenize_with_offsets(an_sc, texts) is None

    an_code = get_analyzer("code")
    out = batch_tokenize_with_offsets(an_code, texts)
    assert out is not None
    doc_idx, terms, starts, ends, n_per_doc = out
    want = [an_code.tokenize_with_offsets(t) for t in texts]
    got_by_doc = {i: [] for i in range(len(texts))}
    for d, t, s, e in zip(doc_idx, terms, starts, ends):
        got_by_doc[int(d)].append((t, int(s), int(e)))
    for i, w in enumerate(want):
        assert got_by_doc[i] == w, texts[i]


def test_batch_offsets_declines_unvectorizable_chains():
    from elasticsearch_nlp_classifier_spark.analyzer.chain import (
        batch_tokenize_with_offsets,
    )

    for an in (
        get_analyzer("default"),            # twitter split
        get_analyzer("tab"),                # tab split
        Analyzer(split="code", use_stemming=True),
        get_analyzer("simple_code_edge"),   # token_filter
        Analyzer(split="code", use_clean_twitter=True,
                 use_stemming=False),
    ):
        assert batch_tokenize_with_offsets(an, ["a b"]) is None


def test_simple_code_pos_nonascii_lower_parity():
    """ADVICE r3: U+212A KELVIN SIGN lowers to ASCII 'k'; 'İ' lowers to
    two chars.  The offsets path must still emit the SAME token
    sequence as `simple_code_split` (the documented invariant) with
    spans indexing the original text."""
    from elasticsearch_nlp_classifier_spark.analyzer.chain import (
        simple_code_split,
        simple_code_split_pos,
    )

    for text in (
        "tem 30K reading",       # KELVIN SIGN: lowers to ascii 'k'
        "İstanbul code",          # 'İ' -> 'i' + combining dot
        "mixed Kİ 2x",
        "plain ascii Control",
    ):
        triples = simple_code_split_pos(text)
        assert [t for t, _, _ in triples] == simple_code_split(text), text
        for t, s, e in triples:
            assert 0 <= s < e <= len(text), (text, t, s, e)


def test_encode_blocks_offsets_require_positions(spark):
    """ADVICE r3: postings with offsets but no positions used to die
    with an Arrow schema mismatch deep in the encoder — now a clear
    up-front error."""
    from elasticsearch_nlp_classifier_spark.index.blocks import (
        encode_blocks,
    )

    postings = spark.createDataFrame(
        [(1, "alpha", 1, 1, [0], [5])],
        "doc_id bigint, term string, tf bigint, dl bigint, "
        "start_offsets array<bigint>, end_offsets array<bigint>",
    )
    with pytest.raises(ValueError, match="offsets"):
        encode_blocks(postings, avgdl=1.0, doc_count=1)


def test_highlight_merges_overlapping_and_duplicate_spans(spark):
    """ADVICE r3 (medium): edge_ngram grams carry the SAME source span
    and shingles carry OVERLAPPING spans — each matched region must be
    wrapped exactly once."""
    docs = spark.createDataFrame(
        [(1, "beta gamma delta end"), (2, "beta solo")],
        "doc_id bigint, text string",
    )
    # duplicate spans: every edge-gram of 'beta' spans (0, 4)
    idx = build_logical_index(docs, text_col="text",
                              analyzer="simple_code_edge",
                              with_offsets=True)
    out = {r["doc_id"]: r["highlight"]
           for r in highlight_from_offsets(
               idx, docs, "beta", text_col="text",
               analyzer="simple_code_edge").collect()}
    assert out[1] == "<em>beta</em> gamma delta end"
    assert out[2] == "<em>beta</em> solo"

    # overlapping spans: shingle2 query terms 'beta gamma'(0,10) and
    # 'gamma delta'(5,15) merge into one wrapped region
    idx2 = build_logical_index(docs, text_col="text",
                               analyzer="simple_code_shingle2",
                               with_offsets=True)
    out2 = {r["doc_id"]: r["highlight"]
            for r in highlight_from_offsets(
                idx2, docs, "beta gamma delta", text_col="text",
                analyzer="simple_code_shingle2").collect()}
    assert out2[1] == "<em>beta gamma delta</em> end"


def oracle_postings(rows, analyzer, with_positions=False,
                    with_offsets=False):
    """Sorted postings rows ``(doc_id, term, tf, dl[, positions]
    [, start_offsets, end_offsets])`` of ``(doc_id, text)`` rows, built
    one document at a time from `Analyzer.tokenize` /
    `Analyzer.tokenize_with_offsets` and a per-doc `Counter` — the
    reference every postings plan of `build_logical_index` is held to."""
    from collections import Counter

    an = get_analyzer(analyzer)
    out = []
    for doc_id, text in rows:
        if text is None:
            continue
        occ = an.tokenize_with_offsets(text)
        toks = an.tokenize(text)
        for term, tf in Counter(toks).items():
            row = (doc_id, term, tf, len(toks))
            mine = [(p, s, e) for p, (t, s, e) in enumerate(occ)
                    if t == term]
            if with_positions or with_offsets:
                row += ([p for p, _, _ in mine],)
            if with_offsets:
                row += ([s for _, s, _ in mine], [e for _, _, e in mine])
            out.append(row)
    return sorted(out)


@pytest.mark.parametrize("analyzer",
                         ["code", "simple_code", "default",
                          "simple_code_edge"])
def test_postings_plans_match_oracle_with_payloads(spark, analyzer):
    """Every payload shape of `build_logical_index` — none (explode or
    `tokenize_postings`), positions only and positions + offsets (both
    `tokenize_occurrence_postings`) — equals the per-doc oracle row for
    row, on batch-tokenizable and per-doc analyzer chains; positions-only
    builds carry no offset columns."""
    rows = [(i, t) for i, t in enumerate(NASTY + TEXTS)]
    docs = spark.createDataFrame(rows, "doc_id bigint, content string")
    for with_positions, with_offsets in ((False, False), (True, False),
                                         (False, True), (True, True)):
        postings = build_logical_index(
            docs, analyzer=analyzer, with_positions=with_positions,
            with_offsets=with_offsets,
        ).postings
        assert ("start_offsets" in postings.columns) == with_offsets
        got = sorted(tuple(r) for r in postings.collect())
        assert got == oracle_postings(
            rows, analyzer, with_positions, with_offsets
        ), (analyzer, with_positions, with_offsets)
