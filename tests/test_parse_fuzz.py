"""Property-based fuzzing of the extraction core (hypothesis).

The reference has no property-based layer (SURVEY §5); these pin the
spec's total-function guarantees: parse never raises, is deterministic,
and every emitted invariant (lengths, offsets, counts) holds for
arbitrary byte input — the guarantee the `failed`-flag pipeline relies
on to be rare."""

from hypothesis import given, settings, strategies as st

from mindocr_spark import extract_core as core

html_like = st.one_of(
    st.binary(max_size=2000),
    st.text(max_size=2000).map(lambda s: s.encode("utf-8", "replace")),
    st.lists(
        st.sampled_from([
            "<div>", "</div>", "<p>", "</p>", "<a href='/x'>", "</a>",
            "<script>var x=1;", "</script>", "<!-- c -->", "<nav>", "</nav>",
            "text one two the and", "&amp;", "&#65;", "&bogus;", "< ", ">",
            "<br/>", "<head>", "</head>", '<meta charset="utf-8">',
            "<h1>", "</h1>", "\n\t ", "山水风月", "café",
        ]),
        max_size=60,
    ).map(lambda parts: "".join(parts).encode("utf-8")),
)


@settings(max_examples=300, deadline=None)
@given(html_like)
def test_parse_total_and_invariant(html):
    doc = core.parse_html(html)
    n = doc.n_nodes
    # parallel arrays stay parallel
    for arr in (doc.text_len, doc.link_text_len, doc.n_words,
                doc.stop_words, doc.cjk_chars, doc.in_negative, doc.heading,
                doc.src_start, doc.src_end):
        assert len(arr) == n
    text, _ = core.sniff_decode(html)
    for i in range(n):
        assert doc.text_len[i] == len(doc.node_text[i]) > 0
        assert 0 <= doc.link_text_len[i] <= doc.text_len[i]
        assert doc.stop_words[i] <= doc.n_words[i]
        assert 0 <= doc.src_start[i] <= doc.src_end[i] <= len(text)
    assert doc.total_text_chars == sum(doc.text_len)
    assert doc.total_bytes == len(html)


@settings(max_examples=150, deadline=None)
@given(html_like)
def test_extract_deterministic_and_consistent(html):
    e1 = core.extract_document(html)
    e2 = core.extract_document(html)
    assert e1.extracted_text.encode() == e2.extracted_text.encode()
    assert e1.spans == e2.spans
    # span offsets tile the output text exactly
    for bid, s, e, cs, ce, ss, se, score in e1.spans:
        assert 0 <= cs <= ce <= len(e1.extracted_text)
        assert s < e
        assert 0.0 <= score <= 1.0
    assert e1.n_blocks == len(e1.spans)
    if e1.spans:
        assert e1.spans[-1][4] == len(e1.extracted_text)


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=500))
def test_entity_ws_normalization_idempotent(s):
    once = core.normalize_ws(s)
    assert core.normalize_ws(once) == once
    dec = core.decode_entities(s)
    assert isinstance(dec, str)
