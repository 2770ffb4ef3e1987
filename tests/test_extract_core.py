"""Unit goldens for the extraction spec — the exact-expected-value pattern
of the reference's tests (reference: tests/ut/test_metrics.py:31-80,
inline goldens in rec_transforms.py:487-563)."""

import numpy as np
import pytest

from mindocr_spark import extract_core as core

PAGE = (
    b'<html><head><meta charset="utf-8"><title>T</title></head><body>'
    b'<nav><ul><li><a href="/">Home</a></li><li><a href="/x">About</a></li></ul></nav>'
    b"<main><h1>The quick brown fox story</h1>"
    b"<p>The quick brown fox jumps over the lazy dog and runs to the river "
    b"where it finds an old boat that was left behind.</p>"
    b"<p>It was a cold day and the wind was blowing from the north across "
    b"the valley as they walked home.</p></main>"
    b"<footer><p>&copy; 2024 Acme</p></footer></body></html>"
)


class TestParse:
    def test_block_segmentation(self):
        d = core.parse_html(PAGE)
        assert d.node_text == [
            "Home",
            "About",
            "The quick brown fox story",
            "The quick brown fox jumps over the lazy dog and runs to the "
            "river where it finds an old boat that was left behind.",
            "It was a cold day and the wind was blowing from the north "
            "across the valley as they walked home.",
            "© 2024 Acme",
        ]
        assert d.text_len == [4, 5, 25, 114, 96, 11]
        assert d.link_text_len == [4, 5, 0, 0, 0, 0]
        assert d.n_words == [1, 1, 5, 24, 20, 2]
        assert d.stop_words == [0, 0, 1, 9, 11, 0]
        assert d.in_negative == [True, True, False, False, False, True]
        assert d.heading == [False, False, True, False, False, False]
        assert d.encoding == "utf-8"
        assert d.total_bytes == len(PAGE)

    def test_head_content_skipped(self):
        d = core.parse_html(b"<html><head><title>skip me</title></head><body><p>keep</p></body></html>")
        assert d.node_text == ["keep"]

    def test_script_style_comments_skipped(self):
        d = core.parse_html(
            b"<body><script>var x = '<p>no</p>';</script><style>p{}</style>"
            b"<!-- <p>also no</p> --><p>yes</p></body>"
        )
        assert d.node_text == ["yes"]

    def test_entities_and_numeric_refs(self):
        d = core.parse_html(b"<body><p>a &amp; b &#65;&#x42; &bogus; end</p></body>")
        assert d.node_text == ["a & b AB &bogus; end"]

    def test_malformed_and_stray_lt(self):
        d = core.parse_html(b"<body><p>3 < 5 and <b>bold</p></body>")
        assert d.node_text == ["3 < 5 and bold"]

    def test_misnested_close_tolerated(self):
        d = core.parse_html(b"<body><div><p>one</div></p><p>two</p></body>")
        assert d.node_text == ["one", "two"]

    def test_empty_and_whitespace_only(self):
        assert core.parse_html(b"").n_nodes == 0
        assert core.parse_html(b"<body>   \n\t  </body>").n_nodes == 0

    def test_charset_sniffing(self):
        assert core.sniff_decode("café".encode("latin-1")) == ("café", "latin-1")
        assert core.sniff_decode("café".encode("utf-8")) == ("café", "utf-8")
        declared = b'<meta charset="iso-8859-1">caf\xe9'
        text, enc = core.sniff_decode(declared)
        assert enc == "latin-1" and text.endswith("café")

    def test_cjk_counted(self):
        d = core.parse_html("<body><p>山水风月 abc</p></body>".encode())
        assert d.cjk_chars == [4]

    def test_void_elements_dont_nest(self):
        # br is a block separator; img is inline-void (no whitespace inserted)
        d = core.parse_html(b"<body><p>a<br>b<img src=x>c</p></body>")
        assert d.node_text == ["a", "bc"]
        assert core.parse_html(b"<body><p>a<img src=x>c</p></body>").node_text == ["ac"]


class TestScore:
    def test_pinned_scores(self):
        """Exact float64 goldens (the reference's exact `== 0.5` pattern)."""
        d = core.parse_html(PAGE)
        raw, sm = core.score_nodes(d)
        np.testing.assert_allclose(
            raw, [0.0, 0.0, 0.48125, 0.784625, 0.766, 0.0], rtol=0, atol=1e-12
        )
        # smoothing is exactly the 3-tap mean of raw in fixed order
        assert sm[3] == (raw[2] + raw[3] + raw[4]) / 3.0

    def test_link_density_kills_navs(self):
        d = core.parse_html(
            b'<body><div><a href="/a">pure link text here</a></div></body>'
        )
        raw, _ = core.score_nodes(d)
        assert raw[0] < core.DEFAULT_PARAMS.raw_floor

    def test_cjk_prose_scores_high(self):
        d = core.parse_html(("<body><p>" + "山水风月天地人间" * 12 + "</p></body>").encode())
        raw, _ = core.score_nodes(d)
        assert raw[0] > 0.6

    def test_empty_doc(self):
        raw, sm = core.score_nodes(core.ParsedDoc())
        assert raw.size == 0 and sm.size == 0


class TestDetect:
    P = core.ExtractParams(min_block_chars=1)

    def _run(self, raw, sm=None, tl=None, params=None):
        raw = np.asarray(raw, dtype=np.float64)
        sm = raw if sm is None else np.asarray(sm, dtype=np.float64)
        tl = np.full(raw.size, 100) if tl is None else np.asarray(tl)
        return core.detect_blocks(raw, sm, tl, params or self.P)

    def test_simple_run(self):
        assert self._run([0.0, 0.9, 0.9, 0.0]) == [(1, 3, pytest.approx(0.9))]

    def test_gap_merge(self):
        # gap of 1 below-threshold node is absorbed (max_gap=1)
        out = self._run([0.9, 0.2, 0.9])
        assert len(out) == 1 and out[0][:2] == (0, 3)

    def test_gap_of_two_not_merged(self):
        out = self._run([0.9, 0.2, 0.2, 0.9])
        assert [b[:2] for b in out] == [(0, 1), (3, 4)]

    def test_block_thresh_filters(self):
        # run detected but mean raw < block_thresh → dropped
        assert self._run([0.4, 0.4, 0.4]) == []

    def test_min_chars_filters(self):
        p = core.ExtractParams()
        assert self._run([0.9], tl=[10], params=p) == []
        assert self._run([0.9], tl=[30], params=p) == [(0, 1, pytest.approx(0.9))]

    def test_all_below_threshold_empty(self):
        assert self._run([0.1, 0.05, 0.0]) == []

    def test_raw_floor_gates_smoothed(self):
        # smoothed high but raw below floor → node excluded (chrome bleed guard)
        out = self._run([0.05, 0.9], sm=[0.5, 0.9])
        assert [b[:2] for b in out] == [(1, 2)]

    def test_max_candidates_cap(self):
        raw = np.tile([0.9, 0.0, 0.0], 50).astype(np.float64)
        p = core.ExtractParams(min_block_chars=1, max_candidates=10)
        out = core.detect_blocks(raw, raw, np.full(raw.size, 100), p)
        assert len(out) == 10
        assert out == sorted(out, key=lambda b: b[0])  # reading order restored

    def test_empty(self):
        assert self._run([]) == []


class TestAssemble:
    def test_end_to_end_golden(self):
        ex = core.extract_document(PAGE)
        assert ex.extracted_text == (
            "The quick brown fox story\n"
            "The quick brown fox jumps over the lazy dog and runs to the "
            "river where it finds an old boat that was left behind.\n"
            "It was a cold day and the wind was blowing from the north "
            "across the valley as they walked home."
        )
        assert ex.spans == [(0, 2, 5, 0, 237, 153, 403, 0.677292)]
        # src offsets index the decoded source document
        src_text, _ = core.sniff_decode(PAGE)
        assert src_text[153:403].startswith("The quick brown fox story")
        assert src_text[153:403].endswith("as they walked home.")
        assert ex.n_blocks == 1
        assert ex.boilerplate_ratio == 0.070588
        assert ex.n_nodes == 6
        assert ex.total_bytes == len(PAGE)

    def test_multi_block_separators_and_offsets(self):
        doc = core.ParsedDoc(
            node_text=["aaa", "bbb", "ccc"], text_len=[3, 3, 3],
        )
        doc.total_text_chars = 9
        ex = core.assemble_text(doc, [(0, 2, 0.9), (2, 3, 0.8)])
        assert ex.extracted_text == "aaa\nbbb\n\nccc"
        assert ex.spans == [
            (0, 0, 2, 0, 7, 0, 0, 0.9), (1, 2, 3, 9, 12, 0, 0, 0.8)
        ]
        for _, _, _, cs, ce, _, _, _ in ex.spans:
            pass
        assert ex.extracted_text[9:12] == "ccc"

    def test_empty_blocks_still_emit_row(self):
        ex = core.extract_document(b"<body><nav><a href='/'>x</a></nav></body>")
        assert ex.extracted_text == "" and ex.n_blocks == 0


class TestDeterminism:
    def test_same_input_same_bytes(self):
        from mindocr_spark.corpus import generate_page

        for i in (0, 7, 123):
            p1, p2 = generate_page(42, i), generate_page(42, i)
            assert p1 == p2
            e1 = core.extract_document(p1["html"])
            e2 = core.extract_document(p2["html"])
            assert e1.extracted_text.encode() == e2.extracted_text.encode()
            assert e1.spans == e2.spans


class TestBoundedWork:
    """Hostile HTML gets linear time and bounded memory per page: an
    unmatched close tag must not scan the open-tag stack, and a block
    must not copy it."""

    SHAPES = {
        # n unclosed block tags, then n close tags that match none of them
        "unmatched_close": lambda n: b"<div>" * n + b"</span>" * n,
        # n nested blocks, each holding text
        "deep_blocks": lambda n: b"<div>x " * n,
    }

    @staticmethod
    def _best_time(html: bytes, repeats: int = 3) -> float:
        import time

        best = float("inf")
        for _ in range(repeats):
            t0 = time.perf_counter()
            core.parse_html(html)
            best = min(best, time.perf_counter() - t0)
        return best

    @pytest.mark.parametrize("shape", sorted(SHAPES))
    def test_near_linear_time(self, shape):
        make = self.SHAPES[shape]
        n = 16000
        core.parse_html(make(n))  # warm caches outside the timed runs
        ratio = self._best_time(make(2 * n)) / self._best_time(make(n))
        assert ratio < 3, f"t(2n)/t(n) = {ratio:.2f} on {shape}"

    @pytest.mark.parametrize("shape", sorted(SHAPES))
    def test_bounded_peak_memory(self, shape):
        import tracemalloc

        html = self.SHAPES[shape](16000)
        tracemalloc.start()
        try:
            core.parse_html(html)
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert peak < 64 * len(html), f"{peak} B peak for {len(html)} B"


class TestReviewRegressions:
    def test_implicit_head_close_html5(self):
        """HTML5 allows omitting </head>; <body> must implicitly close it
        or the entire page content is silently lost."""
        html = (b"<html><head><title>t</title><meta charset='utf-8'>"
                b"<body><p>" + b"The main article text is here and it is "
                b"long enough to form a content block with the quick brown "
                b"fox and the lazy dog in the river valley as it was before."
                b"</p></body></html>")
        ex = core.extract_document(html)
        assert "main article text" in ex.extracted_text

    def test_boilerplate_ratio_non_negative(self):
        """Chrome-free multi-block pages must not drive the ratio below 0
        (separators counted in output but not in total_text_chars)."""
        doc = core.ParsedDoc(node_text=["aaa", "bbb"], text_len=[3, 3])
        doc.total_text_chars = 6
        ex = core.assemble_text(doc, [(0, 1, 0.9), (1, 2, 0.9)])
        assert len(ex.extracted_text) > doc.total_text_chars
        assert ex.boilerplate_ratio == 0.0


class TestPSEDetector:
    """Alternative detector (PSE kernel+expand) behind the registry —
    the reference's pluggable-postprocess pattern
    (mindocr/postprocess/builder.py:19-45)."""

    P = core.ExtractParams(detector="pse", min_block_chars=1)

    def _run(self, raw, sm=None, tl=None, params=None):
        raw = np.asarray(raw, dtype=np.float64)
        sm = raw if sm is None else np.asarray(sm, dtype=np.float64)
        tl = np.full(raw.size, 100) if tl is None else np.asarray(tl)
        return core.detect_blocks_pse(raw, sm, tl, params or self.P)

    def test_kernel_expands_to_floor(self):
        # kernel at idx 2 (0.9 ≥ 0.5); expands over 0.3s (≥ 0.22 floor)
        out = self._run([0.1, 0.3, 0.9, 0.3, 0.1])
        assert [b[:2] for b in out] == [(1, 4)]

    def test_no_kernel_no_block(self):
        # all nodes above the floor but none reaches kernel strength
        assert self._run([0.4, 0.4, 0.4]) == []

    def test_kernels_do_not_bridge_weak_gap(self):
        # two kernels separated by sub-floor nodes stay separate
        out = self._run([0.9, 0.1, 0.1, 0.9])
        assert [b[:2] for b in out] == [(0, 1), (3, 4)]

    def test_registry_dispatch_end_to_end(self):
        ex_db = core.extract_document(PAGE)
        ex_pse = core.extract_document(
            PAGE, core.ExtractParams(detector="pse")
        )
        # on a clean page both detectors recover the same main content
        assert ex_pse.extracted_text == ex_db.extracted_text

    def test_unknown_detector_raises(self):
        import pytest as _pytest

        with _pytest.raises(KeyError):
            core.run_detector(
                np.array([0.5]), np.array([0.5]), [10],
                core.ExtractParams(detector="nope"),
            )


class TestEASTDetector:
    """Third detector family (EAST proposal + locality-aware merge)
    behind the registry (reference:
    mindocr/postprocess/det_east_postprocess.py:13-150)."""

    P = core.ExtractParams(detector="east", min_block_chars=1,
                           block_thresh=0.2)

    def _run(self, raw, sm=None, tl=None, params=None):
        raw = np.asarray(raw, dtype=np.float64)
        sm = raw if sm is None else np.asarray(sm, dtype=np.float64)
        tl = np.full(raw.size, 100) if tl is None else np.asarray(tl)
        return core.detect_blocks_east(raw, sm, tl, params or self.P)

    def test_reach_claims_boundary_nodes(self):
        # only idx 2 fires (0.9), but reach=1 regresses [1, 4) — the
        # sub-threshold boundary nodes enter the extent (db would not
        # include them: its runs stop at the thresholded nodes)
        out = self._run([0.05, 0.2, 0.9, 0.2, 0.05])
        assert [b[:2] for b in out] == [(1, 4)]
        db = core.detect_blocks(
            np.array([0.05, 0.2, 0.9, 0.2, 0.05]),
            np.array([0.05, 0.2, 0.9, 0.2, 0.05]),
            np.full(5, 100),
            core.ExtractParams(min_block_chars=1, block_thresh=0.2),
        )
        assert [b[:2] for b in db] == [(2, 3)]

    def test_locality_merge_bridges_overlapping_proposals(self):
        # firing nodes 1 and 3: proposals [0,3) and [2,5) overlap → one
        # block spanning both (lanms single ordered pass)
        out = self._run([0.15, 0.8, 0.15, 0.8, 0.15])
        assert [b[:2] for b in out] == [(0, 5)]

    def test_distant_proposals_stay_separate(self):
        out = self._run([0.8, 0.05, 0.05, 0.05, 0.05, 0.05, 0.8])
        assert [b[:2] for b in out] == [(0, 1), (6, 7)]  # sub-floor gap

    def test_score_pays_for_claimed_extent(self):
        # the regressed extent includes weak-but-eligible nodes → mean
        # over the FULL extent can fail block_thresh even though the
        # firing node is hot; sub-floor nodes are never claimed
        out = self._run(
            [0.15, 0.15, 0.9, 0.15, 0.15],
            params=core.ExtractParams(detector="east", min_block_chars=1,
                                      block_thresh=0.5),
        )
        assert out == []
        out2 = self._run(
            [0.0, 0.0, 0.9, 0.0, 0.0],
            params=core.ExtractParams(detector="east", min_block_chars=1,
                                      block_thresh=0.5),
        )
        assert [b[:2] for b in out2] == [(2, 3)]  # chrome not claimable

    def test_registry_dispatch_end_to_end(self):
        ex_db = core.extract_document(PAGE)
        ex_east = core.extract_document(
            PAGE, core.ExtractParams(detector="east")
        )
        # on a clean page all detector families recover the same content
        assert ex_east.extracted_text == ex_db.extracted_text


def test_east_divergent_family():
    """On the EAST-divergent template the proposal+merge detector must
    claim the sub-binarization TAIL node that threshold+run detection
    provably excludes — the corpus family where east ≠ db, exercised
    per-byte (reference: EASTPostprocess geometry regression beyond the
    firing pixel, mindocr/postprocess/det_east_postprocess.py:13-150)."""
    from mindocr_spark import extract_core as core
    from mindocr_spark.sources.pages import (
        PAGES_EAST_BUFFER,
        PAGES_EAST_TAIL,
        PAGES_TEMPLATE_ANCHOR,
    )

    body = ("the quick brown fox jumps over a lazy dog and runs to the "
            "river where it finds an old boat that was left by travelers "
            "who were on their way to the mountains in search of gold")
    html = (
        '<!DOCTYPE html><html><head><meta charset="utf-8"><title>Doc 1'
        "</title></head><body>"
        '<header><a href="/">Home</a></header>'
        '<nav><ul><li><a href="/products">Products</a></li>'
        '<li><a href="/about">About</a></li></ul></nav>'
        "<main><article><p>" + PAGES_TEMPLATE_ANCHOR + "</p><p>" + body
        + "</p><p>" + PAGES_EAST_BUFFER + "</p><p>" + PAGES_EAST_TAIL
        + "</p></article></main>"
        '<aside><h3>Related</h3><ul><li><a href="/p/1">related one</a>'
        "</li></ul></aside></body></html>"
    ).encode()

    db = core.extract_document(html, core.ExtractParams(detector="db"))
    east = core.extract_document(html, core.ExtractParams(detector="east"))
    expected_db = (PAGES_TEMPLATE_ANCHOR + "\n" + body + "\n"
                   + PAGES_EAST_BUFFER)
    assert db.extracted_text == expected_db
    assert east.extracted_text == expected_db + "\n" + PAGES_EAST_TAIL
    assert db.extracted_text != east.extracted_text
