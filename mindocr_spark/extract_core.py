"""extract_core — the pure, deterministic extraction spec.

This module is the single source of truth for what "main-content
extraction" means. Both the golden-fixture generator (single-process) and
the distributed Spark pipeline (:mod:`mindocr_spark.operators`) import and
execute *these exact functions*, which is what makes the byte-identical
acceptance contract achievable: there is one implementation of every
normalization decision (charset sniff, entity decode, whitespace collapse,
score arithmetic, threshold, rounding), executed identically on both
paths. This mirrors how the reference pins determinism in its rescale path
(reference: mindocr/postprocess/det_base_postprocess.py:108-123).

Stage map (reference capability → this module):

- ``DecodeImage`` bytes→array decode
  (reference: mindocr/data/transforms/general_transforms.py:25-64)
  → :func:`parse_html` — HTML bytes → flattened DOM block arrays.
- ``DBHead`` per-pixel text probability + ``DBFPN`` multi-scale fusion
  (reference: mindocr/models/heads/det_db_head.py:7-52,
  mindocr/models/necks/fpn.py:28-228)
  → :func:`score_nodes` — per-block boilerplate probability
  (jusText/Boilerpipe-style features) + neighbourhood smoothing.
- ``DBPostprocess`` threshold → contours → score filter → unclip
  (reference: mindocr/postprocess/det_db_postprocess.py:15-178)
  → :func:`detect_blocks` — threshold → contiguous-run detection over the
  1-D node sequence → gap-merge → min-size/score filter → top-k cap.
- ``RecCTCLabelDecode`` dedupe-blanks-join decoding + ``sorted_boxes``
  reading-order sort (reference: mindocr/postprocess/rec_postprocess.py:92-158,
  tools/infer/text/utils.py:88-96)
  → :func:`assemble_text` — reading-order span assembly with pinned
  whitespace normalization.

No per-row Python escapes this module into the Spark plan: the Spark side
calls :func:`extract_document` for each document of an Arrow batch inside
one ``mapInPandas`` (:mod:`mindocr_spark.operators.stages`).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import numpy as np

# --------------------------------------------------------------------------
# Tokenizer tables (pinned; never derive from runtime/library state)
# --------------------------------------------------------------------------

#: Tags whose open/close boundaries delimit text blocks (jusText's
#: "paragraph" segmentation). Everything else is inline.
BLOCK_TAGS = frozenset(
    """html head body p div li ul ol h1 h2 h3 h4 h5 h6 td th tr table
    blockquote pre article section header footer nav aside main form
    figure figcaption summary details title dl dt dd br hr""".split()
)

#: Void elements: never pushed on the open-tag stack.
VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

#: Raw-text elements: content skipped entirely (boilerplate by definition).
RAW_TEXT_TAGS = frozenset(("script", "style", "noscript", "template"))

#: Ancestor tags that mark a block as chrome/boilerplate.
NEGATIVE_ANCESTORS = frozenset(("nav", "header", "footer", "aside", "form"))

#: Pinned entity table — only named entities the spec recognises. Numeric
#: character references (&#NNN; / &#xHH;) are always decoded.
ENTITIES = {
    "amp": "&",
    "lt": "<",
    "gt": ">",
    "quot": '"',
    "apos": "'",
    "nbsp": " ",
    "mdash": "—",
    "ndash": "–",
    "hellip": "…",
    "copy": "©",
    "reg": "®",
    "trade": "™",
    "laquo": "«",
    "raquo": "»",
    "lsquo": "‘",
    "rsquo": "’",
    "ldquo": "“",
    "rdquo": "”",
}

#: Stopword list used by the stopword-density feature (en + de function
#: words; pinned — do NOT extend without regenerating goldens).
STOPWORDS = frozenset(
    """a an and are as at be but by for from has have he her his i in is it
    its not of on or she that the their there they this to was we were will
    with you your der die das und ist ein eine nicht mit von zu auf im den
    des dem sich auch als war bei aus nach wie wird uber so um noch""".split()
)

_TAG_RE = re.compile(r"<(/?)([a-zA-Z][a-zA-Z0-9]*)((?:[^>\"']|\"[^\"]*\"|'[^']*')*)(/?)>")
_RAW_CLOSE_RES = {
    name: re.compile(rf"</{name}\s*>", re.IGNORECASE)
    for name in ("script", "style", "noscript", "template")
}
_ENTITY_RE = re.compile(r"&(#x?[0-9a-fA-F]+|[a-zA-Z][a-zA-Z0-9]*);")
_WS_RE = re.compile(r"\s+", re.UNICODE)
_CHARSET_RE = re.compile(rb"""charset\s*=\s*["']?\s*([A-Za-z0-9_\-]+)""")
_WORD_RE = re.compile(r"[^\W_]+", re.UNICODE)
_CJK_RE = re.compile(r"[㐀-䶿一-鿿]")

# --------------------------------------------------------------------------
# Spec parameters (the analog of configs/det/dbnet/db_r50_icdar15.yaml:26-32
# in the reference: binarization / box thresholds / max_candidates)
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class ExtractParams:
    """Tunable thresholds of the extraction spec. Defaults are the pinned
    golden configuration; changing any value invalidates golden fixtures."""

    binary_thresh: float = 0.30  # smoothed-score gate (DB "thresh")
    raw_floor: float = 0.12      # raw-score gate — the DB prob/thresh map pair:
                                 # a node enters a run only if BOTH maps agree,
                                 # so smoothing can't bleed chrome into content
    block_thresh: float = 0.45   # block kept by mean score (DB "box_thresh")
    min_block_chars: int = 25    # drop tiny blocks (validate_det_res min_area analog)
    max_gap: int = 1             # gap-merge distance in nodes (unclip analog)
    max_candidates: int = 1000   # top-k cap (det_db_postprocess.py:45)
    smooth: bool = True          # neighbourhood smoothing (FPN analog)
    detector: str = "db"         # "db" | "pse" | "east" (proposal+lanms)
    pse_kernel_margin: float = 0.20  # kernel thresh = binary_thresh + margin
    pse_expand_floor: float = 0.08   # expansion floor = binary_thresh - this
    east_reach: int = 1          # per-node proposal reach (geometry regression
                                 # analog): each firing node claims ±reach nodes


DEFAULT_PARAMS = ExtractParams()


# --------------------------------------------------------------------------
# Charset sniffing + entity decoding (DecodeImage's BGR/charset flags analog)
# --------------------------------------------------------------------------


def sniff_decode(html: bytes) -> tuple[str, str]:
    """Decode HTML bytes to str. Returns (text, encoding_used).

    Order: declared <meta charset> in the first 2048 bytes → utf-8 strict →
    latin-1 (never fails). Deterministic by construction.
    """
    head = html[:2048]
    m = _CHARSET_RE.search(head)
    if m:
        enc = m.group(1).decode("ascii", "replace").lower()
        if enc in ("utf-8", "utf8"):
            try:
                return html.decode("utf-8"), "utf-8"
            except UnicodeDecodeError:
                return html.decode("latin-1"), "latin-1"
        if enc in ("latin-1", "latin1", "iso-8859-1"):
            return html.decode("latin-1"), "latin-1"
        # unknown declared charset: fall through to sniffing
    try:
        return html.decode("utf-8"), "utf-8"
    except UnicodeDecodeError:
        return html.decode("latin-1"), "latin-1"


def _entity_sub(m: re.Match) -> str:
    body = m.group(1)
    if body[0] == "#":
        try:
            cp = int(body[2:], 16) if body[1] in ("x", "X") else int(body[1:])
        except ValueError:
            return m.group(0)
        if 0 < cp <= 0x10FFFF and not (0xD800 <= cp <= 0xDFFF):
            return chr(cp)
        return m.group(0)
    return ENTITIES.get(body, m.group(0))


def decode_entities(text: str) -> str:
    """Decode the pinned entity set + numeric refs. Unknown entities pass
    through verbatim (determinism: no dependence on html.entities)."""
    if "&" not in text:  # fast path: no entity can match
        return text
    return _ENTITY_RE.sub(_entity_sub, text)


def normalize_ws(text: str) -> str:
    """Collapse unicode whitespace runs to single spaces and strip."""
    return _WS_RE.sub(" ", text).strip()


# --------------------------------------------------------------------------
# Stage A — parse: HTML bytes → flattened DOM block arrays
# --------------------------------------------------------------------------


@dataclass
class ParsedDoc:
    """Flattened block-level segmentation of one document.

    The `shape_list` provenance analog
    (reference: mindocr/data/transforms/det_transforms.py:490-495):
    enough metadata to map results back to source space.
    """

    node_text: list[str] = field(default_factory=list)  # normalized text
    text_len: list[int] = field(default_factory=list)   # chars, normalized
    link_text_len: list[int] = field(default_factory=list)
    n_words: list[int] = field(default_factory=list)
    stop_words: list[int] = field(default_factory=list)
    cjk_chars: list[int] = field(default_factory=list)
    in_negative: list[bool] = field(default_factory=list)  # nav/footer/... ancestor
    heading: list[bool] = field(default_factory=list)
    src_start: list[int] = field(default_factory=list)  # char offset in decoded source
    src_end: list[int] = field(default_factory=list)    # exclusive
    total_text_chars: int = 0   # all normalized text incl. boilerplate
    total_bytes: int = 0
    encoding: str = "utf-8"

    @property
    def n_nodes(self) -> int:
        return len(self.node_text)


def _finish_block(doc: ParsedDoc, buf: list[str], link_chars: list[int],
                  neg_depth: int, heading: bool,
                  src: list[int] | None = None) -> None:
    raw = "".join(buf)
    text = normalize_ws(raw)
    buf.clear()
    link = link_chars[0]
    link_chars[0] = 0
    if not text:
        return
    # source-space provenance (the rescale-back contract, reference:
    # mindocr/postprocess/det_base_postprocess.py:108-147): char offsets
    # of this block's first/last text fragment in the DECODED source
    doc.src_start.append(src[0] if src else 0)
    doc.src_end.append(src[1] if src else 0)
    words = _WORD_RE.findall(text)
    stops = sum(1 for w in words if w.lower() in STOPWORDS)
    # ASCII fast path: the CJK regex cannot match ASCII text
    cjk = 0 if text.isascii() else len(_CJK_RE.findall(text))
    doc.node_text.append(text)
    doc.text_len.append(len(text))
    doc.link_text_len.append(min(link, len(text)))
    doc.n_words.append(len(words))
    doc.stop_words.append(stops)
    doc.cjk_chars.append(cjk)
    doc.in_negative.append(neg_depth > 0)
    doc.heading.append(heading)
    doc.total_text_chars += len(text)


def parse_html(html: bytes) -> ParsedDoc:
    """Tokenize HTML into block-level text segments with layout features.

    A hand-written, fully pinned tokenizer (no external parser whose
    version could drift): handles comments, raw-text elements
    (script/style), doctype/PI, void elements, attribute quoting, the
    pinned entity table, and charset sniffing. Consecutive text (including
    inline-tag text) accumulates into the current block; any block-level
    open/close tag boundary flushes it — the jusText paragraph model, and
    the analog of the reference's region segmentation.
    """
    doc = ParsedDoc()
    doc.total_bytes = len(html)
    text, doc.encoding = sniff_decode(html)

    stack: list[str] = []          # open block-context tags (subset: all tags)
    n_open: dict[str, int] = {}    # name → occurrences in stack: O(1) membership
    buf: list[str] = []            # current block's raw text fragments
    link_chars = [0]               # normalized link chars in current block
    neg_depth = 0                  # nesting inside NEGATIVE_ANCESTORS
    a_depth = 0                    # nesting inside <a>
    head_depth = 0                 # inside <head> (content skipped)
    block_heading = False          # current block opened by h1..h6
    block_src = [0, 0]             # decoded-source char span of current block

    i, n = 0, len(text)
    while i < n:
        lt = text.find("<", i)
        if lt == -1:
            frag = text[i:]
            if frag and head_depth == 0:
                e = decode_entities(frag)
                # non-empty after ws-collapse ⟺ has a non-ws char
                if e and not e.isspace():
                    if not buf:
                        block_src[0] = i
                    buf.append(e)
                    block_src[1] = n
                    if a_depth > 0:
                        link_chars[0] += len(normalize_ws(e))
            break
        if lt > i:
            frag = text[i:lt]
            if head_depth == 0:
                e = decode_entities(frag)
                if e and not e.isspace():
                    if not buf:
                        block_src[0] = i
                    buf.append(e)
                    block_src[1] = lt
                    if a_depth > 0:
                        link_chars[0] += len(normalize_ws(e))
        i = lt
        # comment
        if text.startswith("<!--", i):
            end = text.find("-->", i + 4)
            i = n if end == -1 else end + 3
            continue
        # doctype / PI / CDATA
        if text.startswith("<!", i) or text.startswith("<?", i):
            end = text.find(">", i + 2)
            i = n if end == -1 else end + 1
            continue
        m = _TAG_RE.match(text, i)
        if not m:
            # stray '<' — treat as text
            if head_depth == 0:
                if not buf:
                    block_src[0] = i
                buf.append("<")
                block_src[1] = i + 1
                if a_depth > 0:
                    link_chars[0] += 1
            i += 1
            continue
        closing, name, _attrs, self_close = m.groups()
        name = name.lower()
        i = m.end()

        if not closing and name in RAW_TEXT_TAGS:
            # skip raw content up to the matching close tag
            cm = _RAW_CLOSE_RES[name].search(text, i)
            i = n if cm is None else cm.end()
            continue

        is_block = name in BLOCK_TAGS
        if is_block and buf:
            _finish_block(doc, buf, link_chars, neg_depth, block_heading,
                          block_src)
            block_heading = False

        if closing:
            # pop up to the matching open tag (tolerates misnesting)
            if n_open.get(name):
                while stack:
                    top = stack.pop()
                    n_open[top] -= 1
                    if top in NEGATIVE_ANCESTORS:
                        neg_depth -= 1
                    if top == "a":
                        a_depth -= 1
                    if top == "head":
                        head_depth -= 1
                    if top == name:
                        break
            if is_block:
                block_heading = False
        else:
            if name in VOID_TAGS or self_close:
                continue
            # HTML5 optional end tag: <body> implicitly closes an open
            # <head> (a crawled page may legally omit </head>; without
            # this the whole body would be skipped as head content).
            # head_depth counts the <head> entries on the stack.
            if name == "body" and head_depth > 0:
                while stack:
                    top = stack.pop()
                    n_open[top] -= 1
                    if top in NEGATIVE_ANCESTORS:
                        neg_depth -= 1
                    if top == "a":
                        a_depth -= 1
                    if top == "head":
                        head_depth -= 1
                        break
            stack.append(name)
            n_open[name] = n_open.get(name, 0) + 1
            if name in NEGATIVE_ANCESTORS:
                neg_depth += 1
            if name == "a":
                a_depth += 1
            if name == "head":
                head_depth += 1
            if is_block:
                block_heading = name in ("h1", "h2", "h3", "h4", "h5", "h6")
    if buf:
        _finish_block(doc, buf, link_chars, neg_depth, block_heading,
                      block_src)
    return doc


# --------------------------------------------------------------------------
# Stage B — score: per-node boilerplate probability (DBHead analog)
# --------------------------------------------------------------------------

#: Feature weights (pinned). score = W_LEN·len_f + W_STOP·stop_f
#:                                  + W_LINK·(1−link_density) + prior
W_LEN, W_PROSE, W_LINK = 0.45, 0.35, 0.20
PRIOR_NEGATIVE = -0.45   # inside nav/header/footer/aside/form
PRIOR_HEADING = 0.05
LEN_SATURATION = 200.0   # chars at which the length feature saturates
STOP_SATURATION = 0.40   # stopword density at which stop_f saturates
CJK_SATURATION = 0.80    # CJK char-ratio at which cjk_f saturates


def score_nodes(
    doc: ParsedDoc, params: ExtractParams = DEFAULT_PARAMS
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized float64 node scores in [0, 1]. Returns (raw, smoothed).

    The deterministic re-expression of the reference's learned per-pixel
    probability head (mindocr/models/heads/det_db_head.py:7-52): length
    saturation, prose density (stopword density for space-delimited
    scripts, CJK char ratio for CJK — max of the two), link density,
    structural priors — the classic jusText/Boilerpipe feature set.
    Smoothing is the FPN multi-scale fusion analog
    (mindocr/models/necks/fpn.py:28-228): a fixed 3-tap neighbour mean
    with edge clamping. The (raw, smoothed) pair plays the role of DBNet's
    (threshold map, probability map): detection gates on both.

    All arithmetic is elementwise float64 with a fixed association order,
    so numpy here ≡ numpy in the golden generator bit-for-bit.
    """
    if doc.n_nodes == 0:
        z = np.zeros(0, dtype=np.float64)
        return z, z
    text_len = np.asarray(doc.text_len, dtype=np.float64)
    link_len = np.asarray(doc.link_text_len, dtype=np.float64)
    n_words = np.asarray(doc.n_words, dtype=np.float64)
    stops = np.asarray(doc.stop_words, dtype=np.float64)
    cjk = np.asarray(doc.cjk_chars, dtype=np.float64)
    neg = np.asarray(doc.in_negative, dtype=np.float64)
    head = np.asarray(doc.heading, dtype=np.float64)

    len_f = np.minimum(text_len, LEN_SATURATION) / LEN_SATURATION
    stop_density = stops / np.maximum(n_words, 1.0)
    stop_f = np.minimum(stop_density, STOP_SATURATION) / STOP_SATURATION
    cjk_f = np.minimum(cjk / np.maximum(text_len, 1.0), CJK_SATURATION) / CJK_SATURATION
    prose_f = np.maximum(stop_f, cjk_f)
    link_density = link_len / np.maximum(text_len, 1.0)

    raw = W_LEN * len_f + W_PROSE * prose_f + W_LINK * (1.0 - link_density)
    raw = raw + PRIOR_NEGATIVE * neg + PRIOR_HEADING * head
    raw = np.clip(raw, 0.0, 1.0)

    if not params.smooth or raw.size < 2:
        return raw, raw
    left = np.concatenate((raw[:1], raw[:-1]))
    right = np.concatenate((raw[1:], raw[-1:]))
    return raw, (left + raw + right) / 3.0


# --------------------------------------------------------------------------
# Stage C — detect: contiguous-run block detection (DBPostprocess analog)
# --------------------------------------------------------------------------


def detect_blocks(
    raw: np.ndarray,
    smoothed: np.ndarray,
    text_len: list[int] | np.ndarray,
    params: ExtractParams = DEFAULT_PARAMS,
) -> list[tuple[int, int, float]]:
    """Threshold → 1-D connected components → gap-merge → filter → cap.

    Returns [(node_start, node_end_exclusive, mean_score)] sorted by
    node_start (reading order). Connected components over the 1-D node
    sequence are the exact analog of cv2.findContours over the 2-D
    heatmap (reference: mindocr/postprocess/det_db_postprocess.py:87-130);
    gap-merge is the unclip/expand analog (det_transforms.py:536-539);
    the score/min-size filters mirror box_thresh + min-area validation
    (tools/infer/text/predict_det.py:151-207); the candidate cap mirrors
    max_candidates (det_db_postprocess.py:45,95). The dual gate
    (smoothed ≥ binary_thresh AND raw ≥ raw_floor) mirrors DBNet
    binarizing the probability map against the threshold map.
    """
    n = int(smoothed.size)
    if n == 0:
        return []
    tl = np.asarray(text_len, dtype=np.int64)
    mask = (smoothed >= params.binary_thresh) & (raw >= params.raw_floor)
    # block quality is judged on RAW scores: smoothing exists to bridge
    # runs, but averaging it into quality would penalize short content
    # runs whose neighbours are chrome (both maps again, as in DBNet's
    # box_thresh applied to the probability map, det_db_postprocess.py:95-130)
    scores = raw

    runs: list[list[int]] = []  # [start, end_exclusive]
    i = 0
    while i < n:
        if mask[i]:
            j = i
            while j < n and mask[j]:
                j += 1
            runs.append([i, j])
            i = j
        else:
            i += 1

    # gap-merge adjacent runs (unclip analog)
    merged: list[list[int]] = []
    for r in runs:
        if merged and r[0] - merged[-1][1] <= params.max_gap:
            merged[-1][1] = r[1]
        else:
            merged.append(r)

    blocks: list[tuple[int, int, float]] = []
    for s, e in merged:
        seg = scores[s:e]
        mean_score = float(np.mean(seg))
        if mean_score < params.block_thresh:
            continue
        if int(tl[s:e].sum()) < params.min_block_chars:
            continue
        blocks.append((s, e, mean_score))

    if len(blocks) > params.max_candidates:
        # keep top-k by score, then restore reading order
        blocks = sorted(blocks, key=lambda b: (-b[2], b[0]))[: params.max_candidates]
        blocks.sort(key=lambda b: b[0])
    return blocks


def detect_blocks_pse(
    raw: np.ndarray,
    smoothed: np.ndarray,
    text_len: list[int] | np.ndarray,
    params: ExtractParams = DEFAULT_PARAMS,
) -> list[tuple[int, int, float]]:
    """PSE-style detector: high-confidence KERNELS expanded outward to a
    lower floor — the 1-D analog of progressive scale expansion
    (reference: mindocr/postprocess/det_pse_postprocess.py:13-130, BFS
    label growth over shrunken kernels; pse.pyx). Compared to the DB
    detector, kernels resist bridging two separate articles through a
    mediocre gap, while expansion still recovers their full extent.

    1. kernels: runs where smoothed ≥ binary_thresh + pse_kernel_margin
       AND raw ≥ raw_floor;
    2. expansion: each kernel grows left/right while smoothed ≥
       binary_thresh − pse_expand_floor AND raw ≥ raw_floor (first-come
       growth, left-to-right — deterministic like the BFS queue order);
    3. same gap-merge / score / min-size / top-k policy as the DB path.
    """
    n = int(smoothed.size)
    if n == 0:
        return []
    hi = params.binary_thresh + params.pse_kernel_margin
    lo = params.binary_thresh - params.pse_expand_floor
    eligible = raw >= params.raw_floor
    kernel_mask = (smoothed >= hi) & eligible
    grow_mask = (smoothed >= lo) & eligible

    taken = np.zeros(n, dtype=bool)
    runs: list[list[int]] = []
    i = 0
    while i < n:
        if kernel_mask[i] and not taken[i]:
            s = i
            e = i
            while e + 1 < n and kernel_mask[e + 1]:
                e += 1
            # expand to the growth floor, stopping at already-claimed nodes
            while s - 1 >= 0 and grow_mask[s - 1] and not taken[s - 1]:
                s -= 1
            while e + 1 < n and grow_mask[e + 1] and not taken[e + 1]:
                e += 1
            taken[s:e + 1] = True
            runs.append([s, e + 1])
            i = e + 1
        else:
            i += 1

    merged: list[list[int]] = []
    for r in runs:
        if merged and r[0] - merged[-1][1] <= params.max_gap:
            merged[-1][1] = r[1]
        else:
            merged.append(r)

    tl = np.asarray(text_len, dtype=np.int64)
    blocks: list[tuple[int, int, float]] = []
    for s, e in merged:
        mean_score = float(np.mean(raw[s:e]))
        if mean_score < params.block_thresh:
            continue
        if int(tl[s:e].sum()) < params.min_block_chars:
            continue
        blocks.append((s, e, mean_score))
    if len(blocks) > params.max_candidates:
        blocks = sorted(blocks, key=lambda b: (-b[2], b[0]))[: params.max_candidates]
        blocks.sort(key=lambda b: b[0])
    return blocks


def detect_blocks_east(
    raw: np.ndarray,
    smoothed: np.ndarray,
    text_len: list[int] | np.ndarray,
    params: ExtractParams = DEFAULT_PARAMS,
) -> list[tuple[int, int, float]]:
    """EAST-style detector: per-node interval PROPOSALS merged by
    locality-aware NMS — the 1-D analog of EAST's per-pixel quad
    regression + lanms (reference:
    mindocr/postprocess/det_east_postprocess.py:13-150, lanms at L69).

    1. proposals: every node with smoothed ≥ binary_thresh AND raw ≥
       raw_floor regresses an interval [i−reach, i+reach], CLIPPED to
       nodes passing the raw floor — geometry beyond the firing node
       itself, the way an EAST pixel predicts a quad larger than the
       pixel (sub-binarization BOUNDARY nodes can enter a block's
       extent, which the db/pse run detectors never allow; hard-chrome
       nodes below the floor still cannot);
    2. locality-aware merge: proposals arrive in reading order; each is
       merged into the current group while it overlaps or sits within
       max_gap of it (the single ordered pass that makes lanms linear,
       vs. global NMS's quadratic pairwise suppression);
    3. the shared score / min-size / top-k policy, scored on the raw map
       over the FULL merged extent (claimed boundary nodes included —
       regressed geometry pays for what it claims).
    """
    n = int(smoothed.size)
    if n == 0:
        return []
    reach = max(0, int(params.east_reach))
    eligible = raw >= params.raw_floor
    firing = np.nonzero((smoothed >= params.binary_thresh) & eligible)[0]
    merged: list[list[int]] = []
    for i in firing:
        i = int(i)
        s = i
        while s - 1 >= 0 and i - (s - 1) <= reach and eligible[s - 1]:
            s -= 1
        e = i + 1
        while e < n and e - i <= reach and eligible[e]:
            e += 1
        if merged and s - merged[-1][1] <= params.max_gap:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])

    tl = np.asarray(text_len, dtype=np.int64)
    blocks: list[tuple[int, int, float]] = []
    for s, e in merged:
        mean_score = float(np.mean(raw[s:e]))
        if mean_score < params.block_thresh:
            continue
        if int(tl[s:e].sum()) < params.min_block_chars:
            continue
        blocks.append((s, e, mean_score))
    if len(blocks) > params.max_candidates:
        blocks = sorted(blocks, key=lambda b: (-b[2], b[0]))[: params.max_candidates]
        blocks.sort(key=lambda b: b[0])
    return blocks


#: Pluggable detector registry (the reference's postprocess registry
#: pattern, mindocr/postprocess/builder.py:19-45): DBPostprocess ↔ "db",
#: PSEPostprocess ↔ "pse", EASTPostprocess ↔ "east".
DETECTORS = {"db": detect_blocks, "pse": detect_blocks_pse,
             "east": detect_blocks_east}


def run_detector(raw, smoothed, text_len, params: ExtractParams = DEFAULT_PARAMS):
    return DETECTORS[params.detector](raw, smoothed, text_len, params)


# --------------------------------------------------------------------------
# Stage D — assemble: reading-order span assembly (CTC decode + sorted_boxes)
# --------------------------------------------------------------------------


@dataclass
class Extraction:
    """Final per-document result (the reference's result-sink record,
    tools/infer/text/predict_system.py:131-152)."""

    extracted_text: str
    # (block_id, node_start, node_end, char_start, char_end,
    #  src_start, src_end, score) — char_* index the OUTPUT text, src_*
    # index the decoded SOURCE document (the rescale-back provenance,
    # reference: mindocr/postprocess/det_base_postprocess.py:108-147)
    spans: list[tuple[int, int, int, int, int, int, int, float]]
    n_blocks: int
    boilerplate_ratio: float
    n_nodes: int
    total_bytes: int
    encoding: str


def assemble_text(
    doc: ParsedDoc,
    blocks: list[tuple[int, int, float]],
    params: ExtractParams = DEFAULT_PARAMS,
) -> Extraction:
    """Join block node texts in reading order with pinned separators.

    Within a block nodes join with "\\n"; blocks join with "\\n\\n".
    Score rounding to 6 decimals is pinned here (the analog of the
    reference's deterministic np.round at rescale,
    mindocr/postprocess/det_base_postprocess.py:108-123).
    """
    parts: list[str] = []
    spans: list[tuple[int, int, int, int, int, int, int, float]] = []
    pos = 0
    for bid, (s, e, score) in enumerate(blocks):
        block_text = "\n".join(doc.node_text[s:e])
        if parts:
            pos += 2  # the "\n\n" separator
        start = pos
        pos += len(block_text)
        parts.append(block_text)
        src_s = doc.src_start[s] if doc.src_start else 0
        src_e = doc.src_end[e - 1] if doc.src_end else 0
        spans.append((bid, s, e, start, pos, src_s, src_e, round(score, 6)))
    text = "\n\n".join(parts)
    total = doc.total_text_chars
    # clamp: join separators are counted in len(text) but not in
    # total_text_chars, so a chrome-free page could otherwise dip below 0
    ratio = max(0.0, 1.0 - (len(text) / total)) if total > 0 else 0.0
    return Extraction(
        extracted_text=text,
        spans=spans,
        n_blocks=len(blocks),
        boilerplate_ratio=round(ratio, 6),
        n_nodes=doc.n_nodes,
        total_bytes=doc.total_bytes,
        encoding=doc.encoding,
    )


# --------------------------------------------------------------------------
# Whole-document driver
# --------------------------------------------------------------------------


def extract_document(html: bytes, params: ExtractParams = DEFAULT_PARAMS) -> Extraction:
    """Single-document end-to-end extraction (the golden generator path and
    the per-doc body of the Spark batch path — one implementation)."""
    doc = parse_html(html)
    raw, smoothed = score_nodes(doc, params)
    blocks = run_detector(raw, smoothed, doc.text_len, params)
    return assemble_text(doc, blocks, params)

