"""The fused extraction stage: parse→score→detect→assemble in ONE narrow
``mapInPandas``.

The Python inside the stage loops over documents **within an Arrow
batch** (the reference's own per-batch loop shape,
reference: mindocr/postprocess/det_db_postprocess.py:77-85); per-node work
is numpy-vectorized inside :mod:`mindocr_spark.extract_core`. No per-row
Python UDFs anywhere, and no intermediate arrays cross Arrow: the
per-document function (``extract_document``, or a plan composed by
:func:`mindocr_spark.operators.registry.build_pipeline`) runs whole
inside the batch loop.

Failure semantics: a document that raises marks ``failed=true`` and flows
through with empty output instead of killing the job — the reference's
``skip=True`` short-circuit (reference:
deploy/py_infer/src/parallel/module/common/decode_node.py + skip checks in
every node's process()).
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial
from typing import Callable

import pandas as pd

from mindocr_spark import extract_core as core

# --------------------------------------------------------------------------
# Output schema (DDL string — the explicit column contract, the analog of
# the reference's output_columns declarations,
# reference: configs/det/dbnet/db_r50_icdar15.yaml:111-114)
# --------------------------------------------------------------------------

SPANS_DDL = (
    "array<struct<block_id:int,node_start:int,node_end:int,"
    "char_start:bigint,char_end:bigint,src_start:bigint,src_end:bigint,"
    "score:double>>"
)

EXTRACT_SCHEMA = (
    "url string, warc_ts timestamp, lang string, extracted_text string, "
    f"spans {SPANS_DDL}, n_blocks int, boilerplate_ratio double, "
    "n_nodes int, total_bytes bigint, encoding string, failed boolean"
)


def map_extract(df, extract: Callable[[bytes], core.Extraction]):
    """pages → final extractions, running ``extract`` on every page's
    html inside one ``mapInPandas``. Catalyst prunes the scan to exactly
    (url, warc_ts, html, lang)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            # column-wise assembly: ~10x cheaper than a list of dicts
            # for the conversion back to Arrow
            texts = [""] * n
            spans: list = [[]] * n
            n_blocks = [0] * n
            ratio = [0.0] * n
            n_nodes = [0] * n
            total_bytes = [0] * n
            encoding = ["utf-8"] * n
            failed = [False] * n
            for i, html in enumerate(pdf["html"]):
                try:
                    ex = extract(bytes(html))
                    texts[i] = ex.extracted_text
                    spans[i] = [
                        dict(block_id=b, node_start=s, node_end=e,
                             char_start=cs, char_end=ce, src_start=ss,
                             src_end=se, score=sc)
                        for b, s, e, cs, ce, ss, se, sc in ex.spans
                    ]
                    n_blocks[i] = ex.n_blocks
                    ratio[i] = ex.boilerplate_ratio
                    n_nodes[i] = ex.n_nodes
                    total_bytes[i] = ex.total_bytes
                    encoding[i] = ex.encoding
                except Exception:
                    total_bytes[i] = len(html or b"")
                    failed[i] = True
            yield pd.DataFrame({
                "url": pdf["url"].values, "warc_ts": pdf["warc_ts"].values,
                "lang": pdf["lang"].values, "extracted_text": texts,
                "spans": spans, "n_blocks": n_blocks,
                "boilerplate_ratio": ratio, "n_nodes": n_nodes,
                "total_bytes": total_bytes, "encoding": encoding,
                "failed": failed,
            })

    return df.select("url", "warc_ts", "html", "lang").mapInPandas(
        fn, schema=EXTRACT_SCHEMA
    )


def extract_stage(df, params: core.ExtractParams = core.DEFAULT_PARAMS):
    """pages → final extractions with :func:`extract_core.extract_document`
    (the production path: zero shuffles)."""
    return map_extract(df, partial(core.extract_document, params=params))
