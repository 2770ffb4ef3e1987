"""Stage registry — the declarative pipeline compiler.

The reference instantiates its transform pipeline from a YAML list of
``{OpName: {params}}`` via a registry
(reference: mindocr/data/transforms/transforms_factory.py:18-52,
mindocr/postprocess/builder.py:19-45). Here the registry maps stage names
to the in-process steps of :mod:`mindocr_spark.extract_core`, and
``build_pipeline`` composes a stage list, each stage with its own
``ExtractParams``, into one ``html → Extraction`` function that runs
inside the single fused ``mapInPandas``
(:func:`mindocr_spark.operators.stages.map_extract`) — the reference's
run_transforms (transforms_factory.py:55-68) applied per document, with
no intermediate arrays crossing Arrow.
"""

from __future__ import annotations

from typing import Callable

from mindocr_spark import extract_core as core
from mindocr_spark.operators.stages import map_extract

STAGE_REGISTRY: dict[str, Callable] = {
    "parse": core.parse_html,
    "score": core.score_nodes,
    "detect": core.run_detector,
    "assemble": core.assemble_text,
}

#: The canonical plan. A plan must run these stages once each, in order
#: (each consumes the previous one's output); entries differ only in
#: their parameter overrides.
DEFAULT_PLAN = ["parse", "score", "detect", "assemble"]


def _stage_params(
    plan: list[str | dict], params: core.ExtractParams
) -> dict[str, core.ExtractParams]:
    """Resolve ``"name"`` / ``{"name": {overrides}}`` entries to per-stage
    params, rejecting unknown names and plans that are not DEFAULT_PLAN."""
    resolved: dict[str, core.ExtractParams] = {}
    names = []
    for entry in plan:
        if isinstance(entry, dict):
            (name, overrides), = entry.items()
            p = core.ExtractParams(**{**params.__dict__, **(overrides or {})})
        else:
            name, p = entry, params
        if name not in STAGE_REGISTRY:
            raise KeyError(f"unknown stage {name!r}; have {sorted(STAGE_REGISTRY)}")
        names.append(name)
        resolved[name] = p
    if names != DEFAULT_PLAN:
        raise ValueError(
            f"plan must run {DEFAULT_PLAN} once each, in order; got {names}")
    return resolved


def compose(
    plan: list[str | dict] | None = None,
    params: core.ExtractParams = core.DEFAULT_PARAMS,
) -> Callable[[bytes], core.Extraction]:
    """Compose a stage list into one per-document ``html → Extraction``
    function."""
    p = _stage_params(plan or DEFAULT_PLAN, params)
    parse, score, detect, assemble = (STAGE_REGISTRY[n] for n in DEFAULT_PLAN)
    p_score, p_detect, p_assemble = p["score"], p["detect"], p["assemble"]

    def extract(html: bytes) -> core.Extraction:
        doc = parse(html)
        raw, smoothed = score(doc, p_score)
        blocks = detect(raw, smoothed, doc.text_len, p_detect)
        return assemble(doc, blocks, p_assemble)

    return extract


def build_pipeline(
    plan: list[str | dict] | None = None,
    params: core.ExtractParams = core.DEFAULT_PARAMS,
) -> Callable:
    """Compile a stage-name list into a DataFrame transformer: pages →
    extractions in one fused ``mapInPandas``.

    Entries may be ``"name"`` or ``{"name": {param overrides}}`` —
    the YAML shape of the reference's transform lists. The plan is
    checked here, before any DataFrame is built.
    """
    extract = compose(plan, params)
    return lambda df: map_extract(df, extract)
