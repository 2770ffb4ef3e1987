"""operators — Arrow-batched pipeline stages over the pages table.

One execution shape, one spec (:mod:`mindocr_spark.extract_core`): a
single ``mapInPandas`` runs parse→score→detect→assemble per document
inside each Arrow batch (:func:`mindocr_spark.operators.stages.extract_stage`).
Zero shuffles — whole-pipeline per task, the Spark analog of the
reference's whole-pipeline-per-process executor
(reference: deploy/py_infer/src/parallel/parallel_pipeline.py:39-67) with
the process boundaries erased. The stage registry
(:func:`mindocr_spark.operators.registry.build_pipeline`, mirroring the
reference's transform list, mindocr/data/transforms/transforms_factory.py:18-52)
composes per-stage parameter overrides into that same fused stage.
"""

from mindocr_spark.operators.stages import EXTRACT_SCHEMA, extract_stage
from mindocr_spark.operators.registry import STAGE_REGISTRY, build_pipeline

__all__ = ["EXTRACT_SCHEMA", "extract_stage", "STAGE_REGISTRY", "build_pipeline"]
