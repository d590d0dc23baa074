from bigdata_retailrocket_recsys_spark.pipelines.corpus import build_corpus
from bigdata_retailrocket_recsys_spark.pipelines.retailrocket import (
    PipelineConfig,
    build_candidates,
    build_features,
    extract_anchors,
    run_events_pipeline,
)

__all__ = [
    "PipelineConfig",
    "build_corpus",
    "build_candidates",
    "build_features",
    "extract_anchors",
    "run_events_pipeline",
]
