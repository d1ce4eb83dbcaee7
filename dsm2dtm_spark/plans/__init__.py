from dsm2dtm_spark.plans.dtm_job import (
    DTM_OUTPUT_SCHEMA,
    commit_remaining,
    dtm_transform,
    lineage_metrics,
    resume_remaining,
    run_dtm_job,
)

__all__ = [
    "dtm_transform", "run_dtm_job", "commit_remaining", "resume_remaining", "lineage_metrics", "DTM_OUTPUT_SCHEMA"
]
