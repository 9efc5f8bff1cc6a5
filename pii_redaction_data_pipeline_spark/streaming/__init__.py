from pii_redaction_data_pipeline_spark.streaming.ingest import (  # noqa: F401
    run_streaming_pipeline,
)
