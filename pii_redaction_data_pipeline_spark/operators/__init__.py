from pii_redaction_data_pipeline_spark.operators.windows import (
    with_conversation_flags,
)

__all__ = ["with_conversation_flags"]
