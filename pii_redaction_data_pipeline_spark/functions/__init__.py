from pii_redaction_data_pipeline_spark.functions.scrub import (
    scrub_frame,
    scrub_text_value,
)
from pii_redaction_data_pipeline_spark.functions.langid import (
    langid_frame,
    make_langid_udf,
)
from pii_redaction_data_pipeline_spark.functions.perplexity import (
    CharTrigramLM,
    default_model,
    make_ppl_udf,
    train_char_trigram_lm,
)
from pii_redaction_data_pipeline_spark.functions.quality import (
    repetition_frac_series,
)

__all__ = [
    "scrub_frame",
    "scrub_text_value",
    "langid_frame",
    "make_langid_udf",
    "CharTrigramLM",
    "default_model",
    "make_ppl_udf",
    "train_char_trigram_lm",
    "repetition_frac_series",
]
