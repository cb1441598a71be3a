from distributed_classification_system_spark.functions.kernel import (  # noqa: F401
    CLASSIFY_RESULT,
    classify_expr,
    make_registry_classify_udf,
    score_text,
)
