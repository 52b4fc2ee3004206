from logparserhelper_spark.operators.ordering import stable_order_dedup  # noqa: F401
from logparserhelper_spark.operators.extract import (  # noqa: F401
    SPAN_ARRAY_TYPE,
    make_extract_spans_udf,
    parse_and_explode,
    with_spans,
)
from logparserhelper_spark.operators.normalize import make_normalize_udf, normalize_text  # noqa: F401
from logparserhelper_spark.operators.enrich import bank_dim, enrich  # noqa: F401
