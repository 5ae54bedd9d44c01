"""Expression building blocks (JVM-side, whole-stage-codegen friendly).

``vector`` builds the vector kernels as Spark SQL text (one form per
kernel; callers wrap it in ``F.expr`` or embed it in a larger expression).
``filters`` and ``text`` return :class:`pyspark.sql.Column`. Nothing here
is a Python UDF; UDF-backed helpers live in ``operators/`` where Python is
genuinely required (grouped chunk-merge, model inference).
"""

from server2_vector_search_server_spark.functions.vector import (  # noqa: F401
    cosine_sql,
    dot_sql,
    l2_normalize_sql,
    squared_l2_sql,
)
from server2_vector_search_server_spark.functions.filters import (  # noqa: F401
    where_dict_to_column,
)
