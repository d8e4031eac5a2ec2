from arangodb_java_parquet_spark.plans.inspect import (  # noqa: F401
    formatted_plan,
    is_python_free,
)
