from loganalyzer_spark.sources.tables import (  # noqa: F401
    is_table_ref,
    merge_template_lib_sql,
    read_web_pages,
    upsert_template_lib,
)
