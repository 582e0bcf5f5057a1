from datalakehouse_spark.streaming.jobs import (  # noqa: F401
    events_stream,
    run_ingest_to_table,
    windowed_counts_stream,
)
