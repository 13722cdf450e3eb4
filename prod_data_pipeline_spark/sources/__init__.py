from prod_data_pipeline_spark.sources.manifest import (  # noqa: F401
    commit_snapshot,
    read_snapshot,
    snapshots,
    vacuum,
)
from prod_data_pipeline_spark.sources.readers import (  # noqa: F401
    TABLES,
    load_table,
    read_events_csv,
    read_events_ndjson,
    with_ingestion_date_from_path,
)
from prod_data_pipeline_spark.sources.writers import (  # noqa: F401
    register_curated_table,
    write_curated,
    write_json_report,
)
