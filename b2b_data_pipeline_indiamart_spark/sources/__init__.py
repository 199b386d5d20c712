"""Sources & sinks: CSV with header normalization, resumable ingestion
with a checkpoint manifest, parquet/CSV/SQLite/JDBC sinks."""

from b2b_data_pipeline_indiamart_spark.sources.csv_source import (
    read_csv_normalized,
    to_snake_case,
)
from b2b_data_pipeline_indiamart_spark.sources.checkpoint import (
    load_manifest,
    resumable_ingest,
    save_manifest,
)
from b2b_data_pipeline_indiamart_spark.sources.orc_text_source import (
    read_orc,
    read_text_documents,
    write_orc,
)
from b2b_data_pipeline_indiamart_spark.sources.sinks import (
    compact_parquet,
    write_bucketed,
    write_clustered,
    write_csv,
    write_jdbc,
    write_parquet,
    write_sqlite,
)

__all__ = [
    "read_csv_normalized",
    "to_snake_case",
    "load_manifest",
    "save_manifest",
    "resumable_ingest",
    "read_orc",
    "read_text_documents",
    "write_orc",
    "compact_parquet",
    "write_parquet",
    "write_bucketed",
    "write_clustered",
    "write_csv",
    "write_jdbc",
    "write_sqlite",
]
