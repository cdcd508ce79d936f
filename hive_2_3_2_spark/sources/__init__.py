"""Sources & sinks (SURVEY §2.2): file formats, partitioned/bucketed
writes, INSERT OVERWRITE semantics, MERGE emulation."""

from hive_2_3_2_spark.sources.readers import (
    read_avro,
    read_csv,
    read_json,
    read_jdbc,
    read_orc,
    read_parquet,
    read_regex_text,
    read_sequencefile,
    read_text,
    write_avro,
)
from hive_2_3_2_spark.sources.writers import (
    delete_where,
    merge_upsert,
    update_where,
    write_bucketed_table,
    write_partitioned,
)

__all__ = [
    "delete_where",
    "merge_upsert",
    "read_avro",
    "read_csv",
    "read_jdbc",
    "read_json",
    "read_orc",
    "read_parquet",
    "read_regex_text",
    "read_sequencefile",
    "read_text",
    "update_where",
    "write_avro",
    "write_bucketed_table",
    "write_partitioned",
]
