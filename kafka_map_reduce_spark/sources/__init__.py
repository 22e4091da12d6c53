from kafka_map_reduce_spark.sources.tables import (
    FAN_OUT_MIN_BYTES,
    TABLE_NAMES,
    Tables,
    fan_out_scan,
    load_table,
    scratch_path,
)

__all__ = [
    "FAN_OUT_MIN_BYTES",
    "TABLE_NAMES",
    "Tables",
    "fan_out_scan",
    "load_table",
    "scratch_path",
]
