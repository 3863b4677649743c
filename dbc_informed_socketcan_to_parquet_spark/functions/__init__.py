from dbc_informed_socketcan_to_parquet_spark.functions.bitfield import (
    extract_bits,
    ieee754_float32,
    payload_be_u64,
    payload_le_u64,
    sign_extend,
)
from dbc_informed_socketcan_to_parquet_spark.functions.candump import (
    CANDUMP_REGEX,
    format_candump_line,
    parse_candump_lines,
)
from dbc_informed_socketcan_to_parquet_spark.functions.hashing import md5_long
from dbc_informed_socketcan_to_parquet_spark.functions.timeutil import bucket_ms, epoch_ms

__all__ = [
    "extract_bits",
    "ieee754_float32",
    "payload_be_u64",
    "payload_le_u64",
    "sign_extend",
    "CANDUMP_REGEX",
    "format_candump_line",
    "parse_candump_lines",
    "md5_long",
    "bucket_ms",
    "epoch_ms",
]
