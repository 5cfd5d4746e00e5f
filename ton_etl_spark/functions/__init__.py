from ton_etl_spark.functions.tokens import with_token_validation
from ton_etl_spark.functions.debezium import decode_debezium_decimal_udf
from ton_etl_spark.functions.emulator import MissingLibraryError, run_get_method

__all__ = [
    "with_token_validation",
    "decode_debezium_decimal_udf",
    "MissingLibraryError",
    "run_get_method",
]
