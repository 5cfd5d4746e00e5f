from ton_etl_spark.lake.table import LakeTable, Snapshot
from ton_etl_spark.lake.merge import merge_lww

__all__ = ["LakeTable", "Snapshot", "merge_lww"]
