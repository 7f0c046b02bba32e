"""Audited reads + append-only audit log.

Reference S7: plpgsql table functions ``get_dim_patients()`` etc.
(init.sql:170-192) log a READ row to ``audit_log`` before returning the
table, and the ETL writes LOAD rows (scripts/etl.py:75-89). Side effects
don't belong in the planner (SURVEY.md §4), so this is a thin Python
wrapper around the loader plus an append-only parquet sink.
"""

from __future__ import annotations

import datetime as dt
import os
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..config import SCRATCH_DIR
from .loaders import load_table

AUDIT_SCHEMA = T.StructType([
    T.StructField("audit_id", T.StringType()),
    T.StructField("action_type", T.StringType()),
    T.StructField("table_name", T.StringType()),
    T.StructField("user_name", T.StringType()),
    T.StructField("action_timestamp", T.TimestampType()),
    T.StructField("details", T.StringType()),
])


# Serialises appends within one process. Concurrent appends to one
# parquet directory share its ``_temporary/0/`` staging dir, and one job's
# commit deletes the other job's attempt files (observed with concurrent
# ApiServer handler threads: tasks fail with "chmod: cannot access
# .../_temporary/0/_temporary/attempt_...").
_APPEND_LOCK = threading.Lock()


def audit_log_path() -> str:
    return os.path.join(SCRATCH_DIR, "audit_log")


def log_audit(spark: SparkSession, action_type: str, table_name: str,
              user_name: str = "etl_process", details: str = "") -> None:
    """Append one event row (init.sql:156-167 analog). Append-only parquet —
    at scale this is the pattern for any immutable event sink. Appends are
    serialised (``_APPEND_LOCK``), so concurrent callers are safe."""
    row = [(str(uuid.uuid4()), action_type, table_name, user_name,
            dt.datetime.now(dt.timezone.utc).replace(tzinfo=None), details)]
    df = spark.createDataFrame(row, AUDIT_SCHEMA)
    with _APPEND_LOCK:
        df.write.mode("append").parquet(audit_log_path())


def audited_read(spark: SparkSession, sf_dir: str | None, name: str,
                 user_name: str = "api_user") -> DataFrame:
    """READ-audited table access (init.sql:170-192 analog)."""
    log_audit(spark, "READ", name, user_name, f"sf_dir={sf_dir}")
    return load_table(spark, sf_dir, name)


def read_audit_log(spark: SparkSession) -> DataFrame:
    path = audit_log_path()
    if not os.path.exists(path):
        return spark.createDataFrame([], AUDIT_SCHEMA)
    return spark.read.schema(AUDIT_SCHEMA).parquet(path)
