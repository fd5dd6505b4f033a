"""spark-cdc-table: PySpark-native CDC analytics engine.

Rebuilds the capabilities of the ``madbluecat/mysql-cdc-table`` MySQL
storage-engine plugin (reference at /root/reference) idiomatically on
Spark: a CDC changelog data model (``__op``/``__gtid``/``__tm`` metadata
columns, reference binlog_table_reader.cc:126-365), a batch + streaming
CDC source over Debezium-style envelopes, derived CDC operators
(latest-state, point-in-time snapshot, update pairing), the full
relational query surface via Spark SQL/Catalyst, and LLM-data-pipeline
extensions (dedup, similarity search, text analysis, multimodal columns)
designed for 100 TB scale.
"""

# first: every Python worker that unpickles an engine object imports the
# package, and from then on its per-call import-cache reset stays cheap
from mysql_cdc_table_spark import worker_imports  # noqa: F401
from mysql_cdc_table_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
