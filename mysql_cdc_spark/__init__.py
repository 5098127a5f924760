"""mysql_cdc_spark — a PySpark-native CDC / incremental-ingest engine.

Re-expresses the query & data-processing capabilities of the reference
``rusuly/mysql_cdc`` (a single-threaded Rust binlog client library) as an
idiomatic, horizontally-scalable Spark pipeline:

    binlog files --size-packed tasks--> vectorized Arrow decode (mapInArrow)
      --> change-event DataFrame --> last-writer-wins windowed dedup
      --> salted merge-apply --> Iceberg/parquet MERGE upsert
      --> checkpointed GTID-set/offset ledger (exactly-once, resumable)

Layout
------
- ``gtid``                GTID interval algebra (MySQL GtidSet, MariaDB GtidList)
- ``binlog``              binary decode kernels, frame scan, fixture encoder
- ``pipeline``            ordering/dedup, merge target, ledger, micro-batch replay
- ``operators``           window/dedup/similarity/text/multimodal operators
- ``streaming``           bounded/continuous replay drivers
"""

__version__ = "0.1.0"
