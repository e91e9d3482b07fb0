"""Multi-entity dispatch over one shared change stream.

The reference's change envelope names its destination —
``targetDomain/targetEntity`` fields on the Avro record
(entity/src/main/java/io/zyient/cdc/entity/model/AvroChangeRecord.java:42-99)
— and the processor resolves each record to that entity's schema + DataStore
through the domain→entity registry hierarchy
(entity/.../manager/SchemaManager.java:44-445). Messages with no resolvable
target go to the error route (MessageProcessor.java:216-225).

Spark-first realization: ONE event log, ONE ``CdcEngine`` per entity (own
table, lease, manifests, DLQ), each replaying with the target filter pushed
through the existing ingest-pipeline hook (``replay(transform=...)``). The
filter is a plain column predicate, so Catalyst pushes it into every epoch's
parquet scan (PushedFilters) — each entity's run READS only its own rows;
there is no up-front splitting job and no extra shuffle. The driver loop is
O(entities), not O(events); entity replays are independent and could run
from separate drivers (each holds its own table lease).

Unroutable rows (null or unregistered target) are captured once, per-run
overwrite (idempotent rerun, same convention as the engine's quarantine).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cdc_core_spark.engine import CdcEngine, event_schema


def route_replay(
    spark: SparkSession,
    events_path: str,
    engines: dict[str, CdcEngine],
    sources: dict | None = None,
    entity_col: str = "target_entity",
    unroutable_dir: str | None = None,
    **replay_kw,
) -> None:
    """Replay one mixed-entity event log into every registered engine.

    ``engines`` maps target-entity name → its ``CdcEngine``; ``sources``
    optionally maps the same names to initial-load DataFrames. Extra
    ``replay_kw`` (``lease``, a caller ``transform`` — composed AFTER the
    routing filter) pass through to each engine's ``replay``.
    """
    sources = sources or {}
    user_transform = replay_kw.pop("transform", None)

    # the log is read through schemas, never footer-inferred: each engine
    # reads its event_schema plus the entity column, the unroutable scan
    # the union of those
    routing = {entity_col: "string"}

    if unroutable_dir is not None:
        cols = {}
        for eng in engines.values():
            for f in StructType.fromDDL(
                    event_schema(eng.registry, eng.entity, routing)).fields:
                cols.setdefault(f.name, f)
        events = (spark.read.schema(StructType(list(cols.values())))
                  .parquet(events_path))
        known = list(engines)
        bad = events.filter(
            F.col(entity_col).isNull() | ~F.col(entity_col).isin(known))
        from cdc_core_spark import fsutil
        (bad.withColumn("error_reason", F.lit("unroutable_entity"))
            .write.mode("overwrite")
            .options(**fsutil.parquet_write_options())
            .parquet(unroutable_dir))

    for name, eng in engines.items():
        def routed(df, _n=name):
            out = df.filter(F.col(entity_col) == _n)
            return user_transform(out) if user_transform is not None else out
        routed.event_columns = routing

        eng.replay(events_path, source_df=sources.get(name),
                   transform=routed, **replay_kw)


def unroutable_df(spark: SparkSession, unroutable_dir: str):
    """Read the unroutable DLQ. Probes by READING (scheme-aware — an
    os.path check would report an s3a://…/hdfs://… DLQ as absent and
    silently hide quarantined events from the audit). If no run has
    written one yet, returns an empty frame carrying only
    ``error_reason`` — the event payload columns are whatever the
    unroutable events carried, unknowable before any exist, so callers
    selecting payload columns must guard on emptiness."""
    from pyspark.errors import AnalysisException
    try:
        return spark.read.parquet(unroutable_dir)
    except AnalysisException:
        return spark.createDataFrame([], schema="error_reason string")
