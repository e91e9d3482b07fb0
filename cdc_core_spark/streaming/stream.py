"""Structured Streaming ingest — the continuous-tail variant of the epoch loop.

The reference's processor loop (MessageProcessor.doRun, :144-193) is a
pull-based microbatch consumer; Spark's native equivalent is a streaming
source + ``foreachBatch``. Each microbatch flows through the exact same
engine path (quarantine → registry → LWW → merge → manifest commit), so
batch and streaming share one implementation — the Kappa-architecture shape.

Exactly-once: Spark's checkpoint gives at-least-once batch redelivery after
restart; the engine's committed-epoch check + idempotent merge upgrade it to
exactly-once effects (same mechanism as the batch path — re-applying a
committed batch id is a no-op).

At scale, swap the file source for ``spark.readStream.format("kafka")`` —
the foreachBatch body is unchanged (the reference's BaseKafkaConsumer /
BaseChronicleConsumer duality collapses into the source option).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_core_spark import fsutil, synth
from cdc_core_spark.engine import CdcEngine, event_schema
from cdc_core_spark.registry import SchemaRegistry

#: the event-log read schema of the synthetic ``source_repos`` entity
#: (``engine.event_schema`` over ``synth.registry_docs``): the default of
#: ``build_stream_source`` and the schema of the registry-less streaming
#: operators below. ``stream_ingest`` reads through its engine's own
#: entity's schema.
EVENT_DDL = event_schema(SchemaRegistry.from_docs(synth.registry_docs()),
                         "source_repos")


def kafka_source_options(bootstrap_servers: str, topic: str,
                         starting_offsets: str = "earliest",
                         max_offsets_per_trigger: int | None = None,
                         **extra: str) -> dict[str, str]:
    """Kafka reader options mapping the reference consumer's contract
    (BaseKafkaConsumer.nextBatch/seek, messaging/.../kafka/
    BaseKafkaConsumer.java:222-248, :159-190):

    * seek-to-committed on init → ``startingOffsets`` + Spark's checkpointed
      offsets (the checkpoint IS the committed offset store);
    * ``batchSize`` per poll → ``maxOffsetsPerTrigger``;
    * at-least-once redelivery tolerated → ``failOnDataLoss=false`` (the
      engine's committed-epoch check + idempotent merge absorb resends).
    """
    opts = {"kafka.bootstrap.servers": bootstrap_servers,
            "subscribe": topic,
            "startingOffsets": starting_offsets,
            "failOnDataLoss": "false"}
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    opts.update(extra)
    return opts


def queue_source_options(queue_url: str, connector_format: str,
                         batch_size: int | None = None,
                         visibility_timeout_s: int | None = None,
                         wait_time_s: int | None = None,
                         region: str | None = None,
                         **extra: str) -> dict[str, str]:
    """Generic message-queue receiver settings — interface parity with the
    reference's SQS / EventHub receivers (messaging/.../aws/
    AwsSQSMessageReceiverSettings.java: queue url + batchSize +
    visibilityTimeout + receive wait; the EventHub settings carry the same
    shape under different names). Spark ships no queue source, so the
    connector is named explicitly (``connector_format`` = the DataSourceV2
    short name of whichever connector jar the deployment carries, e.g. an
    SQS or EventHubs spark connector) and the canonical settings map onto
    its option keys; connector-specific extras pass through verbatim."""
    opts: dict[str, str] = {"format": connector_format, "queueUrl": queue_url}
    if batch_size is not None:
        opts["maxBatchSize"] = str(batch_size)          # batchSize analog
    if visibility_timeout_s is not None:
        opts["visibilityTimeout"] = str(visibility_timeout_s)
    if wait_time_s is not None:
        opts["waitTimeSeconds"] = str(wait_time_s)
    if region is not None:
        opts["region"] = region
    opts.update(extra)
    return opts


def build_stream_source(spark, source: str = "files",
                        events_path: str | None = None,
                        max_files_per_trigger: int = 1,
                        kafka_options: dict[str, str] | None = None,
                        queue_options: dict[str, str] | None = None,
                        event_ddl: str = EVENT_DDL):
    """Build the streaming envelope DataFrame for either source kind — the
    foreachBatch body downstream is source-agnostic (the reference's
    BaseKafkaConsumer / BaseChronicleConsumer duality collapses into this
    option). ``files`` reads the event log through ``event_ddl`` (an
    ``engine.event_schema``). ``kafka`` decodes the record value from the
    Avro wire format (AvroChangeRecord.parse analog); requires the
    spark-sql-kafka connector jar at runtime — absent from this container,
    so the branch is unit-tested up to source resolution."""
    if source == "files":
        if events_path is None:
            raise ValueError("events_path is required for the files source")
        return _read_event_stream(spark, events_path, event_ddl,
                                  max_files_per_trigger=max_files_per_trigger)
    if source == "kafka":
        from cdc_core_spark.functions.avro_codec import from_avro_envelope
        reader = spark.readStream.format("kafka")
        for k, v in (kafka_options or {}).items():
            reader = reader.option(k, v)
        return from_avro_envelope(reader.load().select("value"))
    if source == "queue":
        # SQS/EventHub-style receiver (see queue_source_options): resolve
        # the named connector, hand it the receiver settings, decode the
        # Avro-enveloped message body — identical downstream contract to
        # the kafka branch (the reference's receiver plurality collapses
        # into this option, as BaseKafkaConsumer/BaseSQSConsumer share
        # MessageReceiver). No queue connector jar ships in this container,
        # so the branch is unit-tested up to source resolution.
        from cdc_core_spark.functions.avro_codec import from_avro_envelope
        if not queue_options or "format" not in queue_options:
            raise ValueError(
                "queue source requires queue_options with a 'format' "
                "connector name (see queue_source_options)")
        reader = spark.readStream.format(queue_options["format"])
        for k, v in queue_options.items():
            if k != "format":
                reader = reader.option(k, v)
        return from_avro_envelope(reader.load().select("value"))
    raise ValueError(f"unknown stream source {source!r}")


def stream_epoch_base(engine: CdcEngine, checkpoint_dir: str) -> int:
    """Pin the stable ``batch_id → checkpoint_epoch`` offset for a streaming
    tail. Spark numbers microbatches from 0 PER CHECKPOINT while the table's
    ``committed_epochs()`` ledger is table-global — using ``batch_id`` as the
    epoch id against a table bootstrapped by a batch ``replay`` (epochs 0..k
    already committed) would make the exactly-once skip treat the FIRST new
    microbatches as redeliveries and silently drop them. The base is chosen
    once per checkpoint dir (``max(committed)+1`` for a fresh checkpoint, 0
    if none) and persisted in a ``_``-prefixed marker INSIDE the checkpoint
    dir, so after a restart the redelivered batch ids map to the SAME epochs
    they committed under. A pre-existing checkpoint without a marker keeps
    the legacy base of 0 — its batch ids already committed under that
    mapping, so shifting it would double-apply."""
    root = checkpoint_dir.rstrip("/")
    marker = root + "/_cdc_epoch_base.json"
    spark = engine.spark
    if fsutil.exists(spark, marker):
        return int(fsutil.read_json(spark, marker)["epoch_base"])
    if fsutil.exists(spark, root + "/offsets"):
        base = 0  # legacy checkpoint created before the marker existed
    else:
        committed = engine.table.committed_epochs()
        base = (max(committed) + 1) if committed else 0
    fsutil.write_json(spark, marker, {"epoch_base": base})
    return base


def stream_ingest(engine: CdcEngine, events_path: str | None, checkpoint_dir: str,
                  max_files_per_trigger: int = 1,
                  available_now: bool = True,
                  source: str = "files",
                  kafka_options: dict[str, str] | None = None,
                  queue_options: dict[str, str] | None = None):
    """Tail the event stream (file source, Kafka, or a named queue connector)
    and apply each microbatch through the engine. The file source reads
    through the engine entity's ``event_schema``. ``availableNow`` drains
    the backlog and stops (test/backfill mode); disable it for a
    continuous tail."""
    stream = build_stream_source(
        engine.spark, source=source, events_path=events_path,
        max_files_per_trigger=max_files_per_trigger,
        kafka_options=kafka_options, queue_options=queue_options,
        event_ddl=(event_schema(engine.registry, engine.entity)
                   if source == "files" else EVENT_DDL))
    epoch_base = stream_epoch_base(engine, checkpoint_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        epoch = epoch_base + int(batch_id)
        if epoch in engine.table.committed_epochs():
            return  # redelivered batch after restart — exactly-once skip
        # an empty batch still commits: apply_epoch records its epoch with
        # the empty-epoch marker row, as replay does for an empty epoch
        engine.apply_epoch(batch_df, epoch)

    q = (stream.writeStream
         .foreachBatch(process)
         .option("checkpointLocation", checkpoint_dir))
    q = q.trigger(availableNow=True) if available_now else q.trigger(processingTime="5 seconds")
    query = q.start()
    if available_now:
        query.awaitTermination()
    return query  # continuous mode: caller owns stop()/awaitTermination()


def _read_event_stream(spark: SparkSession, events_path: str,
                       event_ddl: str = EVENT_DDL,
                       max_files_per_trigger: int | None = None) -> DataFrame:
    """THE event-log stream source (shared by ``build_stream_source`` and
    every streaming operator below, so the basePath / epoch-subdir glob
    contract is defined once): a file stream over the partitioned
    event-log directory, read through ``event_ddl``."""
    reader = (spark.readStream
              .schema(event_ddl)
              .option("basePath", events_path))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(events_path + "/*")


def _drain_to_memory(df: DataFrame, checkpoint_dir: str, sink_table: str,
                     output_mode: str) -> None:
    """Drain the backlog with availableNow into the in-memory ``sink_table``
    — the shared test-harness sink; production swaps the format for a real
    sink and the trigger for an interval."""
    query = (df.writeStream
             .outputMode(output_mode)
             .format("memory").queryName(sink_table)
             .option("checkpointLocation", checkpoint_dir)
             .trigger(availableNow=True)
             .start())
    query.awaitTermination()


def keyed_read_state_stream(spark: SparkSession, events_path: str,
                            checkpoint_dir: str, sink_table: str) -> None:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-key read lineage (processed tx watermark + event count), the
    EntityReadState analog (entity/.../model/EntityReadState.java:32-56 —
    ``{processedTxId, eventCount, eventErrorCount}`` per entity).

    State is a single (max_seq, n_events, n_errors) tuple per (repo, path);
    each microbatch folds its Arrow batches into the state and emits the
    updated row — downstream consumers always see the latest lineage per key.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_ddl = ("repo string, path string, processed_seq bigint, "
               "n_events bigint, n_errors bigint")
    state_ddl = "processed_seq bigint, n_events bigint, n_errors bigint"

    def track(key, pdfs, state: GroupState):
        import pandas as pd
        seq, n, err = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            # event_seq is nullable in EVENT_DDL: an all-null batch for a key
            # gives max()=NaN, and int(NaN) would kill the streaming query
            mx = pd.to_numeric(pdf["event_seq"], errors="coerce").max()
            if pd.notna(mx):
                seq = max(seq, int(mx))
            ok = pdf["op"].isin([3, 4, 5])
            n += int(ok.sum())
            err += int((~ok).sum())
        state.update((seq, n, err))
        yield pd.DataFrame({"repo": [key[0]], "path": [key[1]],
                            "processed_seq": [seq], "n_events": [n],
                            "n_errors": [err]})

    stream = (_read_event_stream(spark, events_path)
              .filter(F.col("repo").isNotNull() & F.col("path").isNotNull()))
    _drain_to_memory(
        stream.groupBy("repo", "path")
        .applyInPandasWithState(track, out_ddl, state_ddl, "update",
                                GroupStateTimeout.NoTimeout),
        checkpoint_dir, sink_table, "update")


def windowed_op_counts_stream(spark: SparkSession, events_path: str,
                              checkpoint_dir: str, sink_table: str,
                              window: str = "1 hour",
                              watermark: str = "2 hours",
                              slide: str | None = None) -> None:
    """Event-time windowed op counters over the change stream with a
    watermark bounding late-data state (the streaming form of the
    EventProcessorMetrics counters; late events beyond the watermark are
    dropped from the window state — replay correctness does NOT depend on
    this path, the LWW merge is order-insensitive, SURVEY §2.6).
    ``slide`` < ``window`` turns the tumbling windows into overlapping
    sliding ones (each event lands in window/slide windows; state grows by
    the same factor, still watermark-bounded).

    Drains the backlog with availableNow and leaves results in the in-memory
    ``sink_table``; with a real deployment the sink becomes a metrics store
    and the trigger a continuous interval.
    """
    win = (F.window("event_time", window) if slide is None
           else F.window("event_time", window, slide))
    agg = (_read_event_stream(spark, events_path)
           .withColumn("event_time", F.timestamp_millis(F.col("op_ts")))
           .withWatermark("event_time", watermark)
           .groupBy(win.alias("w"), "op")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.max("event_seq").alias("max_event_seq"))
           .select(F.col("w.start").alias("win_start"), "op",
                   "n_events", "max_event_seq"))
    _drain_to_memory(agg, checkpoint_dir, sink_table, "append")


def dedup_event_stream(spark: SparkSession, events_path: str,
                       checkpoint_dir: str, sink_table: str,
                       watermark: str = "2 hours",
                       keys: tuple = ("repo", "path", "op_ts",
                                      "event_seq")) -> None:
    """Streaming EXACT dedup of duplicate deliveries — the reference
    consumer's message-id dedupe (``offsetMap`` in
    messaging/.../kafka/BaseKafkaConsumer.java:222-248) as a streaming
    operator, and the streaming arm of the dedup family:
    ``dropDuplicatesWithinWatermark`` keeps ONE row per delivery key while
    the event-time watermark bounds the dedup state — at 100 TB the state
    store holds only the watermark window's keys, never the stream's
    history (an unbounded ``dropDuplicates`` would grow state forever).
    Late duplicates beyond the watermark are the documented residue; the
    batch engine path needs no such state at all — its per-epoch LWW merge
    is set-based and order-insensitive, so this operator serves pipelines
    that want a clean stream BEFORE any stateful consumer.

    Drains the backlog with availableNow into the in-memory ``sink_table``
    (same test harness shape as the other streaming ops; production swaps
    the sink for a real one and the trigger for an interval)."""
    deduped = (_read_event_stream(spark, events_path)
               .withColumn("event_time", F.timestamp_millis(F.col("op_ts")))
               .withWatermark("event_time", watermark)
               .dropDuplicatesWithinWatermark(list(keys)))
    _drain_to_memory(deduped, checkpoint_dir, sink_table, "append")
