"""Structured Streaming ingest: tail the event-log dir as a file stream,
converge to the same final state as the batch replay / oracle."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from cdc_core_spark.engine import CdcEngine
from cdc_core_spark.streaming.stream import (
    keyed_read_state_stream, stream_ingest, windowed_op_counts_stream)

from tests.conftest import assert_final_equal


def test_stream_ingest_converges(spark, t1, registry, tmp_path):
    """The stream converges to the oracle, and every micro-batch —
    including those carrying in-band DDL — publishes ONE snapshot: the
    schema change lands with the batch's data."""
    eng = CdcEngine(spark, str(tmp_path / "eng"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.initial_load(src, "1.0")
    loaded = eng.table.latest().version
    stream_ingest(eng, f'{t1["dir"]}/change_events', str(tmp_path / "ckpt"),
                  max_files_per_trigger=1, available_now=True)
    got = eng.read_final_with_sha().toPandas()
    assert_final_equal(got, t1["expected"])
    snaps = [eng.table.snapshot(v)
             for v in range(loaded + 1, eng.table.latest().version + 1)]
    assert len(snaps) == len(glob.glob(
        f'{t1["dir"]}/change_events/checkpoint_epoch=*'))
    # no metadata-only snapshot: every one carries a batch's manifests
    assert all(s.manifests for s in snaps)
    assert snaps[-1].props["schema_version"] == "2.1"


def test_windowed_op_counts_with_watermark(spark, t1, tmp_path):
    """Watermarked tumbling-window streaming agg: every window the stream
    emits (append mode = closed windows only) must equal the batch
    computation of the same window; the open tail past the watermark is
    legitimately withheld."""
    events_path = f'{t1["dir"]}/change_events'
    windowed_op_counts_stream(spark, events_path, str(tmp_path / "ckpt"),
                              sink_table="win_counts",
                              window="1 hour", watermark="2 hours")
    emitted = spark.table("win_counts").toPandas()
    assert len(emitted) > 0, "no closed windows emitted"

    batch = (spark.read.parquet(events_path)
             .withColumn("event_time", F.timestamp_millis(F.col("op_ts")))
             .groupBy(F.window("event_time", "1 hour").alias("w"), "op")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.max("event_seq").alias("max_event_seq"))
             .select(F.col("w.start").alias("win_start"), "op",
                     "n_events", "max_event_seq")).toPandas()
    key = ["win_start", "op"]
    merged = emitted.merge(batch, on=key, suffixes=("_s", "_b"), how="left")
    assert merged["n_events_b"].notna().all(), "stream emitted unknown window"
    assert (merged["n_events_s"] == merged["n_events_b"]).all()
    assert (merged["max_event_seq_s"] == merged["max_event_seq_b"]).all()


def test_windowed_op_counts_sliding(spark, t1, tmp_path):
    """slide < window: overlapping windows; every emitted (closed) window
    equals the batch computation, and each event contributes to
    window/slide = 2 windows (total stream counts reflect that)."""
    events_path = f'{t1["dir"]}/change_events'
    windowed_op_counts_stream(spark, events_path, str(tmp_path / "ckpt"),
                              sink_table="win_counts_slide",
                              window="2 hours", watermark="4 hours",
                              slide="1 hour")
    emitted = spark.table("win_counts_slide").toPandas()
    assert len(emitted) > 0, "no closed windows emitted"
    batch = (spark.read.parquet(events_path)
             .withColumn("event_time", F.timestamp_millis(F.col("op_ts")))
             .groupBy(F.window("event_time", "2 hours", "1 hour").alias("w"),
                      "op")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.max("event_seq").alias("max_event_seq"))
             .select(F.col("w.start").alias("win_start"), "op",
                     "n_events", "max_event_seq")).toPandas()
    merged = emitted.merge(batch, on=["win_start", "op"],
                           suffixes=("_s", "_b"), how="left")
    assert merged["n_events_b"].notna().all(), "stream emitted unknown window"
    assert (merged["n_events_s"] == merged["n_events_b"]).all()
    # overlap factor: distinct window starts ≈ 2x the tumbling count
    tumb = (spark.read.parquet(events_path)
            .withColumn("event_time", F.timestamp_millis(F.col("op_ts")))
            .select(F.window("event_time", "2 hours").alias("w"))
            .distinct().count())
    slid = len(batch.drop_duplicates(["win_start"]))
    assert slid > tumb


def test_keyed_read_state_stream(spark, t1, tmp_path):
    """applyInPandasWithState per-key lineage: after draining the backlog,
    the latest emitted state per key equals the batch per-key aggregate."""
    events_path = f'{t1["dir"]}/change_events'
    keyed_read_state_stream(spark, events_path, str(tmp_path / "ckpt"),
                            sink_table="read_state")
    emitted = spark.table("read_state").toPandas()
    assert len(emitted) > 0
    # update-mode memory sink appends every emission; latest = max processed_seq
    latest = (emitted.sort_values(["processed_seq", "n_events"])
              .groupby(["repo", "path"], as_index=False).tail(1))

    batch = (spark.read.parquet(events_path)
             .filter(F.col("repo").isNotNull() & F.col("path").isNotNull())
             .groupBy("repo", "path")
             .agg(F.max("event_seq").alias("processed_seq"),
                  F.sum(F.col("op").isin(3, 4, 5).cast("long")).alias("n_events"),
                  F.sum((~F.col("op").isin(3, 4, 5)).cast("long")).alias("n_errors"))
             ).toPandas()
    m = latest.merge(batch, on=["repo", "path"], suffixes=("_s", "_b"))
    assert len(m) == len(batch) == len(latest)
    for c in ("processed_seq", "n_events", "n_errors"):
        assert (m[f"{c}_s"] == m[f"{c}_b"]).all(), c


def test_stream_restart_is_exactly_once(spark, t1, registry, tmp_path):
    """Run the stream twice against the same engine + checkpoint: second run
    has nothing new and must not change state (manifest count stable)."""
    eng = CdcEngine(spark, str(tmp_path / "eng"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.initial_load(src, "1.0")
    stream_ingest(eng, f'{t1["dir"]}/change_events', str(tmp_path / "ckpt"))
    n_manifests = len(eng.table.all_manifests())
    state1 = eng.read_final_with_sha().toPandas()
    stream_ingest(eng, f'{t1["dir"]}/change_events', str(tmp_path / "ckpt"))
    assert len(eng.table.all_manifests()) == n_manifests
    state2 = eng.read_final_with_sha().toPandas()
    assert_final_equal(state2, state1)


def test_kafka_source_options_contract():
    from cdc_core_spark.streaming.stream import kafka_source_options

    opts = kafka_source_options("broker:9092", "cdc.events",
                                max_offsets_per_trigger=50000,
                                **{"kafka.security.protocol": "SSL"})
    assert opts["kafka.bootstrap.servers"] == "broker:9092"
    assert opts["subscribe"] == "cdc.events"
    assert opts["startingOffsets"] == "earliest"
    assert opts["failOnDataLoss"] == "false"          # engine absorbs resends
    assert opts["maxOffsetsPerTrigger"] == "50000"    # batchSize analog
    assert opts["kafka.security.protocol"] == "SSL"


def test_kafka_branch_reaches_source_resolution(spark):
    """No broker or spark-sql-kafka jar in this container: the kafka branch
    must build the reader and fail at SOURCE RESOLUTION (proving the
    plumbing is wired), not at our own code."""
    import pytest
    from cdc_core_spark.streaming.stream import (build_stream_source,
                                                 kafka_source_options)

    with pytest.raises(Exception, match="(?i)kafka"):
        build_stream_source(spark, source="kafka",
                            kafka_options=kafka_source_options("b:9092", "t"))
    with pytest.raises(ValueError, match="unknown stream source"):
        build_stream_source(spark, source="pulsar")


def test_parse_s3_events_filters_and_shreds(spark):
    import json
    from cdc_core_spark.sources.s3_events import parse_s3_events

    doc = {"Records": [
        {"eventName": "ObjectCreated:Put",
         "eventTime": "2024-01-01T00:00:00.000Z",
         "s3": {"bucket": {"name": "b1"},
                "object": {"key": "in/a.parquet", "size": 123}}},
        {"eventName": "ObjectRemoved:Delete",
         "eventTime": "2024-01-01T00:00:01.000Z",
         "s3": {"bucket": {"name": "b1"},
                "object": {"key": "in/gone.parquet", "size": 1}}},
    ]}
    df = spark.createDataFrame([(json.dumps(doc),)], "value string")
    got = parse_s3_events(df).collect()
    assert len(got) == 1  # the delete event is dropped
    assert (got[0]["bucket"], got[0]["key"], got[0]["size_bytes"]) == \
        ("b1", "in/a.parquet", 123)


def test_s3_event_ingest_converges(spark, tmp_path):
    """Notification-driven ingest: the engine scans ONLY notified objects per
    microbatch (no directory listing) and converges to the LWW state."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from cdc_core_spark.registry import SchemaRegistry
    from cdc_core_spark.sources.s3_events import s3_event_ingest

    reg = SchemaRegistry.from_docs([{
        "entity": "source_repos", "major": 1, "minor": 0,
        "fields": [
            {"name": "repo", "type": "string", "nullable": False, "key": True},
            {"name": "path", "type": "string", "nullable": False, "key": True},
            {"name": "content", "type": "string", "nullable": True},
        ]}])
    eng = CdcEngine(spark, str(tmp_path / "state"), reg, n_buckets=4)
    eng.initial_load(spark.createDataFrame(
        [("r1", "p1", "c0")], "repo string, path string, content string"))

    obj_dir = tmp_path / "objects"
    obj_dir.mkdir()
    sch = pa.schema([("op", pa.int64()), ("repo", pa.string()),
                     ("path", pa.string()), ("content", pa.string()),
                     ("op_ts", pa.int64()), ("event_seq", pa.int64()),
                     ("schema_version", pa.string())])

    def obj(name, rows):
        cols = list(zip(*rows))
        pq.write_table(pa.table(
            {f.name: list(c) for f, c in zip(sch, cols)}, schema=sch),
            str(obj_dir / name))

    obj("ev1.parquet", [(3, "r1", "pA", "c1", 10, 1, "1.0"),
                        (3, "r1", "pB", "cB", 11, 2, "1.0")])
    obj("ev2.parquet", [(4, "r1", "pA", "c2", 20, 3, "1.0"),
                        (5, "r1", "pB", None, 21, 4, "1.0")])

    def notif(key):
        return json.dumps({"Records": [
            {"eventName": "ObjectCreated:Put",
             "eventTime": "2024-01-01T00:00:00.000Z",
             "s3": {"bucket": {"name": "b"},
                    "object": {"key": key, "size": 1}}}]})

    ndir = tmp_path / "notifs"
    ndir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    resolver = lambda b, k: str(obj_dir / k)  # noqa: E731

    # batch 1 arrives, then batch 2 — two stream drains share the checkpoint
    (ndir / "n1.json").write_text(notif("ev1.parquet"))
    s3_event_ingest(eng, str(ndir), ckpt, resolver=resolver)
    assert {r["path"]: r["content"] for r in eng.read_final().collect()} == \
        {"p1": "c0", "pA": "c1", "pB": "cB"}

    (ndir / "n2.json").write_text(notif("ev2.parquet"))
    s3_event_ingest(eng, str(ndir), ckpt, resolver=resolver)
    assert {r["path"]: r["content"] for r in eng.read_final().collect()} == \
        {"p1": "c0", "pA": "c2"}


def test_parse_s3_events_url_decodes_keys(spark):
    import json
    from cdc_core_spark.sources.s3_events import parse_s3_events

    doc = {"Records": [
        {"eventName": "ObjectCreated:Put",
         "eventTime": "2024-01-01T00:00:00.000Z",
         "s3": {"bucket": {"name": "b"},
                "object": {"key": "in/red+flower%2B1.parquet", "size": 1}}}]}
    df = spark.createDataFrame([(json.dumps(doc),)], "value string")
    # AWS URL-encodes keys: '+' is a space, %2B is a literal plus
    assert parse_s3_events(df).collect()[0]["key"] == "in/red flower+1.parquet"


def test_queue_source_options_contract():
    from cdc_core_spark.streaming.stream import queue_source_options

    opts = queue_source_options(
        "https://sqs.eu-1.example/q/cdc", connector_format="sqs",
        batch_size=500, visibility_timeout_s=60, wait_time_s=10,
        region="eu-1", **{"sqsEndpoint": "http://localstack:4566"})
    assert opts["format"] == "sqs"
    assert opts["queueUrl"] == "https://sqs.eu-1.example/q/cdc"
    assert opts["maxBatchSize"] == "500"        # batchSize analog
    assert opts["visibilityTimeout"] == "60"
    assert opts["waitTimeSeconds"] == "10"
    assert opts["region"] == "eu-1"
    assert opts["sqsEndpoint"] == "http://localstack:4566"


def test_queue_branch_reaches_source_resolution(spark):
    """No queue connector jar in this container: the queue branch must build
    the reader from the receiver settings and fail at SOURCE RESOLUTION,
    not in our own code; missing/invalid options fail fast."""
    import pytest
    from cdc_core_spark.streaming.stream import (build_stream_source,
                                                 queue_source_options)

    opts = queue_source_options("https://q/u", connector_format="sqs-connector")
    with pytest.raises(Exception, match="(?i)sqs-connector|DATA_SOURCE"):
        build_stream_source(spark, source="queue", queue_options=opts)
    with pytest.raises(ValueError, match="queue_options"):
        build_stream_source(spark, source="queue")

    # the ingest entrypoint must forward queue_options to the source builder
    # (reaches source resolution, not our own queue_options ValueError)
    from cdc_core_spark.streaming.stream import stream_ingest

    class _Eng:  # stream_ingest touches only .spark before source resolution
        pass

    eng = _Eng()
    eng.spark = spark
    with pytest.raises(Exception, match="(?i)sqs-connector|DATA_SOURCE"):
        stream_ingest(eng, None, "/tmp/ckpt-unused", source="queue",
                      queue_options=opts)


def test_dedup_event_stream_drops_duplicate_deliveries(spark, t1, tmp_path):
    """dropDuplicatesWithinWatermark form of the consumer's message-id
    dedupe: a stream carrying re-delivered events must emit each delivery
    key exactly once (state bounded by the watermark window)."""
    from cdc_core_spark.streaming.stream import dedup_event_stream

    ev = spark.read.parquet(f'{t1["dir"]}/change_events')
    # re-deliver ~a third of the stream (same keys, same payloads)
    dup_path = str(tmp_path / "events_dup")
    (ev.unionByName(ev.filter(F.col("event_seq") % 3 == 0))
     .write.partitionBy("checkpoint_epoch").parquet(dup_path))

    dedup_event_stream(spark, dup_path, str(tmp_path / "ckpt"),
                       sink_table="dedup_stream")
    got = spark.table("dedup_stream")
    keys = ["repo", "path", "op_ts", "event_seq"]
    n_distinct_in = ev.select(*keys).distinct().count()
    assert got.count() == n_distinct_in
    assert got.select(*keys).distinct().count() == n_distinct_in


def test_stream_epoch_base_unit(spark, tmp_path):
    """batch_id → epoch mapping: fresh checkpoint over a table with
    committed epochs starts PAST them; the marker pins the base across
    restarts (even as more epochs commit); a pre-marker legacy checkpoint
    keeps base 0."""
    import os

    from cdc_core_spark.streaming.stream import stream_epoch_base

    class _T:
        def __init__(self, eps):
            self.eps = eps

        def committed_epochs(self):
            return self.eps

    class _E:
        pass

    e = _E()
    e.spark = spark
    e.table = _T({0, 1, 2})
    ck1 = str(tmp_path / "ck1")
    assert stream_epoch_base(e, ck1) == 3
    e.table = _T({0, 1, 2, 3, 4})      # stream itself committed more
    assert stream_epoch_base(e, ck1) == 3  # marker wins: mapping is stable

    ck2 = str(tmp_path / "ck2")
    os.makedirs(os.path.join(ck2, "offsets"))
    assert stream_epoch_base(e, ck2) == 0  # legacy checkpoint: keep 0

    ck3 = str(tmp_path / "ck3")
    e.table = _T(set())
    assert stream_epoch_base(e, ck3) == 0  # empty table: same as before


def test_stream_ingest_after_batch_bootstrap_applies_new_events(
        spark, t1, registry, tmp_path):
    """THE silent-drop scenario: a table bootstrapped by the batch replay
    already holds committed epochs 0..k; a NEW streaming checkpoint's batch
    0 used to collide with epoch 0's exactly-once skip and drop the first
    microbatches. The epoch base must map it past the bootstrap."""
    eng = CdcEngine(spark, str(tmp_path / "eng"), registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.initial_load(src, "1.0")
    eng.replay(f'{t1["dir"]}/change_events')
    committed = eng.table.committed_epochs()
    assert committed
    base = max(committed) + 1

    # one NEW update event, versioned past everything in the fixture
    ev = (spark.read.option("basePath", f'{t1["dir"]}/change_events')
          .parquet(f'{t1["dir"]}/change_events/*'))
    one = (ev.filter(F.col("op") == 4).limit(1)
           .withColumn("op_ts", F.col("op_ts") + F.lit(10**9))
           .withColumn("event_seq", F.col("event_seq") + F.lit(10**9))
           .withColumn("content", F.lit("STREAMED-AFTER-BOOTSTRAP"))
           .drop("checkpoint_epoch"))
    key = one.select("repo", "path").collect()[0]
    newdir = str(tmp_path / "new_events")
    one.write.parquet(newdir + "/checkpoint_epoch=0")

    stream_ingest(eng, newdir, str(tmp_path / "ckpt2"))
    got = (eng.read_final()
           .filter((F.col("repo") == key["repo"])
                   & (F.col("path") == key["path"])).collect())
    assert [r["content"] for r in got] == ["STREAMED-AFTER-BOOTSTRAP"]
    assert base in eng.table.committed_epochs()


def test_s3_event_ingest_malformed_and_missing_routing(spark, tmp_path):
    """Failure routing: a corrupt notification line fails the batch loudly
    by default and is droppable by opt-in; a notified object missing at
    scan time fails by default and is skippable by opt-in."""
    import json

    import pytest

    from cdc_core_spark.registry import SchemaRegistry
    from cdc_core_spark.sources.s3_events import s3_event_ingest

    reg = SchemaRegistry.from_docs([{
        "entity": "source_repos", "major": 1, "minor": 0,
        "fields": [
            {"name": "repo", "type": "string", "nullable": False, "key": True},
            {"name": "path", "type": "string", "nullable": False, "key": True},
            {"name": "content", "type": "string", "nullable": True},
        ]}])
    eng = CdcEngine(spark, str(tmp_path / "state"), reg, n_buckets=4)
    eng.initial_load(spark.createDataFrame(
        [("r1", "p1", "c0")], "repo string, path string, content string"))

    obj_dir = tmp_path / "objects"
    obj_dir.mkdir()
    (spark.createDataFrame(
        [(3, "r1", "pA", "c1", 10, 1, "1.0")],
        "op long, repo string, path string, content string, op_ts long, "
        "event_seq long, schema_version string")
     .coalesce(1).write.parquet(str(obj_dir / "ev1.parquet")))

    def notif(key):
        return json.dumps({"Records": [
            {"eventName": "ObjectCreated:Put",
             "eventTime": "2024-01-01T00:00:00.000Z",
             "s3": {"bucket": {"name": "b"},
                    "object": {"key": key, "size": 1}}}]})

    resolver = lambda b, k: str(obj_dir / k)  # noqa: E731

    # corrupt line + a valid one in the same feed: default fails loudly
    ndir1 = tmp_path / "n1"
    ndir1.mkdir()
    (ndir1 / "feed.json").write_text("{this is not json\n" + notif("ev1.parquet"))
    with pytest.raises(Exception, match="unparseable"):
        s3_event_ingest(eng, str(ndir1), str(tmp_path / "ck_a"),
                        resolver=resolver)
    # opt-in skip drops the poison line, still applies the valid object
    s3_event_ingest(eng, str(ndir1), str(tmp_path / "ck_b"),
                    resolver=resolver, on_malformed="skip")
    assert {r["path"] for r in eng.read_final().collect()} == {"p1", "pA"}

    # notified object that 404s at scan time: default fails, skip proceeds
    ndir2 = tmp_path / "n2"
    ndir2.mkdir()
    (ndir2 / "feed.json").write_text(notif("gone.parquet"))
    with pytest.raises(Exception):
        s3_event_ingest(eng, str(ndir2), str(tmp_path / "ck_c"),
                        resolver=resolver)
    s3_event_ingest(eng, str(ndir2), str(tmp_path / "ck_d"),
                    resolver=resolver, on_missing="skip")
    assert {r["path"] for r in eng.read_final().collect()} == {"p1", "pA"}


def test_empty_micro_batch_commits_the_marker(spark, t1, registry, tmp_path):
    """A zero-row epoch file mid-stream is an empty micro-batch: it goes
    through ``apply_epoch`` and commits the empty-epoch marker row
    (``partition_id = -1``) that replay commits for an empty epoch, adds
    no file, and is skipped when a restart redelivers it."""
    import shutil
    import time

    import pyarrow.parquet as pq

    t1_file = f'{t1["dir"]}/change_events/checkpoint_epoch={{}}/part-0.parquet'
    evdir = tmp_path / "events"
    ckpt = str(tmp_path / "ckpt")
    t0 = int(time.time()) - 1000

    def add_file(epoch, src):
        """Epoch ``epoch``'s one file, a copy of ``src`` (a path) or
        ``src`` itself (an arrow table), its mtime after every earlier
        file's (the file stream takes files in mtime order)."""
        dst = evdir / f"checkpoint_epoch={epoch}" / "part-0.parquet"
        os.makedirs(dst.parent)
        if isinstance(src, str):
            shutil.copy(src, dst)
        else:
            pq.write_table(src, dst)
        os.utime(dst, (t0 + 100 * epoch, t0 + 100 * epoch))

    eng = CdcEngine(spark, str(tmp_path / "eng"), registry, n_buckets=4)
    eng.initial_load(spark.read.parquet(f'{t1["dir"]}/source_repos.parquet'))
    add_file(0, t1_file.format(0))
    add_file(1, pq.read_schema(t1_file.format(0)).empty_table())
    stream_ingest(eng, str(evdir), ckpt, max_files_per_trigger=1)

    head = eng.table.latest()
    parent = eng.table.snapshot(head.parent)
    assert head.epoch == 1
    assert [(m["checkpoint_epoch"], m["partition_id"], m["events_read"])
            for m in head.manifests] == [(1, -1, 0)]
    assert head.files == parent.files and head.props == parent.props
    assert {0, 1} <= set(eng.table.committed_epochs())

    # a restart redelivers the last batch: the empty epoch is skipped
    for f in ("1", ".1.crc"):
        os.remove(os.path.join(ckpt, "commits", f))
    stream_ingest(eng, str(evdir), ckpt, max_files_per_trigger=1)
    assert os.path.exists(os.path.join(ckpt, "commits", "1"))  # it re-ran
    assert eng.table.latest().version == head.version

    # the stream goes on past the empty epoch
    add_file(2, t1_file.format(1))
    stream_ingest(eng, str(evdir), ckpt, max_files_per_trigger=1)
    assert eng.table.latest().epoch == 2
    assert eng.table.latest().files != head.files
