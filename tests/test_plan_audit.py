"""Physical-plan audits: the 100-TB properties the engine claims are asserted
STRUCTURALLY, not by wall-clock — filters reach the parquet scan
(PushedFilters), partition pruning reaches the epoch scan (PartitionFilters),
small dims broadcast, aggregations have a map-side partial stage, top-k plans
as TakeOrderedAndProject, and no audited plan contains a scale-killer
(CartesianProduct, row-at-a-time BatchEvalPython).

These guard the *plan*, so a refactor that silently de-optimizes (drops a
broadcast hint, breaks pushdown by wrapping a column in a Python UDF, turns a
pruned epoch scan into a full scan) fails CI even though small-fixture
results stay correct.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present")


def plan(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


# plan-only entries: building the DataFrame runs no job and has no side
# effects (engine-replay / stored-index entries execute work at call time
# and are audited by their own tests instead). Audited by q_ FUNCTION, not
# queries() key — gate consolidations (search_q = page ∪ topk ∪ point,
# text_stats ⊇ fingerprint) must not blunt the per-shape plan assertions.
LAZY_QUERIES = {
    "pricing_summary": "q_pricing_summary",
    "revenue_by_nation": "q_revenue_by_nation",
    "topk_orders": "q_topk_orders",
    "search_q": "q_search",
    "point_lookup": "q_point_lookup",
    "query_surface": "q_query_surface",
    "anti_semi_setops": "q_anti_semi_setops",
    "setop_except": "q_setop_except",
    "grouping_sets": "q_grouping_sets",
    "json_extract": "q_json_extract",
    "dedup_exact": "q_dedup_exact",
    "text_stats": "q_text_stats",
    "fingerprint": "q_fingerprint",
    "chunk_text": "q_chunk_text",
    "ann_cosine_topk": "q_ann_cosine_topk",
    "checksum": "q_checksum",
}


@pytest.fixture(scope="module")
def plans(spark):
    return {name: plan(getattr(entry, fn)(spark, SF_DIR))
            for name, fn in LAZY_QUERIES.items()}


def test_no_scale_killers_in_any_audited_plan(plans):
    for name, p in plans.items():
        assert "CartesianProduct" not in p, name
        assert "BatchEvalPython" not in p, name  # per-row Python UDF


def test_filter_pushdown_reaches_scan(plans):
    assert "LessThanOrEqual(l_shipdate" in plans["pricing_summary"]
    assert "EqualTo(c_custkey,42)" in plans["point_lookup"].replace(" ", "")
    assert "GreaterThan(o_totalprice" in plans["search_q"]


def test_column_pruning_reaches_scan(plans):
    # Q1 touches 7 of lineitem's 16 columns; the scan must not read the rest
    p = plans["pricing_summary"]
    assert "l_comment" not in p and "l_partkey" not in p


def test_aggregation_has_map_side_partial(plans):
    assert "partial_sum" in plans["pricing_summary"]
    assert "partial_count" in plans["revenue_by_nation"]


def test_small_dims_broadcast(plans):
    assert plans["revenue_by_nation"].count("BroadcastHashJoin") >= 2


def test_topk_is_take_ordered(plans):
    assert "TakeOrderedAndProject" in plans["topk_orders"]


def test_lww_is_partial_max_by_single_shuffle(spark):
    ev = (spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
          .select(F.col("user_id").alias("k"),
                  F.col("ts").cast("timestamp").cast("long").alias("_op_ts"),
                  F.monotonically_increasing_id().alias("_event_seq"),
                  F.col("event_type")))
    from cdc_core_spark.lww import lww_reduce
    import re
    # the engine's own call shape (CdcEngine.apply_epoch_group): per-(epoch,
    # key) winners. The map-side combine is the only hot-key defense, so
    # the aggregate must stay partial
    engine_ev = (ev.withColumn("checkpoint_epoch", F.col("k") % 3)
                 .withColumn("op", F.lit(4)))
    engine_shape = lww_reduce(engine_ev, ["checkpoint_epoch", "k"],
                              ["event_type", "op"])
    for df in (lww_reduce(ev, ["k"], ["event_type"]), engine_shape):
        p = plan(df)
        exchanges = list(re.finditer(r"\(\d+\) Exchange\n", p))
        assert len(exchanges) == 1                    # exactly one shuffle
        # map-side combine BEFORE the shuffle: formatted details list nodes
        # leaf-first, so a partial aggregate placed after a key repartition
        # (the hot key shipped whole to one task) would follow the Exchange
        assert 0 <= p.find("partial_max_by") < exchanges[0].start()


def test_no_row_python_udf_in_package_source():
    """Static sweep backing the plan-level BatchEvalPython check: the package
    must never register a row-at-a-time Python UDF (only pandas_udf /
    mapInPandas / applyInPandas Arrow paths are allowed)."""
    import glob
    import re
    pkg = os.path.join(os.path.dirname(os.path.dirname(__file__)), "cdc_core_spark")
    banned = re.compile(r"(?<!pandas_)\budf\(|spark\.udf\.register|@udf\b")
    hits = []
    for f in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        for i, line in enumerate(open(f), 1):
            if banned.search(line):
                hits.append(f"{f}:{i}: {line.strip()}")
    assert not hits, hits


def test_package_source_compiles_without_warnings():
    """Every package module compiles with warnings as errors: an invalid
    escape in a string (a ``DeprecationWarning``, a ``SyntaxWarning`` from
    Python 3.12) is a latent syntax error, not noise."""
    import glob
    import warnings
    pkg = os.path.join(os.path.dirname(os.path.dirname(__file__)), "cdc_core_spark")
    for f in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        with open(f) as fh, warnings.catch_warnings():
            warnings.simplefilter("error")
            compile(fh.read(), f, "exec")


def test_epoch_scan_is_partition_pruned(spark, t1):
    events = spark.read.parquet(os.path.join(t1["dir"], "change_events"))
    pruned = events.filter(F.col("checkpoint_epoch").isin([2, 3]))
    p = plan(pruned)
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*checkpoint_epoch[^\]]*)\]", p)
    assert m, p
    # and the filter does NOT degrade to a post-scan Filter over all epochs:
    # only the two partitions' files are actually opened (inputFiles() is
    # pre-pruning by contract, so ask the executed scan itself)
    files = {r[0] for r in
             pruned.select(F.input_file_name()).distinct().collect()}
    assert files and all(
        "checkpoint_epoch=2" in f or "checkpoint_epoch=3" in f for f in files)


def test_text_search_query_side_broadcasts(spark):
    """The term list is a literal handful: the index join must broadcast it
    (no shuffle of the corpus-sized index for a 3-term query) and the
    relevance ranking must stay a TakeOrdered-able sort, with TF-IDF's
    df join ALSO broadcast."""
    from cdc_core_spark.operators import textsearch as ts
    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    idx = ts.build_text_index(d, "doc_id", "text")
    for scoring in ("tf", "tfidf"):
        nd = 1000 if scoring == "tfidf" else None
        p = plan(ts.search_text(idx, ["merge", "stream"], scoring=scoring,
                                n_docs=nd))
        # no shuffled join anywhere: dropping a broadcast hint would regress
        # to SortMergeJoin and must fail here, not just lose the broadcast
        assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, scoring
        want_bhj = 2 if scoring == "tfidf" else 1   # terms join (+ df join)
        assert p.count("BroadcastHashJoin") >= want_bhj, scoring
        assert "CartesianProduct" not in p, scoring
        assert "BatchEvalPython" not in p, scoring


def test_crypto_expressions_stay_jvm_side(spark):
    """aes_encrypt/aes_decrypt are built-in JVM expressions — the checksum
    gate plan must contain no Python evaluation and keep the scan pruned to
    the two referenced columns."""
    import __spark_entry__ as e
    p = plan(e.queries()["checksum"](spark, SF_DIR))
    assert "BatchEvalPython" not in p
    assert "aesEncrypt" in p and "aesDecrypt" in p  # JVM built-in expressions
    # scan pruned to exactly the two referenced columns
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p


def test_key_predicate_pushes_through_mor_fold(spark, tmp_path):
    """A point predicate on the key columns must reach the parquet scan's
    PushedFilters THROUGH the merge-on-read fold (filter on grouping keys
    commutes with the max_by aggregate and the base∪delta union). This is
    the row-group half of point-lookup pruning: bucket hashing picks the
    file, the pushed EqualTo + sorted compaction (table sort_order prop,
    tests/test_sort_order.py) lets the reader skip row groups inside it.
    The tombstone filter must push too — deleted rows die in the scan."""
    from cdc_core_spark.lake import SnapshotTable, bucket_expr

    tbl = SnapshotTable.create(
        str(tmp_path / "t"),
        fields=[{"name": "repo", "type": "string"},
                {"name": "path", "type": "string"},
                {"name": "content", "type": "string"}],
        key_cols=["repo", "path"], n_buckets=4)
    df = (spark.range(300)
          .select(F.concat(F.lit("r"), (F.col("id") % 3).cast("string"))
                  .alias("repo"),
                  F.concat(F.lit("p"), F.col("id").cast("string"))
                  .alias("path"),
                  F.lit("x").alias("content"),
                  F.lit(1).cast("bigint").alias("_op_ts"),
                  F.col("id").alias("_event_seq"),
                  F.lit(False).alias("_deleted"))
          .withColumn("_bucket", bucket_expr(["repo", "path"], 4)))
    tbl.commit_merge(df, list(range(4)), manifests=[])
    out = tbl.read(spark).filter((F.col("repo") == "r1")
                                 & (F.col("path") == "p7"))
    p = plan(out)
    flat = p.replace(" ", "")
    assert "EqualTo(repo,r1)" in flat and "EqualTo(path,p7)" in flat, p
    assert "Not(EqualTo(_deleted,true))" in flat, p
    assert out.count() == 1


#: py4j commands that BUILDING each plan may send (no action runs). The
#: pieces are SQL expression strings, one JVM call each: measured 162
#: (one-bucket read over 4 schema groups), 16 (event projection) and 34
#: (LWW reduce), bounded at about twice that. Built from ``Column`` objects
#: (a round trip per ``F.col``/``cast``/``alias``, each also capturing a
#: call site) the same plans took 1809, 412 and 211.
PLAN_PY4J_BOUNDS = {"read": 330, "normalize_events": 40, "lww_reduce": 70}
#: a point read: the bucket scan and the merge-on-read fold; the bucket
#: probe itself is folded to a local relation and runs no job
FIND_DOCUMENT_JOBS = 2


def _py4j_commands(monkeypatch, build):
    """(result, py4j commands ``build()`` sent). Counts at
    ``GatewayClient.send_command``, which PySpark's pinned-thread
    ``ClientServer`` client inherits, and only on the calling thread: py4j
    releases collected JVM objects from a thread of its own, at times set
    by Python's GC."""
    import threading
    from py4j.java_gateway import GatewayClient
    caller = threading.get_ident()
    sent = [0]
    send = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        sent[0] += threading.get_ident() == caller
        return send(self, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(GatewayClient, "send_command", counting)
        out = build()
    return out, sent[0]


def test_plan_building_py4j_cost(spark, t1, registry, tmp_path,
                                 monkeypatch):
    """PERF CONTRACT: building the read and apply plans costs a bounded,
    small number of py4j round trips — measured on the PLAN only (counts
    taken around actions drift run to run). Guards against plan pieces
    going back to one ``Column`` per field."""
    from cdc_core_spark.engine import CdcEngine
    from cdc_core_spark.lww import lww_reduce
    from cdc_core_spark.sinks import docstore

    eng = CdcEngine(spark, str(tmp_path / "e"), registry, n_buckets=4)
    eng.replay(os.path.join(t1["dir"], "change_events"),
               source_df=spark.read.parquet(
                   os.path.join(t1["dir"], "source_repos.parquet")))
    snap = eng.table.latest()
    groups = {f["schema_id"] for f in snap.files if f["bucket"] == 0}
    assert len(groups) >= 2, groups

    sdef = eng.current_schema
    events = spark.read.parquet(os.path.join(t1["dir"], "change_events"))
    payload = [f["name"] for f in sdef.fields
               if f["name"] not in sdef.key_cols()] + ["op"]
    ev = eng._normalize_events(events, sdef)
    builds = {
        "read": lambda: eng.table.read(spark, buckets=[0], snap=snap),
        "normalize_events": lambda: eng._normalize_events(events, sdef),
        "lww_reduce": lambda: lww_reduce(
            ev, ["checkpoint_epoch"] + sdef.key_cols(), payload),
    }
    for name, build in builds.items():
        build()  # first build pays one-time class lookups
        _, sent = _py4j_commands(monkeypatch, build)
        assert sent <= PLAN_PY4J_BOUNDS[name], \
            f"building {name} sent {sent} py4j commands"

    row = t1["expected"].iloc[0]
    sc = spark.sparkContext
    sc.setJobGroup("find_document", "find_document", False)
    try:
        got = docstore.find_document(
            spark, eng.table.root,
            {"repo": row["repo"], "path": row["path"]}).collect()
        jobs = sc.statusTracker().getJobIdsForGroup("find_document")
    finally:
        sc.setJobGroup(None, None, False)
    assert [r["content"] for r in got] == [row["content"]]
    assert len(jobs) <= FIND_DOCUMENT_JOBS, \
        f"find_document + collect took {len(jobs)} jobs: {jobs}"
