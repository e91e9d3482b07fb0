"""Property-based tests for the LWW reduction (hypothesis).

The reference's per-key serialized apply (BaseShardedExecutor single-thread
shards) defines the semantics: for every key, the event with the maximal
``(op_ts, event_seq)`` version tuple wins, regardless of delivery order,
duplication, or partitioning. These properties pin that contract against a
driver-side Python oracle for arbitrary generated event logs — the reference
ships no property tests (SURVEY §5); this is our upgrade on its strategy.

One Spark round-trip per example is slow, so examples are kept small and
deadline disabled; the generator biases toward collisions (few keys, few
timestamps) to hit ties and duplicates often.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cdc_core_spark.lww import lww_reduce

DDL = "repo string, path string, v string, _op_ts long, _event_seq long"

# small domains on purpose: collisions (same key, tied op_ts) are the
# interesting cases
event = st.tuples(
    st.sampled_from(["r0", "r1", "hot"]),
    st.sampled_from(["a", "b", "c", "d"]),
    st.text(alphabet="xyz", min_size=0, max_size=3),
    st.integers(min_value=0, max_value=5),       # op_ts — ties likely
    st.integers(min_value=0, max_value=10_000),  # event_seq
)
event_logs = st.lists(event, min_size=1, max_size=40)


def py_oracle(rows):
    """Sequential-apply oracle: keep the max version tuple per key; on exact
    version ties the payload is identical in real logs, so make it so here
    by keying the payload into the tuple comparison deterministically."""
    best = {}
    for repo, path, v, ts, seq in rows:
        k = (repo, path)
        cand = (ts, seq, v)
        if k not in best or cand > best[k]:
            best[k] = cand
    return {k: (ts, seq) for k, (ts, seq, _v) in best.items()}


def _dedupe_versions(rows):
    """Force version-tuple uniqueness per key (matches the engine's contract:
    (op_ts, event_seq) is globally total; duplicates carry identical
    payloads). Keeps the max-payload row per (key, version) so the Python
    oracle and Spark agree on tie payloads."""
    uniq = {}
    for repo, path, v, ts, seq in rows:
        key = (repo, path, ts, seq)
        if key not in uniq or v > uniq[key]:
            uniq[key] = v
    return [(r, p, v, t, s) for (r, p, t, s), v in uniq.items()]


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=event_logs)
def test_lww_matches_oracle_any_order(spark, rows):
    rows = _dedupe_versions(rows)
    df = spark.createDataFrame(rows, schema=DDL)
    out = lww_reduce(df, ["repo", "path"], ["v"])
    got = {(r["repo"], r["path"]): (r["_op_ts"], r["_event_seq"])
           for r in out.collect()}
    assert got == py_oracle(rows)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=event_logs, nparts=st.sampled_from([1, 2, 7]))
def test_lww_partition_invariant(spark, rows, nparts):
    """Result must not depend on physical partitioning (the engine shuffles
    by storage bucket, tests shuffle arbitrarily)."""
    rows = _dedupe_versions(rows)
    df = spark.createDataFrame(rows, schema=DDL).repartition(nparts)
    out = lww_reduce(df, ["repo", "path"], ["v"])
    got = {(r["repo"], r["path"]): (r["_op_ts"], r["_event_seq"])
           for r in out.collect()}
    assert got == py_oracle(rows)
