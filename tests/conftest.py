from __future__ import annotations

import pytest

from cdc_core_spark import oracle, synth
from cdc_core_spark.registry import SchemaRegistry
from cdc_core_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="cdc_tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def t1(tmp_path_factory):
    """t1-scale fixture materialized once: parquet dirs + pandas frames + oracle."""
    d = tmp_path_factory.mktemp("t1fx")
    fx = synth.write_fixture(str(d), "t1")
    expected = oracle.expected_final(fx.source_repos, fx.change_events)
    return {"dir": str(d), "fx": fx, "expected": expected}


@pytest.fixture(scope="session")
def registry():
    return SchemaRegistry.from_docs(synth.registry_docs())


def assert_final_equal(got_pdf, expected_pdf):
    """Full-row equality on the converged table, keyed by (repo, path);
    the content_sha256 column is the FIXTURES.md §4 invariant."""
    assert len(got_pdf) == len(expected_pdf), (len(got_pdf), len(expected_pdf))
    m = got_pdf.merge(expected_pdf, on=["repo", "path"], how="outer",
                      suffixes=("_g", "_e"), indicator=True)
    assert (m["_merge"] == "both").all(), m[m["_merge"] != "both"].head()
    for c in ("commit", "language", "content", "content_sha256"):
        neq = m[c + "_g"].fillna("~") != m[c + "_e"].fillna("~")
        assert not neq.any(), m[neq][["repo", "path", c + "_g", c + "_e"]].head()
    for c in ("size_bytes", "rev"):
        neq = (m[c + "_g"].astype("Int64").fillna(-9)
               != m[c + "_e"].astype("Int64").fillna(-9))
        assert not neq.any(), m[neq][["repo", "path", c + "_g", c + "_e"]].head()


def as_older_logical_rewrite(table, epoch=None, manifests=()):
    """Rewrite ``table``'s head snapshot doc, a compaction, into the logical
    copy-on-write commit older builds wrote when an engine epoch, docstore
    upsert or rollup refresh rewrote its buckets: the same file swap, with
    ``maintenance`` false and the epoch and manifests it applied."""
    import json
    path = table._doc_path(table.latest().version)
    with open(path) as fh:
        doc = json.load(fh)
    assert doc["maintenance"] and isinstance(doc["files"], list)
    doc.update(maintenance=False, epoch=epoch, manifests=list(manifests))
    with open(path, "w") as fh:
        json.dump(doc, fh)
