"""Training-data operator tests: dedup family, similarity search, text
analysis, multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cdc_core_spark.operators import dedup, multimodal, similarity, text


def _live_dir(path: str, sidecar: str) -> str:
    """A generation-published store's live data directory, as its sidecar
    names it."""
    import json
    with open(f"{path}/{sidecar}") as f:
        return f"{path}/g{json.load(f)['gen']}"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs away fast"),
        (2, "the quick brown fox jumps over the lazy dog and runs away fast"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat and runs away fast"),  # near dup of 1
        (4, "completely different content about spark dataframes and shuffles here"),
        (5, "der schnelle braune fuchs springt und der hund und die katze schlafen"),
        (6, "le chat et le chien dorment dans la maison pres de la porte"),
        (7, "THE QUICK  brown fox! jumps over the lazy dog and runs away fast"),  # dup of 1 after normalize
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    groups = dedup.exact_dedup(docs, "text", "doc_id").collect()
    sizes = sorted(r["dup_count"] for r in groups)
    assert sizes == [1, 1, 1, 1, 3]  # 1,2,7 collapse
    big = [r for r in groups if r["dup_count"] == 3][0]
    assert big["canonical_id"] == 1


def test_ngram_jaccard_pairs(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text",
                                                n=3, threshold=0.3).collect()}
    assert pairs[(1, 2)] == 1.0 and pairs[(1, 7)] == 1.0
    assert 0.3 < pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_ngram_jaccard_postings_cap(docs):
    """max_postings drops stop-grams from the index, which biases the
    estimated Jaccard DOWNWARD (intersection loses the dropped grams while
    doc sizes stay full) — the docstring's caveat. Dup pairs stay
    discoverable through their surviving rarer grams at a lower threshold;
    with a cap of 1 no gram may index more than one doc, so no pairs at
    all."""
    capped = {(r["doc_a"], r["doc_b"]) for r in
              dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                        threshold=0.1, max_postings=3).collect()}
    assert (1, 2) in capped and (1, 7) in capped  # via df=3 'dog' grams
    none = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                     threshold=0.0, max_postings=1).collect()
    assert none == []


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             dedup.minhash_near_dupes(docs, "doc_id", "text",
                                      num_perm=64, bands=16,
                                      threshold=0.4).collect()}
    assert (1, 2) in pairs and (1, 7) in pairs  # exact dups always collide
    assert (1, 3) in pairs                      # near dup found
    assert (1, 4) not in pairs and (4, 5) not in pairs


def test_simhash_near_dups(docs):
    sh = {r["doc"]: r["simhash"] for r in
          dedup.simhash64(docs, "doc_id", "text").collect()}
    assert sh[1] == sh[2] == sh[7]  # identical normalized text → same fingerprint
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in
             dedup.simhash_near_dupes(docs, "doc_id", "text", max_hamming=8).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 4) not in pairs


def test_embedding_near_dupes(spark):
    rng = np.random.default_rng(7)
    base = rng.standard_normal((6, 16))
    rows = [(i, base[i].tolist()) for i in range(6)]
    rows.append((6, (base[0] + 0.01 * rng.standard_normal(16)).tolist()))  # near dup of 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             dedup.embedding_near_dupes(df, "vec_id", "embedding", dim=16,
                                        threshold=0.98).collect()}
    assert pairs == {(0, 6)}


def test_cosine_pairs_exact_matches_numpy(spark):
    """Block-GEMM all-pairs must equal the numpy brute force exactly —
    including within-block and cross-block pairs."""
    rng = np.random.default_rng(9)
    m = rng.standard_normal((60, 12))
    df = spark.createDataFrame([(i, m[i].tolist()) for i in range(60)],
                               "vec_id long, embedding array<double>")
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in
           similarity.cosine_pairs_exact(df, "vec_id", "embedding", 0.2,
                                         n_blocks=4).collect()}
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = mn @ mn.T
    want = {(i, j): sims[i, j] for i in range(60) for j in range(i + 1, 60)
            if sims[i, j] >= 0.2}
    assert set(got) == set(want) and len(want) > 20
    assert all(abs(got[k] - want[k]) < 1e-9 for k in got)


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.default_rng(3)
    m = rng.standard_normal((50, 8))
    q = rng.standard_normal(8)
    df = spark.createDataFrame([(i, m[i].tolist()) for i in range(50)],
                               "vec_id long, embedding array<double>")
    got = [r["vec_id"] for r in
           similarity.cosine_topk(df, "vec_id", "embedding", q.tolist(), k=5).collect()]
    cos = (m @ q) / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
    want = list(np.argsort(-np.round(cos, 6), kind="stable")[:5])
    assert got == [int(x) for x in want]


def test_ivf_topk_recall(spark):
    # clustered data: IVF with nprobe=2/8 cells must recover the true top-5
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((8, 16)) * 5
    vecs = np.vstack([c + rng.standard_normal((40, 16)) * 0.3 for c in centers])
    df = spark.createDataFrame([(i, vecs[i].tolist()) for i in range(len(vecs))],
                               "vec_id long, embedding array<double>")
    q = (centers[2] + 0.1 * rng.standard_normal(16)).tolist()
    exact = {r["vec_id"] for r in
             similarity.cosine_topk(df, "vec_id", "embedding", q, k=5).collect()}
    approx = {r["vec_id"] for r in
              similarity.ivf_topk(df, "vec_id", "embedding", q, k=5,
                                  n_cells=8, nprobe=3).collect()}
    assert len(exact & approx) >= 4  # ≥80% recall on clustered data


def test_lsh_topk_subset_of_data(spark):
    rng = np.random.default_rng(5)
    m = rng.standard_normal((100, 12))
    q = m[17] + 0.05 * rng.standard_normal(12)
    df = spark.createDataFrame([(i, m[i].tolist()) for i in range(100)],
                               "vec_id long, embedding array<double>")
    got = [r["vec_id"] for r in
           similarity.lsh_topk(df, "vec_id", "embedding", q.tolist(), k=3,
                               n_planes=10, max_hamming=3).collect()]
    assert 17 in got  # the planted neighbor survives the prefilter


def test_text_analysis(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog of the house"),
         (2, "der hund und die katze und der vogel"),
         (3, "xyzzy 123 !!!")],
        "doc_id long, text string")
    out = df.select(
        "doc_id",
        text.lang_id("text").alias("lang"),
        text.token_count_ws("text").alias("ws_tokens"),
        text.token_count_bpe("text").alias("bpe_tokens"),
        text.quality_score("text").alias("quality"),
        text.fingerprint("text", k=3).alias("fp"),
    ).collect()
    by = {r["doc_id"]: r for r in out}
    assert by[1]["lang"] == "en" and by[2]["lang"] == "de" and by[3]["lang"] == "und"
    assert by[1]["ws_tokens"] == 8
    assert by[3]["bpe_tokens"] == 5  # xyzzy, 123, !, !, !
    assert 0.0 <= by[3]["quality"] < by[1]["quality"] <= 1.0
    assert len(by[1]["fp"]) == 64  # sha256 hex


def test_multimodal_plumbing(spark):
    media = multimodal.synth_media(spark, n=30)
    feats = multimodal.extract_features(media).collect()
    assert len(feats) == 30
    hist_cols = [f"hist_{i}" for i in range(8)]
    assert all(r["n_bytes"] == 512 for r in feats)
    # histogram mass sums to ~1 across the 8 scalar bins
    assert all(abs(sum(r[c] for c in hist_cols) - 1.0) < 1e-4 for r in feats)
    # deterministic across runs
    again = multimodal.extract_features(multimodal.synth_media(spark, n=30)).collect()
    assert sorted((r["media_id"], r["mean"]) for r in feats) == \
           sorted((r["media_id"], r["mean"]) for r in again)
    px = multimodal.resize_images(media, target=(8, 8)).collect()
    assert all(len(r["pixels"]) == 64 for r in px)
    frames = multimodal.frame_sample(media, every_ms=500)
    assert frames.filter(F.col("frame_ts_ms") % 500 != 0).count() == 0
    # real decoder is stubbed
    with pytest.raises(Exception):
        multimodal.real_decode(b"zz")


def test_dedup_clusters(docs):
    """CC over the jaccard pair graph: {1,2,3,7} form one cluster with
    canonical 1; 4,5,6 are singletons."""
    out = {r["doc"]: (r["cluster_id"], r["is_canonical"]) for r in
           dedup.dedup_clusters(docs, "doc_id", "text",
                                n=3, threshold=0.3).collect()}
    assert out[1] == (1, True)
    assert out[2] == (1, False) and out[3] == (1, False) and out[7] == (1, False)
    assert out[4] == (4, True) and out[5] == (5, True) and out[6] == (6, True)


def test_connected_components_chain(spark):
    """A long chain exercises multi-round propagation to a fixpoint."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)] + [(20, 21)],
        "doc_a long, doc_b long")
    nodes = spark.createDataFrame([(i,) for i in list(range(10)) + [20, 21, 30]],
                                  "doc long")
    got = {r["doc"]: r["cluster_id"] for r in
           dedup.connected_components(edges, nodes).collect()}
    assert all(got[i] == 0 for i in range(10))
    assert got[20] == got[21] == 20
    assert got[30] == 30


def test_token_count_ws_empty_is_zero(spark):
    df = spark.createDataFrame([(1, ""), (2, "   "), (3, "one two")],
                               "id int, t string")
    got = {r["id"]: r["n"] for r in
           df.select("id", text.token_count_ws("t").alias("n")).collect()}
    assert got == {1: 0, 2: 0, 3: 2}


def test_consistent_split_deterministic_and_salted(spark):
    from cdc_core_spark.operators import sampling

    df = spark.range(5000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"] for r in
         sampling.consistent_split(df, "doc_id", holdout_permille=100).collect()}
    b = {r["doc_id"]: r["split"] for r in
         sampling.consistent_split(df, "doc_id", holdout_permille=100).collect()}
    assert a == b                                  # stable across runs
    n_hold = sum(1 for v in a.values() if v == "holdout")
    assert 350 < n_hold < 650                      # ~10% of 5000
    c = {r["doc_id"]: r["split"] for r in
         sampling.consistent_split(df, "doc_id", holdout_permille=100,
                                   salt="other").collect()}
    assert c != a                                  # salt re-draws
    # content-stability: a SUBSET gets identical assignments
    sub = {r["doc_id"]: r["split"] for r in
           sampling.consistent_split(df.filter("doc_id < 1000"), "doc_id",
                                     holdout_permille=100).collect()}
    assert all(a[k] == v for k, v in sub.items())


def test_stratified_sample_exact_k(spark):
    from cdc_core_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, "s" + str(i % 3)) for i in range(40)] + [(100, "tiny")],
        "doc_id long, stratum string")
    out = sampling.stratified_sample_exact(df, "stratum", "doc_id", k=4)
    counts = {r["stratum"]: r["n"] for r in
              out.groupBy("stratum").agg(F.count("*").alias("n")).collect()}
    assert counts == {"s0": 4, "s1": 4, "s2": 4, "tiny": 1}
    again = sampling.stratified_sample_exact(df, "stratum", "doc_id", k=4)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_chunk_text_windows(spark):
    from cdc_core_spark.operators import chunking

    df = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "xy"), (3, "")], "doc_id long, text string")
    out = chunking.chunk_text(df, "doc_id", "text", chunk_chars=4, overlap=1)
    got = {(r["doc_id"], r["chunk_index"]): r["chunk"] for r in out.collect()}
    # step=3: windows at 0,3,6 for len 10 — a start at 9 would yield 'j',
    # a strict substring of 'ghij', and is suppressed
    assert got[(1, 0)] == "abcd" and got[(1, 1)] == "defg"
    assert got[(1, 2)] == "ghij" and (1, 3) not in got
    assert got[(2, 0)] == "xy" and got[(3, 0)] == ""
    # overlap: consecutive windows share `overlap` chars
    assert got[(1, 0)][-1] == got[(1, 1)][0]
    import pytest
    with pytest.raises(ValueError, match="overlap"):
        chunking.chunk_text(df, "doc_id", "text", chunk_chars=4, overlap=4)


def test_pack_documents_quota_and_oversize(spark):
    from cdc_core_spark.operators import chunking

    rows = [("en", 1, 800), ("en", 2, 900), ("en", 3, 700), ("en", 4, 5000),
            ("en", 5, 100), ("fr", 6, 100), ("fr", 7, 100)]
    df = spark.createDataFrame(rows, "lang string, doc_id long, toks long")
    out = chunking.pack_documents(df, "lang", "doc_id", "toks",
                                  target_tokens=2000)
    got = {r["doc_id"]: r["pack_id"] for r in out.collect()}
    # quota packing assigns each doc by its START position in the small-doc
    # stream: starts 0/800/1700 → all under quota 2000 → docs 1,2,3 share a
    # pack; doc 5 starts at 2400 → next pack; oversized doc 4 stands alone
    assert got[1] == got[2] == got[3] != got[5]
    assert got[4] not in (got[1], got[5])          # oversized is alone
    en_packs = {got[i] for i in (1, 2, 3, 4, 5)}
    assert en_packs == set(range(len(en_packs)))   # dense from 0 per stratum
    assert got[6] == got[7] == 0                   # fr packs independently


def test_decontaminate_flags_overlap(docs):
    """Eval = doc 3 (near dup of 1): docs 1,2,3,7 share 3-grams with it and
    flag; unrelated docs pass clean. Plan uses a broadcast join."""
    ev = docs.filter("doc_id = 3")
    out = dedup.decontaminate(docs, ev, "doc_id", "text", n=3, min_overlap=1)
    got = {r["doc"]: r["contaminated"] for r in out.collect()}
    assert got[3] and got[1] and got[2] and got[7]   # self + near dups
    assert not got[4] and not got[5] and not got[6]
    assert out.count() == docs.count()               # one row per train doc
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan
    # min_overlap raises the bar: demand more shared grams than doc 7 has
    strict = {r["doc"]: r["contaminated"] for r in
              dedup.decontaminate(docs, ev, "doc_id", "text", n=3,
                                  min_overlap=100).collect()}
    assert not any(strict.values())


def test_connected_components_raises_on_nonconvergence(spark):
    """A chain longer than max_iters rounds must RAISE, not return silently
    partial labels (partial labels would let is_canonical keep several docs
    per true cluster)."""
    import pytest
    edges = spark.createDataFrame([(i, i + 1) for i in range(12)],
                                  "doc_a long, doc_b long")
    nodes = spark.createDataFrame([(i,) for i in range(13)], "doc long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(edges, nodes, max_iters=2)
    # and with enough rounds the same chain labels correctly
    got = {r["doc"]: r["cluster_id"]
           for r in dedup.connected_components(edges, nodes,
                                               max_iters=20).collect()}
    assert set(got.values()) == {0}


# ------------------------------------------------------------- text search

def test_text_search_index_and_modes(spark):
    from cdc_core_spark.operators import textsearch as ts

    rows = [(1, "spark merge table merge merge"),
            (2, "table scan spark"),
            (3, "vector stream window"),
            (4, "MERGE! Spark's table")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx = ts.build_text_index(df, "doc_id", "text")
    # tf is per (term, doc): doc 1 has merge×3
    tf = {(r["term"], r["doc"]): r["tf"] for r in idx.collect()}
    assert tf[("merge", 1)] == 3 and tf[("spark", 2)] == 1

    any_hits = ts.search_text(idx, ["merge", "spark"], mode="any").collect()
    got = [(r["doc"], r["n_terms_matched"], r["score"]) for r in any_hits]
    # doc1: merge 3 + spark 1 = 4; doc4: merge 1 + (spark's → "spark s") …
    assert got[0][0] == 1 and got[0][2] == 4
    assert {g[0] for g in got} >= {1, 2, 4}

    all_hits = ts.search_text(idx, ["merge", "spark"], mode="all").collect()
    assert all(r["n_terms_matched"] == 2 for r in all_hits)
    assert {r["doc"] for r in all_hits} == {1, 4}

    # deterministic tiebreak: equal scores order by doc asc
    tie = ts.search_documents(df, "doc_id", "text", ["table"], mode="any")
    docs = [r["doc"] for r in tie.collect()]
    assert docs == sorted(docs, key=lambda d: (-tf.get(("table", d), 0), d))

    import pytest
    with pytest.raises(ValueError, match="at least one"):
        ts.search_text(idx, ["  "])
    with pytest.raises(ValueError, match="mode"):
        ts.search_text(idx, ["x"], mode="phrase")


def test_ivf_stored_partition_pruning(spark, tmp_path):
    """ivf_write's cell-partitioned layout must turn nprobe into partition
    pruning (PartitionFilters on the scan), with results identical to the
    in-plan IVF join."""
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((300, 16)).astype(float)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(300)],
        "vec_id long, embedding array<double>")
    q = [float(x) for x in vecs[0]]
    path = str(tmp_path / "ivf")
    cents = similarity.ivf_write(df, "vec_id", "embedding", path, n_cells=8)

    stored = similarity.ivf_topk_stored(spark, path, "vec_id", "embedding",
                                        q, k=10, nprobe=3)
    plan = stored._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1][:200]
    assert "cell" in pf and ("IN" in pf or "in(" in pf.lower())
    # the probe scan must READ only the nprobe cells' files, not all cells
    # (asserted on ivf_probe_scan — the exact frame ivf_topk_stored reranks;
    # the top-k output itself loses input_file_name at its exchange)
    import glob as _glob
    cand = similarity.ivf_probe_scan(spark, path, q, nprobe=3)
    read_files = {r["f"] for r in cand.select(
        F.input_file_name().alias("f")).distinct().collect()}
    cells_read = {f.split("cell=")[1].split("/")[0] for f in read_files}
    assert len(cells_read) <= 3
    total_cells = {d.split("cell=")[1] for d in
                   _glob.glob(_live_dir(path, "_ivf_centroids.json")
                              + "/cell=*")}
    assert len(total_cells) > 3  # pruning actually skipped cells

    inplan = similarity.ivf_topk(df, "vec_id", "embedding", q, k=10,
                                 n_cells=8, nprobe=3, centroids=cents)
    assert [r["vec_id"] for r in stored.collect()] == \
           [r["vec_id"] for r in inplan.collect()]


def test_text_search_relevance_paging(spark):
    """SolrCursor analog (impl/solr/SolrCursor.java): relevance-ordered
    scroll over search results via the seek-method cursor — pages cover the
    full hit set exactly once in (score desc, doc asc) order."""
    from cdc_core_spark.operators import textsearch as ts
    from cdc_core_spark.query import KeysetCursor, Q

    rows = [(i, ("merge " * (i % 7 + 1)) + "table scan") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hits = ts.search_documents(df, "doc_id", "text", ["merge", "table"])
    cur = KeysetCursor(hits, Q(sort=[("score", "desc")]), page_size=7,
                       tiebreak="doc")
    seen = [(r["score"], r["doc"]) for page in cur for r in page]
    assert len(seen) == 50 and len({d for _, d in seen}) == 50
    assert seen == sorted(seen, key=lambda x: (-x[0], x[1]))


def test_text_index_stored_bucket_pruning(spark, tmp_path):
    """write_text_index's term-bucketed layout must turn a query into
    directory pruning (only the probed terms' buckets are read), with
    results identical to searching the full in-plan index."""
    from cdc_core_spark.operators import textsearch as ts

    rows = [(i, f"alpha bravo w{i % 31} w{i % 17} " + ("merge " * (i % 5)))
            for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx = ts.build_text_index(df, "doc_id", "text")
    path = str(tmp_path / "tidx")
    ts.write_text_index(idx, path, n_buckets=16)

    cand = ts.probe_index_scan(spark, path, ["merge", "alpha"])
    read_files = {r["f"] for r in cand.select(
        F.input_file_name().alias("f")).distinct().collect()}
    buckets_read = {f.split("term_bucket=")[1].split("/")[0]
                    for f in read_files}
    assert len(buckets_read) <= 2  # ≤ one bucket per probed term
    import glob as _glob
    assert len(_glob.glob(_live_dir(path, "_index_meta.json")
                          + "/term_bucket=*")) > 2  # pruning skipped dirs

    for mode in ("any", "all"):
        stored = ts.search_text_stored(spark, path, ["merge", "alpha"],
                                       mode=mode).collect()
        full = ts.search_text(idx, ["merge", "alpha"], mode=mode).collect()
        assert [tuple(r) for r in stored] == [tuple(r) for r in full]


def test_text_index_append_equals_rebuild(spark, tmp_path):
    """append_text_index (the growing-corpus maintenance path) must leave
    the stored index search-equivalent to a full rebuild over the union
    corpus — tf AND tfidf (the sidecar n_docs must accumulate), any/all —
    and the disjointness guard must catch a re-appended doc."""
    import json

    import pytest

    from cdc_core_spark.operators import textsearch as ts

    rows = [(i, f"alpha w{i % 31} " + ("merge " * (i % 5)) +
             ("stream " * (i % 3))) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    old = df.filter(F.col("doc_id") % 2 == 0)
    new = df.filter(F.col("doc_id") % 2 == 1)

    path = str(tmp_path / "tidx")
    ts.write_text_index(ts.build_text_index(old, "doc_id", "text"),
                        path, n_buckets=8)
    ts.append_text_index(ts.build_text_index(new, "doc_id", "text"), path)

    meta = json.load(open(path + "/_index_meta.json"))
    assert meta["n_docs"] == 400          # sidecar accumulated atomically

    full_idx = ts.build_text_index(df, "doc_id", "text")
    for mode in ("any", "all"):
        for scoring in ("tf", "tfidf"):
            got = ts.search_text_stored(spark, path, ["merge", "stream"],
                                        mode=mode, scoring=scoring).collect()
            want = ts.search_text(full_idx, ["merge", "stream"], mode=mode,
                                  scoring=scoring, n_docs=400).collect()
            assert [tuple(r) for r in got] == [tuple(r) for r in want]

    # appended files land INSIDE the bucket layout: pruning still holds
    cand = ts.probe_index_scan(spark, path, ["merge"])
    read = {r["f"] for r in cand.select(
        F.input_file_name().alias("f")).distinct().collect()}
    assert len({f.split("term_bucket=")[1].split("/")[0]
                for f in read}) == 1
    assert all(_live_dir(path, "_index_meta.json") + "/" in f for f in read)

    with pytest.raises(ValueError, match="already"):
        ts.append_text_index(ts.build_text_index(new, "doc_id", "text"),
                             path, check_disjoint=True)


def test_text_index_compact_restores_single_file_buckets(spark, tmp_path):
    """compact_text_index (the Solr-optimize analog) must collapse an
    append-grown bucket's file pile to ONE term-clustered file per bucket
    with search results and the sidecar identical except its generation,
    which advances by exactly one."""
    import glob
    import json
    import os

    from cdc_core_spark.operators import textsearch as ts

    rows = [(i, f"alpha w{i % 13} " + ("merge " * (i % 4))) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "tidx")
    thirds = [df.filter(F.col("doc_id") % 3 == k) for k in range(3)]
    ts.write_text_index(ts.build_text_index(thirds[0], "doc_id", "text"),
                        path, n_buckets=4)
    for part in thirds[1:]:
        ts.append_text_index(ts.build_text_index(part, "doc_id", "text"),
                             path)
    def bucket_files():
        return {b: len(glob.glob(b + "/*.parquet"))
                for b in glob.glob(_live_dir(path, "_index_meta.json")
                                   + "/term_bucket=*")}
    assert max(bucket_files().values()) >= 3      # append piled up files

    before = ts.search_text_stored(spark, path, ["merge", "alpha"],
                                   scoring="tfidf").collect()
    meta_before = json.load(open(path + "/_index_meta.json"))
    ts.compact_text_index(spark, path)
    files = bucket_files()
    assert files and set(files.values()) == {1}   # one file per bucket
    after = ts.search_text_stored(spark, path, ["merge", "alpha"],
                                  scoring="tfidf").collect()
    assert [tuple(r) for r in after] == [tuple(r) for r in before]
    meta_after = json.load(open(path + "/_index_meta.json"))
    gen = meta_after.pop("gen")
    assert gen == meta_before.pop("gen") + 1
    assert meta_after == meta_before
    # only the live generation remains next to the sidecar
    assert sorted(os.listdir(path)) == ["_index_meta.json", f"g{gen}"]


def test_ivf_append_equals_full_store(spark, tmp_path):
    """ivf_append must extend the cell-partitioned store such that stored
    top-k equals the in-plan IVF over the union corpus under the SAME
    (fixed) codebook — and partition pruning still holds."""
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((300, 16)).astype(float)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(300)],
        "vec_id long, embedding array<double>")
    old = df.filter(F.col("vec_id") < 200)
    new = df.filter(F.col("vec_id") >= 200)
    q = [float(x) for x in vecs[250]]

    path = str(tmp_path / "ivf")
    cents = similarity.ivf_write(old, "vec_id", "embedding", path, n_cells=8)
    similarity.ivf_append(new, "vec_id", "embedding", path)

    stored = similarity.ivf_topk_stored(spark, path, "vec_id", "embedding",
                                        q, k=10, nprobe=3)
    inplan = similarity.ivf_topk(df, "vec_id", "embedding", q, k=10,
                                 n_cells=8, nprobe=3, centroids=cents)
    assert [r["vec_id"] for r in stored.collect()] == \
           [r["vec_id"] for r in inplan.collect()]
    # appended vectors are findable: 250 is its own nearest neighbor
    assert stored.first()["vec_id"] == 250

    cand = similarity.ivf_probe_scan(spark, path, q, nprobe=3)
    read = {r["f"] for r in cand.select(
        F.input_file_name().alias("f")).distinct().collect()}
    assert len({f.split("cell=")[1].split("/")[0] for f in read}) <= 3

    # the crashed-append retry safety net: a duplicated id must be caught
    import pytest
    with pytest.raises(ValueError, match="already stored"):
        similarity.ivf_append(new, "vec_id", "embedding", path,
                              check_disjoint=True)


def test_pii_scrub_matches_duckdb_oracle(spark):
    """pii_scrub / pii_count vs the exact DuckDB SQL mirror — same regex
    subset (RE2 ∩ java.util.regex), same chain order, identical output."""
    import duckdb
    import pandas as pd
    rows = [
        (1, "contact alice@example.com or bob.smith+x@sub.domain.org now"),
        (2, "server at 10.0.255.3 fell back to 192.168.1.1 overnight"),
        (3, "call +1 (415) 555-0199 or 020-7946-0958 for details"),
        (4, "mixed: eve@ex.io from 8.8.8.8 dialed 555 123 4567 twice"),
        (5, "no pii here, just words and a number 42 alone"),
        (6, ""),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "t"])
    sdf = spark.createDataFrame(pdf)
    got = (sdf.select("doc_id", text.pii_scrub("t").alias("clean"),
                      text.pii_count("t", "email").alias("n_email"),
                      text.pii_count("t", "ip").alias("n_ip"),
                      text.pii_count("t", "phone").alias("n_phone"))
           .orderBy("doc_id").collect())
    con = duckdb.connect()
    con.register("d", pdf)
    exp = con.execute(f"""
        SELECT doc_id, {text.pii_scrub_sql('t')} AS clean,
               {text.pii_count_sql('t', 'email')} AS n_email,
               {text.pii_count_sql('t', 'ip')} AS n_ip,
               {text.pii_count_sql('t', 'phone')} AS n_phone
        FROM d ORDER BY doc_id
    """).fetchall()
    for g, e in zip(got, exp):
        assert (g["clean"], g["n_email"], g["n_ip"], g["n_phone"]) == \
            (e[1], e[2], e[3], e[4]), (g["doc_id"], g["clean"], e[1])
    by_id = {g["doc_id"]: g for g in got}
    assert by_id[1]["clean"] == "contact <EMAIL> or <EMAIL> now"
    assert by_id[2]["n_ip"] == 2 and "<IP>" in by_id[2]["clean"]
    assert by_id[3]["n_phone"] == 2
    assert by_id[5]["clean"] == rows[4][1]  # untouched


def test_repetition_ratio_matches_duckdb_oracle(spark):
    import duckdb
    import glob
    import os
    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("driver testdata not present")
    p = os.path.join(sf, "documents.parquet")
    got = {r["doc_id"]: r["rep"] for r in
           spark.read.parquet(p)
           .select("doc_id", text.repetition_ratio("text", k=3).alias("rep"))
           .collect()}
    con = duckdb.connect()
    exp = con.execute(f"""
        SELECT doc_id, {text.repetition_ratio_sql('text', 3)} AS rep
        FROM read_parquet('{p}')
    """).fetchall()
    assert len(exp) == len(got)
    for doc_id, rep in exp:
        assert got[doc_id] == rep, doc_id  # bit-identical IEEE expression tree


def test_repetition_ratio_flags_looping_text(spark):
    rows = [(1, "spam spam spam spam spam spam spam spam spam spam"),
            (2, "each of these little words appears exactly once in here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    rep = {r["doc_id"]: r["rep"] for r in
           df.select("doc_id", text.repetition_ratio("text", k=3).alias("rep")).collect()}
    assert rep[1] > 0.8 and rep[2] == 0.0


def test_zero_vector_never_tops_similarity(spark):
    """A zero embedding (padding / failed-encode artifact) must score 0.0
    cosine, not NaN — Spark sorts NaN above every double, so an unguarded
    zero vector would rank #1 in every top-k and pass every threshold."""
    from cdc_core_spark.operators import similarity

    rows = [(0, [0.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    top = similarity.cosine_topk(df, "vec_id", "embedding",
                                 [1.0, 0.0, 0.0], k=3).collect()
    assert [r["vec_id"] for r in top] == [1, 2, 0]
    assert top[-1]["cosine"] == 0.0  # zero vector scores 0, ranks last

    pairs = dedup.embedding_near_dupes(df, "vec_id", "embedding", dim=3,
                                       threshold=0.5)
    for r in pairs.collect():
        assert 0 not in (r["doc_a"], r["doc_b"])  # no NaN-admitted pairs


def test_embedding_near_dupes_thresholds_unrounded_cosine(spark):
    """Boundary invariant: a pair whose true cosine is a hair BELOW the
    threshold must be excluded even though round(·, 6) would land exactly
    ON it (rounding before thresholding would admit it)."""
    import math

    theta = math.acos(0.9499996)  # rounds to 0.950000 at 6 places
    rows = [(0, [1.0, 0.0]), (1, [math.cos(theta), math.sin(theta)]),
            (2, [1.0, 1e-9])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             dedup.embedding_near_dupes(df, "vec_id", "embedding", dim=2,
                                        threshold=0.95).collect()}
    assert (0, 1) not in pairs   # 0.9499996 < 0.95 — must stay out
    assert (0, 2) in pairs       # sanity: a true near-dup is found


def test_simhash_near_dupes_any_max_hamming_is_exact(spark):
    """Dynamic banding: for ANY max_hamming the banded candidates must
    recover exactly the brute-force hamming-≤k pairs (the old fixed 4×16
    split silently lost pairs for k ≥ 4)."""
    import itertools

    rows = [(i, f"doc number {i} with shared vocabulary plus "
                + " ".join(f"tok{j}" for j in range(i % 5)))
            for i in range(14)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    hashes = {r["doc"]: r["simhash"] for r in
              dedup.simhash64(docs, "doc_id", "text").collect()}
    for k in (4, 6):
        want = {(a, b) for a, b in itertools.combinations(sorted(hashes), 2)
                if bin((hashes[a] ^ hashes[b]) & (1 << 64) - 1).count("1") <= k}
        got = {(r["doc_a"], r["doc_b"]) for r in
               dedup.simhash_near_dupes(docs, "doc_id", "text", max_hamming=k,
                                        max_bucket=10_000).collect()}
        assert got == want, f"k={k}"
    import pytest
    with pytest.raises(ValueError, match="max_hamming"):
        dedup.simhash_near_dupes(docs, "doc_id", "text", max_hamming=16)


def test_search_text_normalizes_query_like_index(spark):
    """A punctuated query term ('e-mail') must match documents through the
    SAME normalization the index build used — it expands to its tokens
    instead of comparing a string no index entry can equal."""
    from cdc_core_spark.operators import textsearch

    docs = spark.createDataFrame(
        [(1, "Contact us by e-mail today"), (2, "snail mail only"),
         (3, "nothing relevant")],
        "doc_id long, text string")
    idx = textsearch.build_text_index(docs, "doc_id", "text")
    hits = {r["doc"] for r in
            textsearch.search_text(idx, ["e-mail"], mode="all").collect()}
    assert hits == {1}
    any_hits = {r["doc"] for r in
                textsearch.search_text(idx, ["E-Mail"], mode="any").collect()}
    assert any_hits == {1, 2}  # token 'mail' also matches doc 2


def test_search_text_unsatisfiable_and_empty_terms(spark):
    """An all-punctuation term has no index tokens: under mode='all' the
    query is unsatisfiable (empty result — dropping the term would silently
    widen AND semantics); under 'any' it contributes nothing. Only a query
    with no content at all raises."""
    import pytest

    from cdc_core_spark.operators import textsearch

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "doc_id long, text string")
    idx = textsearch.build_text_index(docs, "doc_id", "text")
    # 'all' with a dead term: empty, even though 'alpha' matches doc 1
    assert textsearch.search_text(idx, ["alpha", "!!!"], mode="all").count() == 0
    # 'any' with the same mix: the live term still matches
    hits = {r["doc"] for r in
            textsearch.search_text(idx, ["alpha", "!!!"], mode="any").collect()}
    assert hits == {1}
    # all-punctuation query: empty result (schema intact), NOT an exception
    empty = textsearch.search_text(idx, ["???"], mode="any")
    assert empty.count() == 0
    assert empty.columns == ["doc", "n_terms_matched", "score"]
    # truly contentless query still raises
    with pytest.raises(ValueError, match="non-empty term"):
        textsearch.search_text(idx, ["", "   "])


def test_simhash_narrow_band_warns(spark):
    """Narrow bands (max_hamming >= 4 -> < 16-bit band keys) saturate an
    EXPLICIT bucket cap on large corpora; the operator must say so at call
    time. The default auto cap is sized from the corpus (4x expected
    uniform band load, floor 256) and must neither warn nor drop
    hash-typical buckets."""
    import warnings

    docs = spark.createDataFrame([(1, "a b c"), (2, "a b d")],
                                 "doc_id long, text string")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        dedup.simhash_near_dupes(docs, "doc_id", "text", max_hamming=5,
                                 max_bucket=256)
        assert any("saturate" in str(x.message) for x in w)
    for k in (3, 5):   # auto cap: no warning at any band width
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            dedup.simhash_near_dupes(docs, "doc_id", "text", max_hamming=k)
            assert not any("saturate" in str(x.message) for x in w), k


def test_search_text_tfidf(spark, tmp_path):
    """TF-IDF scoring: rarer terms weigh more. 'alpha' appears in 1 of 3
    docs (idf = ln 3), 'beta' in all 3 (idf = 0) — under tfidf doc 1 must
    outrank docs that only match the ubiquitous term, and the stored-index
    path (N from the metadata sidecar) must agree exactly."""
    import math

    from cdc_core_spark.operators import textsearch

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta beta beta"), (3, "beta")],
        "doc_id long, text string")
    idx = textsearch.build_text_index(docs, "doc_id", "text")
    with pytest.raises(ValueError, match="requires n_docs"):
        textsearch.search_text(idx, ["alpha"], scoring="tfidf")
    got = {r["doc"]: r["score"] for r in
           textsearch.search_text(idx, ["alpha", "beta"], scoring="tfidf",
                                  n_docs=3).collect()}
    assert got[1] == round(1 * math.log(3 / 1) + 1 * math.log(3 / 3), 4)
    assert got[2] == 0.0 and got[3] == 0.0  # ubiquitous term carries no weight

    path = str(tmp_path / "tsidx")
    textsearch.write_text_index(idx, path, n_buckets=4)
    stored = {r["doc"]: r["score"] for r in
              textsearch.search_text_stored(spark, path, ["alpha", "beta"],
                                            scoring="tfidf").collect()}
    assert stored == got


def test_connected_components_converges_exactly_at_diameter(spark):
    """max_iters counts label-CHANGING rounds (= diameter); the no-change
    confirmation round runs outside the budget, so a path graph whose
    propagation needs exactly max_iters rounds must succeed, and one round
    fewer must raise."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "doc_a long, doc_b long")
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4)], "doc long")
    got = {r["doc"]: r["cluster_id"] for r in
           dedup.connected_components(pairs, nodes, max_iters=3).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, nodes, max_iters=2)


def test_search_text_randomized_vs_python_model(spark):
    """Randomized model check: for random corpora and random queries, both
    scoring contracts and both modes must equal a pure-Python evaluation
    of the same spec (tokenize -> tf -> df -> score -> rank)."""
    import math
    import random
    import re as _re

    from cdc_core_spark.operators import textsearch

    rng = random.Random(17)
    vocab = ["alpha", "beta", "gamma", "delta", "e-mail", "Zero9", "the"]
    docs = [(i, " ".join(rng.choices(vocab, k=rng.randint(0, 12))))
            for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    idx = textsearch.build_text_index(df, "doc_id", "text")

    def toks(s):
        return _re.sub(r"[^a-z0-9\s]", " ", s.lower()).split()

    corpus = {i: toks(t) for i, t in docs}
    n_docs = sum(1 for ts in corpus.values() if ts)

    for _ in range(8):
        q = rng.sample(vocab, rng.randint(1, 3))
        qtoks = sorted({tok for t in q for tok in toks(t)})
        for mode in ("any", "all"):
            for scoring in ("tf", "tfidf"):
                nd = n_docs if scoring == "tfidf" else None
                got = {r["doc"]: (r["n_terms_matched"], r["score"]) for r in
                       textsearch.search_text(idx, q, mode=mode,
                                              scoring=scoring,
                                              n_docs=nd).collect()}
                want = {}
                for i, ts in corpus.items():
                    hit = [t for t in qtoks if t in ts]
                    if not hit or (mode == "all" and len(hit) < len(qtoks)):
                        continue
                    if scoring == "tf":
                        sc = sum(ts.count(t) for t in hit)
                    else:
                        sc = round(sum(
                            ts.count(t) * math.log(
                                n_docs / sum(1 for d in corpus.values()
                                             if t in d))
                            for t in hit), 4)
                    want[i] = (len(hit), sc)
                assert got == want, (q, mode, scoring)


def test_dedup_unicode_and_empty_normalization_handling(spark):
    """ASCII-default normalization collapses non-Latin docs to "" — the
    near-dup operators must EXCLUDE those from candidate generation (else
    every CJK pair scores 1.0), exact_dedup groups them (documented), and
    unicode_letters=True keeps their content distinct."""
    rows = [(1, "机器学习模型训练"), (2, "完全不同的文本内容"),
            (3, "plain english text here"), (4, "plain english text here"),
            (5, "机器学习模型训练")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # ASCII default: CJK docs are invisible to near-dup candidates
    assert dedup.ngram_jaccard_pairs(df, "doc_id", "text",
                                     threshold=0.1).filter(
        F.col("doc_a").isin(1, 2, 5) | F.col("doc_b").isin(1, 2, 5)
    ).count() == 0
    assert dedup.minhash_near_dupes(df, "doc_id", "text").filter(
        F.col("doc_a").isin(1, 2, 5) | F.col("doc_b").isin(1, 2, 5)
    ).count() == 0
    assert dedup.simhash_near_dupes(df, "doc_id", "text").filter(
        F.col("doc_a").isin(1, 2, 5) | F.col("doc_b").isin(1, 2, 5)
    ).count() == 0

    # unicode mode: identical CJK docs pair up; DIFFERENT CJK docs don't
    pairs = {(r["doc_a"], r["doc_b"]) for r in dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", threshold=0.9, unicode_letters=True).collect()}
    assert (1, 5) in pairs and (3, 4) in pairs
    assert not any({a, b} == {1, 2} for a, b in pairs)
    # exact dedup under unicode: 3 distinct normal forms among CJK+english
    groups = dedup.exact_dedup(df, "text", "doc_id",
                               unicode_letters=True).collect()
    assert sorted(g["dup_count"] for g in groups) == [1, 2, 2]


def test_embedding_near_dupes_auto_bucket_cap(spark):
    """The corpus-sized auto cap (max_bucket=None) must keep finding a
    planted near-duplicate at a corpus size where a small fixed cap
    saturates every 4-bit band bucket and silently returns nothing."""
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((300, 8))
    vecs[299] = vecs[0] + 1e-4          # planted near-dup of vec 0
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(300)],
        "doc_id long, embedding array<double>")
    found = {(r["doc_a"], r["doc_b"]) for r in dedup.embedding_near_dupes(
        df, "doc_id", "embedding", dim=8, threshold=0.999).collect()}
    assert (0, 299) in found
    # a cap of 1 drops every bucket — demonstrating what a saturated fixed
    # cap does, and why the default derives from the corpus instead
    assert dedup.embedding_near_dupes(df, "doc_id", "embedding", dim=8,
                                      threshold=0.999,
                                      max_bucket=1).count() == 0
    import pytest
    with pytest.raises(ValueError, match="divide"):
        dedup.embedding_near_dupes(df, "doc_id", "embedding", dim=8,
                                   n_planes=16, bands=5)


def test_sampling_null_ids_consistent(spark):
    """NULL ids: split tags NULL (never a silent 'train'), sample excludes —
    the same population, visible instead of mislabeled."""
    from cdc_core_spark.operators import sampling

    df = spark.createDataFrame([("a",), ("b",), (None,)], "doc_id string")
    tags = {r["doc_id"]: r["split"] for r in
            sampling.consistent_split(df, "doc_id").collect()}
    assert tags[None] is None
    assert set(tags["a"] for _ in [0]) <= {"train", "holdout"}
    assert sampling.consistent_sample(df, "doc_id", 1000).count() == 2


def test_ivf_string_ids_and_exact_pairs_id_guard(spark, tmp_path):
    """ivf paths carry the id column's REAL type (string uuids work);
    cosine_pairs_exact rejects non-integer ids up front with guidance."""
    import pytest

    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((40, 8))
    df = spark.createDataFrame(
        [(f"doc-{i:03d}", [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id string, embedding array<double>")
    q = [float(x) for x in vecs[7]]
    top = similarity.ivf_topk(df, "vec_id", "embedding", q, k=3,
                              n_cells=4, nprobe=4)
    assert top.first()["vec_id"] == "doc-007"
    path = str(tmp_path / "ivf_str")
    similarity.ivf_write(df, "vec_id", "embedding", path, n_cells=4)
    stored = similarity.ivf_topk_stored(spark, path, "vec_id", "embedding",
                                        q, k=3, nprobe=4)
    assert stored.first()["vec_id"] == "doc-007"
    with pytest.raises(ValueError, match="integer id"):
        similarity.cosine_pairs_exact(df, "vec_id", "embedding", 0.9)


def test_fsutil_hadoop_scheme_roundtrip(spark, tmp_path):
    """fsutil routes scheme'd paths through the Hadoop FileSystem API —
    exercised in-sandbox via file:/ (LocalFileSystem), the same code path
    s3a/hdfs take; scheme-less paths stay on atomic POSIX IO. The stored
    text index works end-to-end over a file:/ URI."""
    import os

    from cdc_core_spark import fsutil
    from cdc_core_spark.operators import textsearch as ts

    p = f"file://{tmp_path}/side/meta.json"
    fsutil.write_json(spark, p, {"a": 1})
    assert fsutil.read_json(spark, p) == {"a": 1}
    fsutil.write_json(spark, p, {"a": 2})      # overwrite via rename
    assert fsutil.read_json(spark, p) == {"a": 2}
    local = str(tmp_path / "side2/meta.json")
    fsutil.write_json(spark, local, {"b": 3})
    assert fsutil.read_json(spark, local) == {"b": 3}

    rows = [(i, f"alpha w{i % 7} " + ("merge " * (i % 3))) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uri = f"file://{tmp_path}/tidx"
    ts.write_text_index(ts.build_text_index(df, "doc_id", "text"),
                        uri, n_buckets=4)
    want = ts.search_text(ts.build_text_index(df, "doc_id", "text"),
                          ["merge"], scoring="tfidf", n_docs=60).collect()
    got = ts.search_text_stored(spark, uri, ["merge"], scoring="tfidf")
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want]
    # the generation publish (new g<n>, sidecar, stale-generation removal)
    # runs through the Hadoop FileSystem API too
    ts.compact_text_index(spark, uri)
    got = ts.search_text_stored(spark, uri, ["merge"], scoring="tfidf")
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want]
    # (LocalFileSystem adds hidden .crc checksum siblings)
    assert sorted(n for n in os.listdir(tmp_path / "tidx")
                  if not n.startswith(".")) == ["_index_meta.json", "g2"]


def test_stratified_sample_exact_excludes_null_ids(spark):
    """NULL ids hash to NULL, which sorts NULLS FIRST under the rank window
    — left in, they'd preferentially FILL the k slots; the contract is the
    same exclusion consistent_split/consistent_sample apply."""
    from cdc_core_spark.operators import sampling

    rows = ([(i, "s") for i in range(10)]
            + [(None, "s")] * 5)
    df = spark.createDataFrame(rows, "doc_id long, stratum string")
    out = sampling.stratified_sample_exact(df, "stratum", "doc_id", k=4)
    got = [r["doc_id"] for r in out.collect()]
    assert len(got) == 4 and None not in got


def test_pack_documents_null_tokens_rank_last(spark):
    """A NULL tokens value yields a NULL raw pack key; it must take the LAST
    pack id (matching the SQL oracle's default null ordering), not pack 0
    shifting every real pack up (Spark default is ASC NULLS FIRST)."""
    from cdc_core_spark.operators import chunking

    rows = [("en", 1, 800), ("en", 2, 5000), ("en", 3, None)]
    df = spark.createDataFrame(rows, "lang string, doc_id long, toks long")
    out = chunking.pack_documents(df, "lang", "doc_id", "toks",
                                  target_tokens=2000)
    got = {r["doc_id"]: r["pack_id"] for r in out.collect()}
    assert got[3] == max(got.values())      # null-token doc packs LAST
    assert got[2] == 0 and got[1] == 1      # oversized then quota, dense


def test_kmeans_refine_monotone_inertia_and_deterministic(spark):
    """Lloyd's guarantee: inertia is non-increasing round over round; the
    refined codebook is run-stable (means rounded to damp float-order
    jitter) and an emptied cell keeps its previous centroid."""
    rng = np.random.default_rng(17)
    centers = rng.standard_normal((4, 8)) * 4
    vecs = np.vstack([c + rng.standard_normal((60, 8)) * 0.5
                      for c in centers])
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(len(vecs))],
        "vec_id long, embedding array<double>")
    c0 = similarity.deterministic_centroids(df, "embedding", 4, "vec_id")
    i0 = similarity.ivf_inertia(df, "vec_id", "embedding", c0)
    c1 = similarity.kmeans_refine(df, "vec_id", "embedding", c0, iters=1)
    i1 = similarity.ivf_inertia(df, "vec_id", "embedding", c1)
    c2 = similarity.kmeans_refine(df, "vec_id", "embedding", c1, iters=1)
    i2 = similarity.ivf_inertia(df, "vec_id", "embedding", c2)
    assert i1 <= i0 * (1 + 1e-9) and i2 <= i1 * (1 + 1e-9), (i0, i1, i2)
    assert i1 < i0  # sampled start is strictly improvable on blob data
    # determinism across runs (same input, fresh lineage)
    c1b = similarity.kmeans_refine(df, "vec_id", "embedding", c0, iters=1)
    assert np.array_equal(c1, c1b)
    # a far-away centroid acquires no points and must stay put
    far = np.vstack([c1, np.full((1, 8), 1e6)])
    ref = similarity.kmeans_refine(df, "vec_id", "embedding", far, iters=1)
    assert np.array_equal(ref[-1], far[-1])


def test_ivf_write_refined_layout_keeps_recall(spark, tmp_path):
    """refine_iters flows through ivf_write: the stored layout probes with
    the REFINED codebook (sidecar roundtrip) and recall on clustered data
    holds at the existing bar."""
    rng = np.random.default_rng(23)
    centers = rng.standard_normal((8, 16)) * 5
    vecs = np.vstack([c + rng.standard_normal((40, 16)) * 0.3
                      for c in centers])
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(len(vecs))],
        "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivf_ref")
    cents = similarity.ivf_write(df, "vec_id", "embedding", path,
                                 n_cells=8, refine_iters=2)
    raw = similarity.deterministic_centroids(df, "embedding", 8, "vec_id")
    assert not np.array_equal(cents, raw)  # refinement actually ran
    q = (centers[5] + 0.1 * rng.standard_normal(16)).tolist()
    exact = {r["vec_id"] for r in
             similarity.cosine_topk(df, "vec_id", "embedding", q,
                                    k=5).collect()}
    stored = {r["vec_id"] for r in
              similarity.ivf_topk_stored(spark, path, "vec_id", "embedding",
                                         q, k=5, nprobe=3).collect()}
    assert len(exact & stored) >= 4


def test_chunk_text_rejects_negative_overlap(spark):
    from cdc_core_spark.operators import chunking
    df = spark.createDataFrame([(1, "abc")], "id long, text string")
    with pytest.raises(ValueError, match="overlap"):
        chunking.chunk_text(df, "id", "text", chunk_chars=512, overlap=-64)


def test_cosine_dimension_mismatch_is_loud(spark):
    """A wrong-width query must raise, not return a silently empty top-k
    (zip_with null-pads the short side otherwise); null vectors keep
    null-propagating."""
    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, None)],
        "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="dimension"):
        similarity.cosine_topk(df, "vec_id", "embedding",
                               [1.0, 2.0], k=1).collect()
    ok = similarity.cosine_topk(df, "vec_id", "embedding",
                                [1.0, 0.0, 0.0], k=5).collect()
    assert [r["vec_id"] for r in ok][:1] == [1]
