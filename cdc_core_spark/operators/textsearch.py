"""Full-text search over a document table — the reference's third DataStore
implementation (Solr), re-expressed as a lake-resident inverted index.

Reference surface: impl/solr/SolrDataStore.java (text query → scored doc
list) and impl/solr/SolrCursor.java (paged relevance-ordered scroll). The
reference delegates tokenization, the inverted index, and scoring to the
Solr engine; here each piece is one declarative DataFrame op so Catalyst
owns the plan:

* **Index build** — tokenize (same normalization as the dedup family) →
  explode → ``groupBy(term, doc)`` term frequencies, plus a tiny per-term
  document-frequency side table. One shuffle, map-side combine; at 100 TB
  persist it partitioned by a term-hash bucket so a query's semi-join
  prunes to the probed buckets.
* **Query** — the query's terms are a literal handful → broadcast inner
  join against the index (no corpus scan at all: only index rows for the
  queried terms move), aggregate per doc, rank.
* **Scoring** — deterministic, doc-id tiebreak, so results are stable and
  oracle-checkable: ``scoring="tf"`` sums per-term TF (exact integers);
  ``scoring="tfidf"`` weights by inverse document frequency
  (``sum(tf · ln(N/df))`` rounded to 4 decimals — df comes free from the
  matched rows, N from the stored index's metadata sidecar so no query
  ever re-counts the corpus). ``mode="all"`` keeps only docs matching
  EVERY term (the AND-of-terms form), ``mode="any"`` is the OR form.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdc_core_spark import fsutil
from cdc_core_spark.operators.dedup import tokens


def _normalize_terms(terms: list[str]) -> tuple[list[str], bool]:
    """Normalize query terms EXACTLY like the index side
    (dedup.normalize_text: lowercase, non-alphanumerics → space) — a
    punctuated term like "e-mail" expands to its index tokens ('e',
    'mail') instead of a string no index entry can ever equal;
    ``mode="all"`` then requires every derived token. Shared by the
    in-plan query AND the stored-index bucket probe so both hash the same
    strings the writer indexed.

    Returns ``(tokens, unsatisfiable)``: a non-empty term that normalizes
    to ZERO tokens (all punctuation, e.g. ``"!!!"``) can never match any
    index entry, so it flips ``unsatisfiable`` — under ``mode="all"`` the
    whole query must then return empty (dropping the term would silently
    widen AND semantics); under ``"any"`` it simply contributes nothing.
    Raises only when no term has any content at all (empty/whitespace
    strings), matching the pre-normalization contract."""
    if not any(t and t.strip() for t in terms):
        raise ValueError("search needs at least one non-empty term")
    per_term = {t: re.sub(r"[^a-z0-9\s]", " ", t.lower()).split()
                for t in terms if t and t.strip()}
    unsat = any(not toks for toks in per_term.values())
    return sorted({tok for toks in per_term.values() for tok in toks}), unsat


def build_text_index(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Inverted index: one ``(term, doc, tf)`` row per distinct term per
    document. Explode + groupBy — one shuffle with map-side partial counts."""
    return (df.select(F.col(id_col).alias("doc"),
                      F.explode(tokens(text_col)).alias("term"))
            .filter(F.col("term") != "")
            .groupBy("term", "doc")
            .agg(F.count("*").alias("tf")))


def search_text(index: DataFrame, terms: list[str], mode: str = "any",
                limit: int | None = None, scoring: str = "tf",
                n_docs: int | None = None) -> DataFrame:
    """Term query over the inverted index (SolrDataStore search analog).

    Returns ``(doc, n_terms_matched, score)`` ordered by score desc with a
    doc-id tiebreak — the deterministic relevance contract. ``mode="all"``
    requires every query term to match (AND); ``"any"`` is OR. The query
    term list is literal and tiny, so the join broadcasts — the only index
    rows that move are those for the queried terms (partition-pruned when
    the index is stored bucketed by term hash).

    ``scoring``: ``"tf"`` (default) sums raw term frequencies (exact
    integer — fully order-insensitive). ``"tfidf"`` weights each term by
    its inverse document frequency, ``sum(tf · ln(N / df))`` rounded to 4
    decimals, where ``df`` is computed from the matched index rows (every
    row for a matched term is in the broadcast-join output, so no second
    corpus pass) and ``N`` is the corpus document count — ``n_docs`` is
    REQUIRED for tfidf: the stored-index path reads it from
    ``_index_meta.json``, and making the caller supply it keeps the
    full-index ``countDistinct(doc)`` pass — exactly what you must not do
    per-query at 100 TB — impossible to trigger silently from the query
    API. ``search_documents`` (the ad-hoc one-shot) remains the only place
    that count job is implied.
    """
    if mode not in ("any", "all"):
        raise ValueError(f"mode must be 'any' or 'all', got {mode!r}")
    if scoring not in ("tf", "tfidf"):
        raise ValueError(f"scoring must be 'tf' or 'tfidf', got {scoring!r}")
    if scoring == "tfidf" and n_docs is None:
        raise ValueError(
            "scoring='tfidf' requires n_docs (the corpus document count): "
            "read it from the stored index's _index_meta.json "
            "(search_text_stored does this), or count once at index-build "
            "time — a per-query countDistinct over the index is the "
            "100-TB anti-pattern this parameter exists to prevent. For "
            "ad-hoc search over a raw document table use search_documents, "
            "which owns that one-shot count explicitly.")
    norm, unsat = _normalize_terms(terms)
    q = index.sparkSession.createDataFrame([(t,) for t in norm],
                                           "term string")
    matched = index.join(F.broadcast(q), "term")
    if scoring == "tf":
        hits = (matched.groupBy("doc")
                .agg(F.count("*").alias("n_terms_matched"),
                     F.sum("tf").alias("score")))
    else:
        dfreq = matched.groupBy("term").agg(
            F.count_distinct("doc").alias("df"))
        nd = int(n_docs)
        hits = (matched.join(F.broadcast(dfreq), "term")
                .groupBy("doc")
                .agg(F.count("*").alias("n_terms_matched"),
                     F.round(F.sum(F.col("tf")
                                   * F.log(F.lit(float(nd)) / F.col("df"))),
                             4).alias("score")))
    if mode == "all":
        hits = hits.filter(F.col("n_terms_matched") == len(norm))
        if unsat or not norm:
            # an all-punctuation term can never match: AND is unsatisfiable
            hits = hits.filter(F.lit(False))
    out = hits.orderBy(F.col("score").desc(), F.col("doc").asc())
    return out.limit(limit) if limit is not None else out


def search_documents(df: DataFrame, id_col: str, text_col: str,
                     terms: list[str], mode: str = "any",
                     limit: int | None = None,
                     scoring: str = "tf") -> DataFrame:
    """AD-HOC one-shot search ONLY — bulk / repeated querying belongs on
    the stored-index path (``write_text_index`` + ``read_text_index`` +
    ``search_text``), which tokenizes the corpus once and carries
    ``n_docs`` in its sidecar so no query ever re-counts the corpus.

    This convenience builds the index in-plan and queries it. For
    ``scoring="tfidf"`` it is the ONE place a corpus
    ``countDistinct(doc)`` job is implied — acceptable here because the
    caller is already paying a full index build in the same query; every
    other tfidf path must supply ``n_docs`` from metadata."""
    index = build_text_index(df, id_col, text_col)
    n_docs = None
    if scoring == "tfidf":
        # materialize once: the doc-count job AND the search below both
        # consume the (tokenize + explode + groupBy) plan — unmaterialized,
        # the whole corpus would tokenize and shuffle twice per call (the
        # same rationale as write_text_index's checkpoint)
        index = index.localCheckpoint(eager=False)
        n_docs = index.select(F.count_distinct("doc")).first()[0]
    return search_text(index, terms, mode=mode, limit=limit,
                       scoring=scoring, n_docs=n_docs)


def _write_bucketed(index: DataFrame, path: str, n_buckets: int,
                    mode: str) -> None:
    """THE single definition of the on-disk layout (write, append, and
    compact all route here — the bucketing hash, the partition column, and
    the term-clustering sort must never drift between them, or appended/
    compacted files would land in buckets the prober no longer computes):
    term-hash bucket partition directories, each file sorted by
    ``(term, doc)`` so parquet row-group min/max on ``term`` prunes within
    the probed buckets too."""
    bucketed = index.withColumn(
        "term_bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"))
    (bucketed.repartition(n_buckets, "term_bucket")
     .sortWithinPartitions("term", "doc")
     .write.partitionBy("term_bucket").mode(mode)
     .options(**fsutil.parquet_write_options()).parquet(path))


_META = "_index_meta.json"


def write_text_index(index: DataFrame, path: str, n_buckets: int = 64) -> None:
    """Persist the inverted index PARTITIONED BY TERM-HASH BUCKET — the
    storage layout that makes a query a directory-pruned read: the probed
    terms hash to a handful of buckets, so the scan touches ~|terms|/n_buckets
    of the index files instead of all of them (the Solr-shard analog, and the
    same shape as ``similarity.ivf_write``). Bucket count and corpus doc
    count ride a ``_index_meta.json`` sidecar.

    Published by ``fsutil.publish_generation`` (postings in a fresh
    ``g<n>/``, then the sidecar naming it): a crash leaves the old index
    or the new one answering, never a mix, on any scheme fsutil speaks."""
    # materialize once: the doc-count job AND the write both consume the
    # (tokenize + explode + groupBy) plan
    index = index.localCheckpoint(eager=False)
    # corpus doc count rides the sidecar so tfidf queries never pay a
    # full-index countDistinct pass (one extra job HERE, at write time)
    n_docs = index.select(F.count_distinct("doc")).first()[0]
    fsutil.publish_generation(
        index.sparkSession, path, _META,
        {"n_buckets": n_buckets, "n_docs": n_docs},
        lambda d: _write_bucketed(index, d, n_buckets, "overwrite"))


def append_text_index(index: DataFrame, path: str,
                      check_disjoint: bool = False) -> None:
    """Incrementally extend a stored index with NEW documents' postings —
    the growing-corpus maintenance path: cost is one shuffle over the new
    postings only, never a rebuild of the existing layout (at 100 TB a
    full index rebuild per ingest batch is the anti-pattern this exists to
    avoid). Appended files land inside the live generation's term-hash
    bucket directories (the sidecar's ``n_buckets`` keys the hash, so old
    and new files agree), query-side directory pruning is unchanged, and
    each new file is term-clustered for row-group pruning exactly like the
    originals. Searching after an append is equal to searching a full
    rebuild — asserted in tests and exercised by the ``text_search`` gate.

    The caller guarantees the new doc ids are DISJOINT from the indexed
    ones (appending an already-indexed doc would double its term
    frequencies); ``check_disjoint=True`` verifies with a semi-join over
    the stored doc ids — one extra index scan, affordable at append time,
    off by default for batches whose disjointness is structural (e.g.
    monotonic ingest ids).

    Crash semantics: the ``n_docs`` sidecar updates AFTER the postings
    land (atomic publish). A crash between the two leaves the count
    stale-low — tfidf scores deflate uniformly (``ln(N/df)`` with a
    smaller N) until repaired — and the batch's postings possibly
    half-committed. Recovery from a crashed append is therefore NOT a
    blind re-run: re-appending rows already on disk would double their
    term frequencies with no error (and break ``mode="all"``'s
    n_terms_matched contract). Re-run with ``check_disjoint=True`` (any
    already-landed doc raises, telling you this batch needs the rebuild
    path) or rebuild via ``write_text_index``."""
    spark = index.sparkSession
    meta, live = fsutil.live_generation(spark, path, _META)
    n_buckets = int(meta["n_buckets"])
    # materialize once: the disjointness probe, the doc-count job, and the
    # write all consume the same (tokenize + explode + groupBy) plan — the
    # advertised "one shuffle over the new postings" holds because the
    # checkpoint runs it once and every action after reads the result
    index = index.localCheckpoint(eager=False)
    if check_disjoint:
        existing = spark.read.parquet(live).select("doc").distinct()
        dup = (index.select("doc").distinct()
               .join(existing, "doc", "left_semi").limit(1).collect())
        if dup:
            raise ValueError(
                f"append_text_index: doc {dup[0]['doc']!r} is already "
                "indexed — appending would double-count its term "
                "frequencies; rebuild with write_text_index (or exclude "
                "already-indexed docs) instead")
    n_new = index.select(F.count_distinct("doc")).first()[0]
    _write_bucketed(index, live, n_buckets, "append")
    meta["n_docs"] = int(meta["n_docs"]) + int(n_new)
    fsutil.write_json(spark, fsutil.sidecar_path(path, _META), meta)


def compact_text_index(spark, path: str) -> None:
    """Maintenance rewrite for an append-grown index (the Solr ``optimize``
    analog): every bucket's accumulated small files are rewritten into one
    term-clustered file per bucket, restoring the row-group pruning quality
    a long append history erodes. Postings, bucket layout, and ``n_docs``
    are unchanged — search results are identical before and after
    (tested), only the file inventory shrinks and the sidecar's ``gen``
    advances by one.

    Same generation publish as ``write_text_index``, so a crash leaves the
    index answering exactly as before. Readers that resolved the old
    generation lose it when its directory is removed — run it in a
    maintenance window, like the lake compaction it mirrors."""
    meta, live = fsutil.live_generation(spark, path, _META)
    n_buckets = int(meta["n_buckets"])
    # route through the shared layout writer (recomputing term_bucket from
    # term — deterministic hash, so values are identical) so the three
    # write paths can never drift apart
    fsutil.publish_generation(
        spark, path, _META, meta,
        lambda d: _write_bucketed(spark.read.parquet(live).drop("term_bucket"),
                                  d, n_buckets, "overwrite"))


def probe_index_scan(spark, path: str, terms: list[str]) -> DataFrame:
    """The pruned index scan under ``search_text_stored``: normalized query
    terms → their hash buckets (computed by the same JVM xxhash64 the writer
    used, via a one-row-per-term probe job — tiny, justified) → a
    partition-column IN-filter Catalyst turns into directory pruning."""
    meta, live = fsutil.live_generation(spark, path, _META)
    n_buckets = meta["n_buckets"]
    norm, _unsat = _normalize_terms(terms)
    probe = spark.createDataFrame([(t,) for t in norm], "term string")
    buckets = sorted({r["b"] for r in probe.select(
        F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int").alias("b")
    ).collect()})
    return (spark.read.parquet(live)
            .filter(F.col("term_bucket").isin(buckets)))


def search_text_stored(spark, path: str, terms: list[str], mode: str = "any",
                       limit: int | None = None,
                       scoring: str = "tf") -> DataFrame:
    """Term query over a stored term-bucketed index written by
    ``write_text_index`` — identical results to ``search_text`` on the full
    index, but the scan reads only the probed terms' bucket directories.
    ``scoring="tfidf"`` reads the corpus doc count from the index sidecar
    (the pruned scan can't see other buckets' docs, and counting them would
    defeat the pruning)."""
    pruned = probe_index_scan(spark, path, terms).drop("term_bucket")
    n_docs = None
    if scoring == "tfidf":
        n_docs = fsutil.live_generation(spark, path, _META)[0]["n_docs"]
    return search_text(pruned, terms, mode=mode, limit=limit,
                       scoring=scoring, n_docs=n_docs)
