"""Deduplication operators for training-data pipelines.

Five strategies, each chosen for a different scale/recall tradeoff:

* ``exact_dedup`` — sha256-normalized hash groupBy (one shuffle, map-side
  partial agg; the only exact method).
* ``ngram_jaccard_pairs`` — exact Jaccard over n-gram token sets computed via
  an inverted-index self-join (explode → groupBy gram → pair counts), the
  standard distributed set-similarity join; no O(N²) cross join.
* ``minhash_near_dupes`` — MinHash signatures (JVM-side xxhash64 per
  permutation) + LSH banding (candidate pairs only where a band collides),
  the 100-TB-scale near-dup path.
* ``simhash64`` — 64-bit SimHash; token hashing stays JVM-side, the bit-fold
  is a vectorized Arrow pandas UDF (numpy), hamming-distance pairs via
  band-of-bits blocking.
* ``embedding_near_dupes`` — cosine near-duplicates over an embedding column
  via random-hyperplane LSH bucketing + exact rerank.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def normalize_text(col, unicode_letters: bool = False) -> "F.Column":
    r"""Canonicalize before hashing: lowercase, collapse whitespace, strip
    non-alphanumerics (keeps spaces).

    The default alphabet is ASCII ``[a-z0-9]`` — it mirrors the DuckDB SQL
    oracles character-for-character. Under it, EVERY non-Latin-script doc
    (CJK, Cyrillic, …) normalizes to the empty string, which would merge
    unrelated documents into one dedup group — so the near-dup operators
    exclude empty normalizations from candidate generation, and
    ``unicode_letters=True`` switches the kept classes to ``\p{L}\p{N}``
    (any letter/digit, java.util.regex and RE2 both support them) for
    multilingual corpora."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    pat = r"[^\p{L}\p{N}\s]" if unicode_letters else r"[^a-z0-9\s]"
    c = F.regexp_replace(c, pat, " ")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def exact_dedup(df: DataFrame, text_col: str, id_col: str,
                unicode_letters: bool = False) -> DataFrame:
    """Exact duplicate groups by sha256(normalized text): returns one row per
    duplicate-set with the canonical (min) id and the group size. Docs that
    normalize to "" DO group together here — identical (empty) normal forms
    are exact duplicates by definition; pass unicode_letters=True so
    non-Latin text keeps its content instead of normalizing empty."""
    h = F.sha2(normalize_text(text_col, unicode_letters), 256)
    return (df.withColumn("text_hash", h)
            .groupBy("text_hash")
            .agg(F.min(id_col).alias("canonical_id"),
                 F.count("*").alias("dup_count")))


def tokens(col, unicode_letters: bool = False) -> "F.Column":
    return F.split(normalize_text(col, unicode_letters), " ")


def word_ngrams(t: "F.Column", n: int) -> "F.Column":
    """Word n-grams of a token array via the zip-shift construction:
    iteratively zip the running gram with the j-shifted token array.

    NOT ``transform(sequence(...), i -> slice(t, i, n))`` — a non-literal
    slice inside a higher-order function is interpreted with an O(len) copy
    per element, i.e. O(len²) per row (measured 18× slower at 100-token
    docs). zip_with is one linear pass per gram order.

    Short docs (< n tokens) yield one shingle covering the whole text,
    matching SQL ``t[i:i+n-1]`` clamped-slice semantics."""
    gram = t
    for j in range(2, n + 1):
        shifted = F.slice(t, j, 1 << 30)  # literal bounds: single O(len) copy
        gram = F.zip_with(gram, shifted,
                          lambda a, b: F.concat(a, F.lit(" "), b))
    full = F.filter(gram, lambda s: s.isNotNull())
    return F.when(F.size(t) < n, F.array(F.concat_ws(" ", t))).otherwise(full)


def ngrams(col, n: int = 3, unicode_letters: bool = False) -> "F.Column":
    """Distinct word n-grams of the normalized text."""
    return F.array_distinct(word_ngrams(tokens(col, unicode_letters), n))


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, threshold: float = 0.5,
                        max_postings: int | None = None,
                        unicode_letters: bool = False) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs ≥ threshold via inverted index:
    |A∩B| from gram co-occurrence counts, |A|,|B| from per-doc gram counts.
    Shuffle cost O(total grams), never O(N²).

    ``max_postings`` is the 100-TB guard: a stop-gram shared by k docs
    produces a k² join group, so corpora with common phrases need the
    posting-list cap (same rationale as the LSH bucket cap). Dropping a
    gram from the INDEX only removes candidate discovery via that gram; it
    biases Jaccard of the surviving pairs because the intersection counter
    loses the gram — hence default None (exact, what the oracle checks) and
    opt-in at scale."""
    # empty normalizations are excluded: a doc whose whole text normalizes
    # away (non-Latin under the ASCII default) has no content to shingle,
    # and keeping it would emit jaccard=1.0 for every such pair. lazy
    # localCheckpoint: the normalize+shingle pipeline feeds sizes AND both
    # self-join sides (and the freq agg under max_postings) — unmaterialized
    # it would run 3-4x (the same rationale as minhash_near_dupes)
    g = (df.select(F.col(id_col).alias("doc"),
                   ngrams(text_col, n, unicode_letters).alias("grams"))
           .filter((F.size("grams") > 1) | (F.element_at("grams", 1) != ""))
           .withColumn("n_grams", F.size("grams"))
           .localCheckpoint(eager=False))
    sizes = g.select("doc", "n_grams")
    inv = g.select("doc", F.explode("grams").alias("gram"))
    if max_postings is not None:
        freq = inv.groupBy("gram").agg(F.count(F.lit(1)).alias("_df"))
        stop = freq.filter(F.col("_df") > max_postings).select("gram")
        inv = inv.join(F.broadcast(stop), "gram", "left_anti")
    # checkpoint AFTER the optional stop-gram anti-join: both self-join
    # sides read the materialized (filtered) postings, so the frequency
    # aggregation + anti-join run once, not once per join alias (the
    # shingle explode feeding freq stays cheap — g above is materialized)
    inv = inv.localCheckpoint(eager=False)
    co = (inv.alias("a").join(inv.alias("b"),
                              (F.col("a.gram") == F.col("b.gram"))
                              & (F.col("a.doc") < F.col("b.doc")))
          .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
          .agg(F.count("*").alias("inter")))
    out = (co.join(sizes.withColumnRenamed("doc", "doc_a")
                        .withColumnRenamed("n_grams", "na"), "doc_a")
             .join(sizes.withColumnRenamed("doc", "doc_b")
                        .withColumnRenamed("n_grams", "nb"), "doc_b"))
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    # threshold on the UNROUNDED ratio (round only the emitted value): the
    # SQL oracle thresholds unrounded, and a boundary pair admitted by
    # rounding would propagate through connected components into whole
    # merged clusters
    return (out.filter(jac >= threshold)
               .withColumn("jaccard", F.round(jac, 6))
               .select("doc_a", "doc_b", "jaccard"))


_MAX_LONG = (1 << 63) - 1


def minhash_signature(col, num_perm: int = 64, shingle_n: int = 3,
                      unicode_letters: bool = False) -> "F.Column":
    """MinHash signature as array<long>: per permutation i, min over shingles
    of xxhash64(shingle, i). All JVM-side.

    Implemented as ONE fold over the shingle array (element-wise least into a
    64-wide accumulator) rather than 64 independent array_min expressions —
    Catalyst collapses projections, so 64 separate expressions would
    re-evaluate the whole normalize/tokenize/shingle pipeline 64× per row
    (measured 10× slowdown at 5k docs).

    Measured dead end: the classical hash-once + 64 affine permutations
    ``(a_i*h+b_i) mod (2^31-1)`` family is ~1.4× SLOWER here — pmod is an
    integer division and 65 of them cost more than 64 seeded xxhash64 calls
    on short shingle strings (5k-doc A/B: 3.6s vs 2.6s)."""
    sh = ngrams(col, shingle_n, unicode_letters)
    init = F.array_repeat(F.lit(_MAX_LONG), num_perm)

    def step(acc, s):
        hashes = F.array(*[F.xxhash64(s, F.lit(i)) for i in range(num_perm)])
        return F.zip_with(acc, hashes, lambda a, b: F.least(a, b))

    return F.aggregate(sh, init, step)


def _pairs_from_buckets(bdf: DataFrame, max_bucket: int) -> DataFrame:
    """Candidate pairs from LSH buckets: group docs per (band, bkey), drop
    oversized buckets (a bucket everyone falls into is a stop-feature, not a
    duplicate signal — the cap is what keeps this sub-quadratic at 100 TB),
    emit in-bucket pair combinations without a self-join."""
    groups = (bdf.groupBy("band", "bkey")
              .agg(F.collect_list("doc").alias("docs"))
              .filter((F.size("docs") >= 2) & (F.size("docs") <= max_bucket)))
    pairs = F.expr(
        "filter(flatten(transform(docs, x -> transform(docs, y -> "
        "struct(x as doc_a, y as doc_b)))), p -> p.doc_a < p.doc_b)")
    return (groups.select(F.explode(pairs).alias("p"))
            .select("p.doc_a", "p.doc_b").distinct())


def minhash_near_dupes(df: DataFrame, id_col: str, text_col: str,
                       num_perm: int = 64, bands: int = 16,
                       shingle_n: int = 3, threshold: float = 0.5,
                       max_bucket: int = 64,
                       unicode_letters: bool = False) -> DataFrame:
    """MinHash + LSH banding near-duplicate pairs.

    Candidates = pairs colliding in ≥1 of ``bands`` bands (rows/band =
    num_perm/bands); estimated Jaccard = fraction of matching signature
    positions; pairs below threshold are filtered after the cheap estimate.
    ``max_bucket`` drops degenerate buckets (see _pairs_from_buckets).
    """
    if num_perm % bands != 0:
        # ValueError, not assert: python -O strips asserts and the silent
        # consequence is unbanded signature positions (lost recall)
        raise ValueError(f"num_perm={num_perm} must divide into bands={bands}")
    r = num_perm // bands
    # localCheckpoint (lazy), not cache(): the signature pipeline feeds the
    # band explode AND both sides of the candidate join — unmaterialized it
    # would be recomputed 3× (the dominant cost; signatures are num_perm
    # longs per doc, tiny to hold). cache() blocks live in the CacheManager
    # until an explicit unpersist — impossible here because the returned
    # DataFrame still references them — so repeated calls leak executor
    # storage for the session lifetime. localCheckpoint blocks are owned by
    # the RDD and reclaimed by the ContextCleaner once the result DataFrame
    # is dropped. (Tradeoff: checkpointed partitions aren't recomputable on
    # executor loss; acceptable for a derived, rerunnable dedup pass.)
    # empty normalizations excluded — same rule as ngram_jaccard_pairs:
    # every such doc shares one degenerate signature and they would all
    # pair with estimated jaccard 1.0
    sigs = (df.filter(normalize_text(text_col, unicode_letters) != "")
            .select(F.col(id_col).alias("doc"),
                    minhash_signature(text_col, num_perm, shingle_n,
                                      unicode_letters).alias("sig"))
            .localCheckpoint(eager=False))
    band_arr = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.xxhash64(F.slice("sig", b * r + 1, r)).alias("bkey"))
        for b in range(bands)
    ])
    bdf = sigs.select("doc", F.explode(band_arr).alias("b")).select(
        "doc", F.col("b.band").alias("band"), F.col("b.bkey").alias("bkey"))
    cand = _pairs_from_buckets(bdf, max_bucket)
    est = (cand.join(sigs.select(F.col("doc").alias("doc_a"), F.col("sig").alias("sa")), "doc_a")
               .join(sigs.select(F.col("doc").alias("doc_b"), F.col("sig").alias("sb")), "doc_b")
               .withColumn("est_jaccard",
                           F.size(F.filter(F.zip_with("sa", "sb", lambda a, b: a == b),
                                           lambda x: x))
                           / F.lit(float(num_perm))))
    return est.filter(F.col("est_jaccard") >= threshold).select("doc_a", "doc_b", "est_jaccard")


def decontaminate(train: DataFrame, evalset: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  n: int = 13, min_overlap: int = 1,
                  broadcast_eval: bool = True,
                  unicode_letters: bool = False) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing ≥ ``min_overlap``
    distinct word n-grams with ANY eval-set document (the classic 13-gram
    rule used to scrub eval leakage from web-scale corpora).

    Shape at 100 TB: the eval side is tiny (benchmarks are thousands of
    docs), so its distinct gram set broadcasts and the check is a broadcast
    semi-join against the exploded train grams — one pass over the corpus,
    no shuffle of train data at all. Set ``broadcast_eval=False`` for an
    unusually large eval side (falls back to a shuffle join).

    Returns (id, n_contaminated_grams, contaminated) — one row per train
    doc, so the caller filters ``~contaminated`` to scrub.

    Empty normalizations are excluded on BOTH sides (same rule as every
    other ngrams() consumer in this module): a doc whose whole text
    normalizes away under the ASCII default emits the single gram '', and
    one such eval doc would otherwise flag every such train doc —
    entire non-Latin corpus slices scrubbed as "contaminated". For genuine
    non-Latin decontamination pass ``unicode_letters=True``."""
    ev_grams = (evalset
                .select(F.explode(ngrams(text_col, n, unicode_letters))
                        .alias("gram"))
                .filter(F.col("gram") != "").distinct())
    if broadcast_eval:
        ev_grams = F.broadcast(ev_grams)
    tr = (train.select(F.col(id_col).alias("doc"),
                       F.explode(ngrams(text_col, n, unicode_letters))
                       .alias("gram"))
          .filter(F.col("gram") != ""))
    hits = (tr.join(ev_grams, "gram")
            .groupBy("doc")
            .agg(F.count(F.lit(1)).alias("n_contaminated_grams")))
    return (train.select(F.col(id_col).alias("doc"))
            .join(hits, "doc", "left")
            .select("doc",
                    F.coalesce("n_contaminated_grams", F.lit(0))
                     .alias("n_contaminated_grams"))
            .withColumn("contaminated",
                        F.col("n_contaminated_grams") >= min_overlap))


def connected_components(pairs: DataFrame, nodes: DataFrame,
                         node_col: str = "doc",
                         a_col: str = "doc_a", b_col: str = "doc_b",
                         max_iters: int = 50) -> DataFrame:
    """Connected components over the near-duplicate pair graph → one
    ``(doc, cluster_id)`` row per node, ``cluster_id`` = min node id of the
    component. This is the step after pair generation in a dedup pipeline:
    components are duplicate CLUSTERS, and `keep doc == cluster_id` retains
    one canonical doc per cluster.

    Distributed min-label propagation: each round joins labels across the
    symmetrized edge set and keeps the per-node minimum; stop when no label
    changed (driver checks a one-row count per round). Rounds needed =
    component diameter — near-dup clusters are dense/clique-like (every
    member collides with the canonical via the same shingles), so diameters
    are tiny and the loop converges in 2-3 rounds regardless of corpus
    size; each round is one join + one groupBy shuffle, all JVM-side.
    ``localCheckpoint`` truncates the iterative lineage so plans don't grow
    unboundedly. (For adversarial long-chain graphs the alternating
    small-star/large-star contraction gives O(log n) rounds — unnecessary
    for dedup-shaped graphs; documented as the 10^9-node escalation path.)

    CONTRACT: rounds needed = component diameter, so ``max_iters`` bounds
    the longest chain this call can label correctly. If the loop exhausts
    ``max_iters`` before a fixpoint (no label changed), the labels are
    PARTIAL — returning them silently would hand downstream ``is_canonical``
    several "canonical" docs per true cluster — so this raises RuntimeError
    instead. Callers with genuinely long-chain graphs should raise
    ``max_iters`` or switch to star contraction.
    """
    sym = (pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
           .unionByName(pairs.select(F.col(b_col).alias("src"),
                                     F.col(a_col).alias("dst"))
                        ).localCheckpoint(eager=False))
    # ^ lazy checkpoint: every propagation round joins against sym, and the
    # caller's pairs plan (e.g. the inverted-index jaccard join) would
    # otherwise re-execute from scratch once per round
    labels = nodes.select(F.col(node_col).alias("node"),
                          F.col(node_col).alias("label")).localCheckpoint(eager=False)
    converged = False
    # max_iters + 1: the budget counts label-CHANGING rounds (= diameter);
    # fixpoint DETECTION needs one further no-change round, which runs
    # outside the budget — otherwise a graph converging exactly at round
    # max_iters would raise on a correct result
    for _ in range(max_iters + 1):
        # neighbor labels: for each edge dst, the src's current label
        nbr = (sym.join(labels.withColumnRenamed("node", "src"), "src")
               .groupBy(F.col("dst").alias("node"))
               .agg(F.min("label").alias("nbr_label")))
        new_labels = (labels.join(nbr, "node", "left")
                      .select("node", F.least("label", F.coalesce("nbr_label", "label"))
                              .alias("label"))
                      .localCheckpoint(eager=False))
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "node")
                   .filter(F.col("n.label") != F.col("o.label")).limit(1).count())
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within max_iters="
            f"{max_iters} rounds (component diameter exceeds the bound); "
            "partial labels would mislabel clusters — raise max_iters or "
            "use star contraction for long-chain graphs")
    return labels.select(F.col("node").alias(node_col),
                         F.col("label").alias("cluster_id"))


def dedup_clusters(df: DataFrame, id_col: str, text_col: str,
                   n: int = 3, threshold: float = 0.5,
                   max_postings: int | None = None,
                   unicode_letters: bool = False) -> DataFrame:
    """End-to-end duplicate clustering: exact n-gram Jaccard pairs ≥
    threshold → connected components → ``(doc, cluster_id, is_canonical)``.
    Deterministic (exact Jaccard edges), so it carries a SQL oracle via a
    recursive-closure CTE."""
    pairs = ngram_jaccard_pairs(df, id_col, text_col, n=n,
                                threshold=threshold, max_postings=max_postings,
                                unicode_letters=unicode_letters)
    nodes = df.select(F.col(id_col).alias("doc"))
    comp = connected_components(pairs, nodes)
    return comp.withColumn("is_canonical", F.col("doc") == F.col("cluster_id"))


def _simhash_fold_fn(hashes: pd.Series) -> pd.Series:
    """Arrow-vectorized SimHash bit-fold: per row, sum ±1 per bit over token
    hashes, sign → 64-bit fingerprint. numpy inner loop, no per-row Python
    beyond the row iteration of ragged arrays."""
    out = np.empty(len(hashes), dtype=np.int64)
    shifts = np.arange(64, dtype=np.uint64)
    for i, h in enumerate(hashes):
        if h is None or len(h) == 0:
            out[i] = 0
            continue
        a = np.asarray(h, dtype=np.int64).astype(np.uint64)
        bits = ((a[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
        v = (2 * bits - 1).sum(axis=0)
        # wrap the uint64 fingerprint to signed via Python int arithmetic:
        # np.int64(uint64-scalar) wraps on numpy 1.x but RAISES OverflowError
        # on numpy >= 2.0 whenever bit 63 is set
        val = int((v > 0).astype(np.uint64) @ (np.uint64(1) << shifts))
        out[i] = val - (1 << 64) if val >= (1 << 63) else val
    return pd.Series(out)


def _simhash_fold(col):
    # pandas_udf parses its return DDL eagerly — build it at call time so
    # importing this module never requires an active SparkSession
    return pandas_udf(_simhash_fold_fn, "long")(col)


def simhash64(df: DataFrame, id_col: str, text_col: str,
              unicode_letters: bool = False) -> DataFrame:
    """SimHash fingerprints: token hashing in the JVM (xxhash64 over tokens),
    bit-fold in Arrow/numpy."""
    tok_hashes = F.transform(tokens(text_col, unicode_letters),
                             lambda t: F.xxhash64(t))
    return df.select(F.col(id_col).alias("doc"),
                     _simhash_fold(tok_hashes).alias("simhash"))


def simhash_near_dupes(df: DataFrame, id_col: str, text_col: str,
                       max_hamming: int = 3,
                       max_bucket: int | None = None,
                       unicode_letters: bool = False) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ k, blocked on
    ``max_hamming + 1`` bit-slice bands (pigeonhole: k differing bits can
    dirty at most k of k+1 bands, so every qualifying pair collides in ≥1
    clean band — the guarantee holds for ANY ``max_hamming``, not just the
    default 3/4×16-bit split); oversized buckets capped like every LSH path
    here. Larger ``max_hamming`` → narrower bands → bigger candidate
    buckets; 15 (4-bit bands) is the practical ceiling before blocking
    stops pruning.

    **Cap/width interaction**: a band of width ``w`` has only ``2^w``
    possible keys, so expected bucket size is ~``n_docs / 2^w`` — once that
    exceeds ``max_bucket``, EVERY bucket in the band is dropped and the band
    contributes zero candidates (silent recall loss, the documented price of
    the cap). ``max_bucket=None`` (default) therefore sizes the cap FROM
    the corpus: ``max(256, 4 · ceil(n_docs / 2^min_width))`` — a few × the
    expected uniform load, so hash-typical buckets always survive and only
    genuinely pathological skew (one band key owning ≫4× its share) is
    dropped. The sizing counts the CHECKPOINTED fingerprint frame, so it
    just materializes work the band-explode and verify join need anyway —
    no extra pass over the (possibly join-heavy) upstream plan. Pass an
    explicit cap to skip the count, in which case a saturation warning
    fires when narrow bands make the explicit cap corpus-dangerous."""
    if not 0 <= max_hamming <= 15:
        raise ValueError(
            f"max_hamming must be in [0, 15], got {max_hamming} — beyond 15 "
            "the 64-bit fingerprint's bands get too narrow to prune")
    n_bands = max_hamming + 1
    base, extra = divmod(64, n_bands)
    widths = [base + 1 if i < extra else base for i in range(n_bands)]
    offsets = [sum(widths[:i]) for i in range(n_bands)]
    # lazy localCheckpoint: the fingerprint pipeline (tokenize + xxhash +
    # Arrow bit-fold, the dominant cost) feeds the band explode AND both
    # sides of the verify join — unmaterialized it would run 3×
    # empty normalizations excluded (fingerprint 0 for all of them — they
    # would pair up at hamming 0); same rule as the other near-dup paths
    sh = simhash64(df.filter(normalize_text(text_col, unicode_letters) != ""),
                   id_col, text_col,
                   unicode_letters).localCheckpoint(eager=False)
    if max_bucket is None:
        import math
        # counting sh (not df) materializes the checkpoint the downstream
        # stages read anyway — the upstream plan still runs exactly once
        n_docs = sh.count()
        max_bucket = max(256, 4 * math.ceil(n_docs / 2 ** min(widths)))
    elif min(widths) < 16:
        import warnings
        warnings.warn(
            f"simhash_near_dupes: max_hamming={max_hamming} gives "
            f"{min(widths)}-bit bands (only {2 ** min(widths)} keys/band); "
            f"corpora larger than ~max_bucket*2^{min(widths)} "
            f"(= {max_bucket * 2 ** min(widths):,} docs) will saturate every "
            "bucket and the cap will drop ALL candidates — raise max_bucket "
            "or use max_bucket=None (corpus-sized auto cap)", stacklevel=2)
    def _slice(off: int, w: int):
        c = F.shiftrightunsigned(F.col("simhash"), off)
        # a 64-bit mask doesn't fit a signed long literal; w == 64 means
        # the single-band (exact-duplicate) case — the key is the hash
        return c if w == 64 else c.bitwiseAND(F.lit((1 << w) - 1))

    band = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 _slice(offsets[b], widths[b]).alias("bkey"))
        for b in range(n_bands)
    ])
    bdf = sh.select("doc", F.explode(band).alias("b")).select(
        "doc", F.col("b.band").alias("band"), F.col("b.bkey").alias("bkey"))
    cand = _pairs_from_buckets(bdf, max_bucket)
    hashes = sh.select(F.col("doc"), F.col("simhash"))
    pairs = (cand.join(hashes.select(F.col("doc").alias("doc_a"),
                                     F.col("simhash").alias("ha")), "doc_a")
                 .join(hashes.select(F.col("doc").alias("doc_b"),
                                     F.col("simhash").alias("hb")), "doc_b"))
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (pairs.withColumn("hamming", ham)
                 .filter(F.col("hamming") <= max_hamming)
                 .select("doc_a", "doc_b", "hamming"))


def embedding_near_dupes(df: DataFrame, id_col: str, vec_col: str,
                         dim: int, threshold: float = 0.95,
                         n_planes: int = 16, bands: int = 4,
                         seed: int = 42,
                         max_bucket: int | None = None) -> DataFrame:
    """Embedding cosine near-duplicates: banded random-hyperplane LSH
    (candidates = pairs agreeing on ALL bits of ≥1 band — banding gives the
    same OR-amplification as MinHash LSH, so a flipped bit near a hyperplane
    doesn't lose the pair), exact cosine rerank on candidates.

    ``max_bucket=None`` (default) sizes the bucket cap FROM the corpus —
    ``max(256, 4 · ceil(n_docs / 2^r))`` with ``r = n_planes/bands`` band
    bits — exactly the simhash rule: a fixed cap silently drops EVERY
    bucket once ``n_docs`` outgrows ``cap · 2^r`` (the default r=4 bands
    have only 16 possible keys, so a fixed 1024 cap saturates at ~16k
    vectors and the function would return zero pairs with no warning).
    The sizing counts the checkpointed projection frame the band explode
    and rerank join read anyway."""
    if n_planes % bands != 0:
        # ValueError, not assert: python -O strips asserts and the silent
        # consequence is unbanded hyperplane bits (lost recall)
        raise ValueError(f"n_planes={n_planes} must divide into bands={bands}")
    from cdc_core_spark.operators.similarity import _dot_with_lit, _norm
    r = n_planes // bands
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    vecs = (df.select(F.col(id_col).alias("doc"),
                      F.col(vec_col).cast("array<double>").alias("v"))
            .localCheckpoint(eager=False))
    if max_bucket is None:
        import math
        max_bucket = max(256, 4 * math.ceil(vecs.count() / 2 ** r))
    bits = [F.when(_dot_with_lit(F.col("v"), p) >= 0,
                   F.lit("1")).otherwise(F.lit("0"))
            for p in planes]
    band_arr = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.concat(*bits[b * r:(b + 1) * r]).alias("bkey"))
        for b in range(bands)
    ])
    b = (vecs.select("doc", F.explode(band_arr).alias("bd"))
             .select("doc", F.col("bd.band").alias("band"),
                     F.col("bd.bkey").alias("bkey")))
    cand = _pairs_from_buckets(b, max_bucket)
    pairs = (cand.join(vecs.select(F.col("doc").alias("doc_a"), F.col("v").alias("va")), "doc_a")
                 .join(vecs.select(F.col("doc").alias("doc_b"), F.col("v").alias("vb")), "doc_b"))
    dot = F.aggregate(F.zip_with("va", "vb", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x)
    na = _norm(F.col("va"))
    nb = _norm(F.col("vb"))
    # norm floor: zero vectors must not produce NaN (NaN >= t is TRUE under
    # Spark's NaN-greatest ordering). Threshold the UNROUNDED cosine — the
    # same boundary invariant ngram_jaccard_pairs documents above; rounding
    # first would admit pairs up to 5e-7 below threshold
    cos = dot / (F.greatest(na, F.lit(1e-12)) * F.greatest(nb, F.lit(1e-12)))
    return (pairs.withColumn("_cos", cos)
                 .filter(F.col("_cos") >= threshold)
                 .select("doc_a", "doc_b", F.round("_cos", 6).alias("cosine")))
