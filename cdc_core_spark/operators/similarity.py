"""Similarity search over an embedding column (array<float>).

* ``cosine_topk`` — exact brute-force top-k, fully JVM-side
  (``zip_with``/``aggregate`` dot product against a literal query vector);
  the correctness baseline. One scan + one top-k (no full sort shuffle —
  Spark's ``orderBy().limit(k)`` compiles to TakeOrderedAndProject with
  per-partition partial top-k).
* ``ivf_topk`` — IVF-style scale path: deterministic seeded centroids,
  vectors pre-assigned to their nearest centroid (Arrow/numpy batch matmul),
  queries probe only the ``nprobe`` nearest cells. At 100 TB the assignment
  is a one-off write amortized over all queries, and each query touches
  ~nprobe/ncells of the data (partition-pruned when stored partitioned by
  cell id).
* ``lsh_topk`` — random-hyperplane bucketing prefilter + exact rerank.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdc_core_spark import fsutil


def _dot_with_lit(vec_col, q: list[float]) -> "F.Column":
    arr = F.array(*[F.lit(float(x)) for x in q])
    dot = F.aggregate(F.zip_with(vec_col, arr, lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    # dimension mismatch must be LOUD: zip_with pads the short side with
    # nulls, which null-propagates through the dot — cosine_topk would
    # return an empty top-k and the LSH paths would bucket every doc
    # identically, all silently. Null vectors keep their null-propagating
    # behavior (callers guard them); only a present-but-wrong-width vector
    # raises. JVM-side size check, negligible per row.
    return F.when(
        vec_col.isNotNull() & (F.size(vec_col) != F.lit(len(q))),
        F.raise_error(F.concat(
            F.lit("vector dimension "), F.size(vec_col).cast("string"),
            F.lit(f" != query/plane dimension {len(q)}")))
    ).otherwise(dot)


def _norm(vec_col) -> "F.Column":
    return F.sqrt(F.aggregate(F.transform(vec_col, lambda a: a * a),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine_scores(df: DataFrame, id_col: str, vec_col: str,
                  query: list[float]) -> DataFrame:
    # norm floors: a zero vector (padding / failed encode) must score 0.0,
    # not 0/0 = NaN — Spark sorts NaN ABOVE every double, so an unguarded
    # zero vector would rank #1 in every top-k and pass >= thresholds
    qn = max(float(np.linalg.norm(query)), 1e-12)
    v = F.col(vec_col).cast("array<double>")
    cos = _dot_with_lit(v, query) / (F.greatest(_norm(v), F.lit(1e-12)) * F.lit(qn))
    return df.select(F.col(id_col).alias("vec_id"), F.round(cos, 6).alias("cosine"))


def cosine_topk(df: DataFrame, id_col: str, vec_col: str,
                query: list[float], k: int = 10) -> DataFrame:
    """Exact brute-force top-k by cosine; deterministic tiebreak on id."""
    return (cosine_scores(df, id_col, vec_col, query)
            .orderBy(F.col("cosine").desc(), F.col("vec_id"))
            .limit(k))


def ivf_assign(df: DataFrame, id_col: str, vec_col: str,
               centroids: np.ndarray) -> DataFrame:
    """Assign every vector to its nearest centroid (squared-L2) using an
    Arrow-batched mapInPandas matmul — one numpy GEMM per batch, no per-row
    Python."""
    cn = (centroids ** 2).sum(axis=1)
    c_t = centroids.T.copy()
    # the id column passes through untouched — carry its REAL type (string
    # uuid/url ids are as valid as integers; hardcoding long would make
    # Arrow fail the coercion deep inside the executor)
    id_type = dict(df.dtypes)[id_col]
    out_schema = f"{id_col} {id_type}, cell int"

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            d = (m ** 2).sum(axis=1)[:, None] - 2.0 * (m @ c_t) + cn[None, :]
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(),
                                "cell": d.argmin(axis=1).astype(np.int32)})

    return df.select(id_col, vec_col).mapInPandas(assign, schema=out_schema)


def deterministic_centroids(df: DataFrame, vec_col: str, n_cells: int,
                            id_col: str) -> np.ndarray:
    """Seedless-deterministic centroid pick: the n_cells vectors with the
    smallest xxhash64(id) — stable across runs and cluster sizes."""
    rows = (df.select(id_col, vec_col)
            .withColumn("_h", F.xxhash64(F.col(id_col)))
            .orderBy("_h").limit(n_cells).collect())
    return np.array([list(r[vec_col]) for r in rows], dtype=np.float64)


def kmeans_refine(df: DataFrame, id_col: str, vec_col: str,
                  centroids: np.ndarray, iters: int = 2) -> np.ndarray:
    """Distributed Lloyd refinement of an IVF codebook: ``iters`` rounds of
    (assign → per-cell mean). Sampled vectors make workable centroids
    (``deterministic_centroids``) but inherit the data's density — one hot
    region can swallow a cell while sparse regions waste several; a couple
    of Lloyd rounds re-balance the cells, which is what bounds both probe
    recall AND the worst-case cell partition size at 100-TB store scale
    (a giant cell is a giant partition every probe of it must scan).

    Scale shape: per round, ONE GEMM-assignment pass (``ivf_assign``) plus
    one JVM-side posexplode/groupBy mean — no driver data movement beyond
    the (n_cells × dim) codebook itself. Means are rounded to 9 decimals to
    damp float-summation order jitter so the refined codebook is stable
    across partitionings; an emptied cell keeps its previous centroid
    (standard Lloyd practice — the cell can re-acquire points later).
    Lloyd guarantees non-increasing inertia round over round
    (pinned by ``ivf_inertia`` in tests)."""
    cents = centroids.astype(np.float64).copy()
    n_cells, dim = cents.shape
    for _ in range(max(iters, 0)):
        a = ivf_assign(df, id_col, vec_col, cents)
        v = F.col(vec_col).cast("array<double>")
        rows = (df.select(id_col, v.alias("_v")).join(a, id_col)
                .select("cell", F.posexplode("_v"))
                .groupBy("cell", "pos")
                .agg(F.round(F.avg("col"), 9).alias("m"))
                .collect())  # O(n_cells × dim) codebook rows — driver-sized
        nxt = cents.copy()
        seen = np.zeros(n_cells, dtype=bool)
        for r in rows:
            nxt[r["cell"], r["pos"]] = r["m"]
            seen[r["cell"]] = True
        cents = np.where(seen[:, None], nxt, cents)
    return cents


def ivf_inertia(df: DataFrame, id_col: str, vec_col: str,
                centroids: np.ndarray) -> float:
    """Sum of squared distances to the assigned (nearest) centroid — the
    k-means objective, computed distributed (assignment GEMM + one agg)."""
    a = ivf_assign(df, id_col, vec_col, centroids)
    v = F.col(vec_col).cast("array<double>")
    joined = df.select(id_col, v.alias("_v")).join(a, id_col)
    cent_arr = F.array(*[
        F.array(*[F.lit(float(x)) for x in c]) for c in centroids])
    diff = F.zip_with("_v", F.element_at(cent_arr, F.col("cell") + 1),
                      lambda x, c: (x - c) * (x - c))
    sq = F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x)
    return float(joined.agg(F.sum(sq)).first()[0] or 0.0)


def ivf_topk(df: DataFrame, id_col: str, vec_col: str, query: list[float],
             k: int = 10, n_cells: int = 16, nprobe: int = 4,
             centroids: np.ndarray | None = None,
             assignments: DataFrame | None = None) -> DataFrame:
    """IVF approximate top-k: probe the nprobe nearest cells, exact rerank."""
    if centroids is None:
        centroids = deterministic_centroids(df, vec_col, n_cells, id_col)
    if assignments is None:
        assignments = ivf_assign(df, id_col, vec_col, centroids)
    q = np.asarray(query, dtype=np.float64)
    d = ((centroids - q[None, :]) ** 2).sum(axis=1)
    probe = [int(c) for c in d.argsort()[:nprobe]]
    cand = df.join(assignments.filter(F.col("cell").isin(probe)), id_col, "inner")
    return cosine_topk(cand, id_col, vec_col, query, k)


_CENTROIDS = "_ivf_centroids.json"


def _live_store(spark, path: str) -> tuple[np.ndarray, str]:
    """The stored codebook and the live generation's data directory."""
    doc, live = fsutil.live_generation(spark, path, _CENTROIDS)
    return np.array(doc["centroids"], dtype=np.float64), live


def ivf_write(df: DataFrame, id_col: str, vec_col: str, path: str,
              n_cells: int = 16, centroids: np.ndarray | None = None,
              refine_iters: int = 0) -> np.ndarray:
    """Persist the corpus PARTITIONED BY IVF CELL — the storage layout that
    makes ``nprobe`` a real I/O saving: a probe reads only its cells'
    directories (Catalyst partition pruning on the ``cell=`` hive layout),
    so each query scans ~nprobe/n_cells of the data instead of filtering a
    full scan. The one-off assignment write is amortized over all queries —
    at 100 TB this is the difference between an ANN index and a scan.
    Centroids ride a ``_ivf_centroids.json`` sidecar (underscore-prefixed →
    invisible to Spark readers).

    Published by ``fsutil.publish_generation`` (cells in a fresh
    ``g<n>/``, then the sidecar naming it), so a crash leaves the store
    entirely old or entirely new — never new cells behind old centroids —
    on any scheme fsutil speaks."""
    if centroids is None:
        centroids = deterministic_centroids(df, vec_col, n_cells, id_col)
    if refine_iters:
        # Lloyd rounds before the one-off layout write — exactly where the
        # codebook quality is worth paying for, since every later probe
        # and append reuses it
        centroids = kmeans_refine(df, id_col, vec_col, centroids,
                                  refine_iters)
    assigned = df.join(ivf_assign(df, id_col, vec_col, centroids), id_col)
    fsutil.publish_generation(
        df.sparkSession, path, _CENTROIDS, {"centroids": centroids.tolist()},
        lambda d: (assigned.write.partitionBy("cell").mode("overwrite")
                   .options(**fsutil.parquet_write_options()).parquet(d)))
    return centroids


def ivf_append(df: DataFrame, id_col: str, vec_col: str, path: str,
               check_disjoint: bool = False) -> None:
    """Extend a cell-partitioned IVF store with new vectors: assign against
    the STORED centroids (the codebook stays fixed — standard IVF append
    semantics) and append into the live generation's ``cell=`` directories,
    so queries prune exactly as before. Cost is one GEMM assignment pass over
    the new vectors only — never a re-layout of the existing store.
    Because the codebook does not learn from appends, distribution drift in
    the incoming vectors slowly decays recall; the repair is a periodic
    ``ivf_write`` re-train, the same rebuild cadence production IVF
    services run.

    The caller guarantees the new ids are DISJOINT from the stored ones —
    a duplicated id would surface twice inside a stored top-k, pushing a
    legitimate neighbor out with no error. ``check_disjoint=True``
    verifies with a semi-join over the stored ids (one id-column scan);
    it is also the safe re-run mode after a crashed append, where a blind
    retry of a half-committed batch is exactly how duplicates happen."""
    centroids, live = _live_store(df.sparkSession, path)
    if check_disjoint:
        existing = df.sparkSession.read.parquet(live).select(id_col).distinct()
        dup = (df.select(id_col).distinct()
               .join(existing, id_col, "left_semi").limit(1).collect())
        if dup:
            raise ValueError(
                f"ivf_append: id {dup[0][id_col]!r} is already stored — "
                "appending would duplicate it inside top-k results; "
                "rebuild with ivf_write (or exclude stored ids) instead")
    assigned = df.join(ivf_assign(df, id_col, vec_col, centroids), id_col)
    (assigned.write.partitionBy("cell").mode("append")
     .options(**fsutil.parquet_write_options()).parquet(live))


def ivf_probe_scan(spark, path: str, query: list[float],
                   nprobe: int = 4) -> DataFrame:
    """The pruned candidate scan under ``ivf_topk_stored``: picks the nprobe
    nearest cells from the ``_ivf_centroids.json`` sidecar and returns the
    store filtered to those cells — a partition-column IN-filter Catalyst
    turns into directory pruning, so only ~nprobe/n_cells of the files are
    read (assert via ``input_file_name()`` on this frame; the top-k result
    downstream loses file provenance at its exchange)."""
    centroids, live = _live_store(spark, path)
    q = np.asarray(query, dtype=np.float64)
    d = ((centroids - q[None, :]) ** 2).sum(axis=1)
    probe = [int(c) for c in d.argsort()[:nprobe]]
    return spark.read.parquet(live).filter(F.col("cell").isin(probe))


def ivf_topk_stored(spark, path: str, id_col: str, vec_col: str,
                    query: list[float], k: int = 10,
                    nprobe: int = 4) -> DataFrame:
    """IVF top-k over a cell-partitioned store written by ``ivf_write``: the
    nprobe nearest cells become a partition-column IN-filter, which Catalyst
    turns into directory pruning (the scan's PartitionFilters — verify with
    ``.explain``), then exact rerank inside the probed cells only."""
    cand = ivf_probe_scan(spark, path, query, nprobe)
    return cosine_topk(cand, id_col, vec_col, query, k)


def cosine_pairs_exact(df: DataFrame, id_col: str, vec_col: str,
                       threshold: float, n_blocks: int = 8) -> DataFrame:
    """Exact all-pairs cosine similarity ≥ threshold (id_a < id_b), fully
    distributed — the block outer-product shape, no driver materialization.

    1. Vectors are hashed into ``n_blocks`` row blocks; each block is packed
       into ONE row carrying its normalized matrix as bytes (applyInPandas).
    2. The tiny packed table (n_blocks rows) is self-joined on
       ``block_a ≤ block_b`` — every unordered block pair once.
    3. Each block pair runs a single numpy GEMM inside mapInPandas and emits
       the thresholded (id_a < id_b) pairs.

    Cost model at scale: data moved is O(n·n_blocks) (each block's matrix is
    replicated once per partner block), compute is the unavoidable exact
    O(n²·d/P) GEMM flops spread over block-pair tasks; per-task memory is
    two blocks, bounded by choosing ``n_blocks ≈ n·d·8B / budget``. Exact by
    construction — the correctness baseline that
    ``dedup.embedding_near_dupes`` (hyperplane-LSH bucketed, subquadratic)
    approximates; at 10^9 vectors use the LSH variant and rerank.

    Requires an INTEGER id column: the block pack serializes ids as int64
    byte buffers alongside the matrix. String-keyed corpora should join a
    monotonically-increasing surrogate first (checked up front — failing
    here beats an opaque Arrow error after the GEMM pass).
    """
    id_type = dict(df.dtypes)[id_col]
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"cosine_pairs_exact needs an integer id column, got {id_col}: "
            f"{id_type} — add a surrogate id (e.g. monotonically_increasing"
            "_id) and map back after")
    thr = float(threshold)
    v = df.select(F.col(id_col).alias("_id"),
                  F.col(vec_col).cast("array<double>").alias("_v"))
    b = v.withColumn("_blk", F.pmod(F.xxhash64("_id"), F.lit(n_blocks)).cast("int"))

    def pack(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        m = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
        m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return pd.DataFrame({"blk": [int(key[0])], "n": [len(ids)],
                             "dim": [m.shape[1]], "ids": [ids.tobytes()],
                             "mat": [m.tobytes()]})

    # lazy localCheckpoint: both join sides reuse the packed blocks without
    # recomputing the pack stage; blocks are freed with the result (cf.
    # minhash_near_dupes rationale)
    packed = (b.groupBy("_blk")
              .applyInPandas(pack, "blk int, n int, dim int, ids binary, mat binary")
              .localCheckpoint(eager=False))
    joined = (packed.alias("a")
              .join(packed.alias("b"), F.col("a.blk") <= F.col("b.blk"))
              .select(F.col("a.blk").alias("blk_a"), F.col("b.blk").alias("blk_b"),
                      F.col("a.n").alias("na"), F.col("b.n").alias("nb"),
                      F.col("a.dim").alias("dim"),
                      F.col("a.ids").alias("ids_a"), F.col("b.ids").alias("ids_b"),
                      F.col("a.mat").alias("mat_a"), F.col("b.mat").alias("mat_b")))
    # one GEMM per block pair → spread block pairs across tasks
    joined = joined.repartition(max(n_blocks * (n_blocks + 1) // 2, 1))

    def gemm(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                ia = np.frombuffer(row.ids_a, dtype=np.int64)
                ib = np.frombuffer(row.ids_b, dtype=np.int64)
                ma = np.frombuffer(row.mat_a, dtype=np.float64).reshape(row.na, row.dim)
                mb = np.frombuffer(row.mat_b, dtype=np.float64).reshape(row.nb, row.dim)
                sims = ma @ mb.T
                # same block: each unordered pair appears in both triangle
                # halves → keep the upper one; cross block: each pair appears
                # exactly once → keep all, then normalize id order
                keep = sims >= thr
                if row.blk_a == row.blk_b:
                    keep &= ia[:, None] < ib[None, :]
                ai, bj = np.nonzero(keep)
                left, right = ia[ai], ib[bj]
                lo, hi = np.minimum(left, right), np.maximum(left, right)
                yield pd.DataFrame({"id_a": lo, "id_b": hi,
                                    "cosine": sims[ai, bj]})

    return joined.mapInPandas(gemm, schema="id_a long, id_b long, cosine double")


def lsh_topk(df: DataFrame, id_col: str, vec_col: str, query: list[float],
             k: int = 10, n_planes: int = 12, dim: int | None = None,
             seed: int = 42, max_hamming: int = 2) -> DataFrame:
    """Random-hyperplane LSH prefilter: keep vectors whose sign-signature is
    within ``max_hamming`` bits of the query's, then exact rerank."""
    dim = dim or len(query)
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    q = np.asarray(query, dtype=np.float64)
    q_bits = (planes @ q >= 0).astype(int)
    v = F.col(vec_col).cast("array<double>")
    bits = [F.when(_dot_with_lit(v, p) >= 0, 1).otherwise(0) for p in planes]
    ham = bits[0] * 0
    for b, qb in zip(bits, q_bits):
        ham = ham + F.abs(b - F.lit(int(qb)))
    cand = df.withColumn("_ham", ham).filter(F.col("_ham") <= max_hamming).drop("_ham")
    return cosine_topk(cand, id_col, vec_col, query, k)
