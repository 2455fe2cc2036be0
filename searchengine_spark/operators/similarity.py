"""Similarity search over embedding columns (``array<float>``).

Two paths:
- **brute-force cosine top-k** — the correctness baseline: the |Q|-row query
  set is a driver-side constant; scoring runs as ONE Arrow-batched numpy
  int64 matmul per partition (``mapInPandas``) with the identical
  quantize→integer-dot→sqrt contract as the column-expression version, so
  results stay bit-identical to the DuckDB oracle while being ~100× faster
  than per-element Catalyst interpretation.
- **LSH-bucketed ANN** — the 10^12-scale path: random-hyperplane signatures
  with **integer-quantized** plane components (functions/planes.py — planes
  derived deterministically from md5, no RNG state), so the sign of every
  <vec, plane> dot is an exact integer comparison reproducible in Spark,
  numpy, and DuckDB alike. Candidates share a signature bucket; exact cosine
  re-rank within bucket. Join cost is linear in corpus size instead of
  |Q|×N, and the whole approximate path is hash-gated against a SQL oracle.

All cosines are bigint micros over quantized vectors: integer dots are
order-insensitive (no float-summation drift across partitionings), and the
only float ops are the final sqrt/divide over exact integers.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from searchengine_spark.functions.planes import plane_ints


def _quantized(arr: Column) -> Column:
    """float32 elements → bigint micros. All inner products then run in
    exact integer arithmetic (order-insensitive, engine-portable); the
    ~1e-6 relative quantization is far below any ANN-relevant resolution."""
    return F.transform(arr, lambda x: F.round(x.cast("double") * 1e6).cast("long"))


def _idot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, v: acc + v
    )


def cosine_micros_qq(qa: Column, qb: Column) -> Column:
    """round(1e6 · cos) over two ALREADY-quantized int64 arrays — the shared
    float tree ((1e6·dot) / (√na·√nb)) every cosine consumer uses."""
    dot = _idot(qa, qb).cast("double")
    na = F.sqrt(_idot(qa, qa).cast("double"))
    nb = F.sqrt(_idot(qb, qb).cast("double"))
    return F.round(F.lit(1e6) * dot / (na * nb)).cast("long")


def cosine_micros(a: Column, b: Column) -> Column:
    """round(1e6 · cos(a,b)) over quantized vectors. The only float ops are
    the final sqrt/divide over exact integers — bit-identical everywhere."""
    return cosine_micros_qq(_quantized(a), _quantized(b))


def _quantize_np(a: np.ndarray) -> np.ndarray:
    """numpy twin of ``_quantized``: round(x*1e6) half-away-from-zero →
    int64 (matches Spark ``F.round`` / DuckDB ``round`` on doubles)."""
    x = a.astype(np.float64) * 1e6
    return (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype(np.int64)


def _micros_np(vals: np.ndarray) -> np.ndarray:
    """round-half-away-from-zero of a float64 array → int64."""
    return (np.sign(vals) * np.floor(np.abs(vals) + 0.5)).astype(np.int64)


def ann_bruteforce_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids: list[int] | None = None,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """For each query vector (the first ``n_queries`` by id, or the explicit
    ``query_ids`` set), the exact top-k cosine neighbors (excluding self).
    ``corpus`` (default: the embeddings table itself) is the candidate side
    — pass a filtered frame for metadata-constrained search.

    (query_id, rank, neighbor_id, cosine_micros) — deterministic ties by
    neighbor id.

    Physical shape: the |Q| query vectors are collected once (an O(k)-row
    driver constant, the analog of broadcasting a literal), then each Arrow
    batch computes an int64 ``C @ Q.T`` matmul — exact integer dots, same
    micros contract as ``cosine_micros`` — and emits only its per-batch
    top-k per query; a final window merges ≤ k·n_batches rows. One corpus
    pass, no |Q|×N row explosion, no per-element expression interpretation."""
    q_pred = (
        F.col(id_col).isin(list(query_ids))
        if query_ids is not None
        else F.col(id_col) < n_queries
    )
    q_rows = sorted(
        embeddings.filter(q_pred).select(id_col, vec_col).collect(),
        key=lambda r: r[id_col],
    )
    if not q_rows:
        return embeddings.sparkSession.createDataFrame(
            [], "query_id long, rank int, neighbor_id long, cosine_micros long"
        )
    if corpus is None:
        corpus = embeddings
    q_ids = np.array([r[id_col] for r in q_rows], dtype=np.int64)
    Q = _quantize_np(np.array([r[vec_col] for r in q_rows]))
    qn = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))

    def fn(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(np.int64)
            C = _quantize_np(np.stack(pdf[vec_col].to_numpy()))
            cn = np.sqrt((C * C).sum(axis=1).astype(np.float64))
            # same IEEE tree as cosine_micros: (1e6*dot) / (sqrt(na)*sqrt(nb))
            micros = _micros_np(
                (1e6 * (C @ Q.T).astype(np.float64)) / (cn[:, None] * qn[None, :])
            )
            out = []
            for j, qid in enumerate(q_ids):
                mask = ids != qid
                cand_ids, cand = ids[mask], micros[mask, j]
                sel = np.lexsort((cand_ids, -cand))[: min(k, cand.size)]
                out.extend((int(qid), int(cand_ids[i]), int(cand[i])) for i in sel)
            yield pd.DataFrame(
                out, columns=["query_id", "neighbor_id", "cosine_micros"]
            ).astype({"query_id": "int64", "neighbor_id": "int64", "cosine_micros": "int64"})

    scored = corpus.select(id_col, vec_col).mapInPandas(
        fn, "query_id long, neighbor_id long, cosine_micros long"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_micros"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine_micros")
    )


def hyperplane_signatures(
    embeddings: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, embedding, sig) — the random-hyperplane LSH signature per vector.

    sig[p] = '1' iff <quantize(v), plane_p> > 0 with INTEGER plane components
    (functions/planes.py) — the sign is an exact int64 comparison, so the
    bucket assignment is bit-identical in Spark, numpy, and the DuckDB
    oracle. One Arrow crossing, one int64 matmul per batch; the embedding is
    passed through so the caller needs no re-join against the corpus."""
    P = np.array(plane_ints(n_planes, dim), dtype=np.int64)  # (p, dim)

    def fn(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            V = _quantize_np(np.stack(pdf[vec_col].to_numpy()))
            bits = (V @ P.T) > 0  # exact integer signs
            sigs = ["".join("1" if b else "0" for b in row) for row in bits]
            out = pdf[[id_col, vec_col]].copy()
            out["sig"] = sigs
            yield out

    return embeddings.select(id_col, vec_col).mapInPandas(
        fn, f"{id_col} long, {vec_col} array<float>, sig string"
    )


def rowwise_cosine_micros(
    df: DataFrame, a_col: str, b_col: str, keep: list[tuple[str, str]]
) -> DataFrame:
    """Vectorized pairwise cosine: one Arrow crossing, numpy int64 row dots —
    same quantize→integer-dot→sqrt→round tree as ``cosine_micros``/
    ``_cos_micros_sql`` (a-side norm first), bit-identical output.
    ``keep`` = [(col, sqltype)] passed through beside ``cosine_micros``."""
    schema = ", ".join(f"{n} {t}" for n, t in keep) + ", cosine_micros long"
    names = [n for n, _ in keep]

    def fn(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            A = _quantize_np(np.stack(pdf[a_col].to_numpy()))
            B = _quantize_np(np.stack(pdf[b_col].to_numpy()))
            dot = (A * B).sum(axis=1)  # exact int64
            na = np.sqrt((A * A).sum(axis=1).astype(np.float64))
            nb = np.sqrt((B * B).sum(axis=1).astype(np.float64))
            out = pdf[names].copy()
            out["cosine_micros"] = _micros_np((1e6 * dot.astype(np.float64)) / (na * nb))
            yield out

    return df.mapInPandas(fn, schema)


def lsh_bands(
    embeddings: DataFrame,
    n_planes: int,
    rows_per_band: int,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, band_id, band_key): the banded split of the hyperplane signature
    — OR-amplification across bands, AND within a band. One row per (vector,
    band); the (band_id, band_key) equi-join is the only candidate-generation
    operation at any scale."""
    n_bands = n_planes // rows_per_band
    sigs = hyperplane_signatures(embeddings, n_planes, dim, id_col, vec_col)
    return sigs.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[
                F.substring("sig", b * rows_per_band + 1, rows_per_band)
                for b in range(n_bands)
            ])
        ).alias("band_id", "band_key"),
    )


def ann_lsh_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_planes: int = 16,
    rows_per_band: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: banded random-hyperplane LSH candidates, exact
    integer-cosine rerank. Recall < 1.0 by construction (tuned by
    n_planes/rows_per_band — more bands = higher recall, more candidates)
    but the whole path is deterministic: signature, band join, and rerank
    are exact integer computations, so a DuckDB oracle reproduces the output
    bit-for-bit (oracles.ann_lsh_sql) and a signature regression fails the
    hash gate loudly. The scale path for ANN: no |Q|×N cross join —
    candidates come from one equi-join on (band_id, band_key)."""
    bands = lsh_bands(embeddings, n_planes, rows_per_band, dim, id_col, vec_col)
    qb = bands.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), "band_id", "band_key"
    )
    return _lsh_rerank(embeddings, bands, qb, n_queries, k, id_col, vec_col)


def _lsh_rerank(
    embeddings: DataFrame,
    bands: DataFrame,
    q_probes: DataFrame,
    n_queries: int,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared LSH tail: corpus bands ⋈ broadcast query probes → distinct
    candidates → exact integer-cosine rerank → per-query bounded top-k."""
    cand = (
        bands.join(F.broadcast(q_probes), ["band_id", "band_key"])
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("neighbor_id"))
        .distinct()
    )
    qv = embeddings.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    cv = embeddings.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    scored = rowwise_cosine_micros(
        cand.join(F.broadcast(qv), "query_id").join(cv, "neighbor_id"),
        "_qv",
        "_cv",
        [("query_id", "long"), ("neighbor_id", "long")],
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_micros"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine_micros")
    )


def ann_lsh_multiprobe_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_planes: int = 16,
    rows_per_band: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe LSH (Lv et al., VLDB'07 — the probe-all-Hamming-1
    variant): each query band probes its own bucket PLUS every bucket whose
    band key differs in exactly one bit. A near neighbor that lands one
    plane-sign away from the query in some band is still found, so recall
    rises steeply without more tables (bands) or a bigger index — the
    query side merely expands ×(1+rows_per_band) probe rows, still a
    broadcast.

    Deterministic like the single-probe path (integer plane signs, exact
    rerank), so the full probe set is hash-gated against its SQL twin.
    Output: (query_id, rank, neighbor_id, cosine_micros). Superset
    guarantee: candidates ⊇ the single-probe candidates (the original key
    is always probed)."""
    bands = lsh_bands(embeddings, n_planes, rows_per_band, dim, id_col, vec_col)
    qb = bands.filter(F.col(id_col) < n_queries)
    key = F.col("band_key")
    probe_keys = [key]
    for i in range(1, rows_per_band + 1):
        ch = F.substring(key, i, 1)
        flipped = F.when(ch == "1", F.lit("0")).otherwise(F.lit("1"))
        probe_keys.append(
            F.concat(
                F.substring(key, 1, i - 1), flipped, F.substring(key, i + 1, rows_per_band - i)
            )
        )
    q_probes = qb.select(
        F.col(id_col).alias("query_id"),
        "band_id",
        F.explode(F.array(*probe_keys)).alias("band_key"),
    )
    return _lsh_rerank(embeddings, bands, q_probes, n_queries, k, id_col, vec_col)


def ivf_assignments(
    embeddings: DataFrame,
    centroid_stride: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """(centroids, assignments) for a deterministic IVF index.

    Centroids are the vectors whose id is a multiple of ``centroid_stride``
    — a seeded selection, not k-means, so the partitioning is a pure
    function of the table (rank-stable across cluster sizes; a k-means job
    can swap in without changing consumers). Every vector is assigned to
    its max-cosine centroid (ties → smallest centroid id); the assignment
    is ONE broadcast join + window over |N| rows, and the resulting
    ``cell`` column is the partition key the inverted lists live under.
    """
    cents = embeddings.filter((F.col(id_col) % centroid_stride) == 0).select(
        F.col(id_col).alias("cell"), F.col(vec_col).alias("_cent")
    )
    if not cents.head(1):
        raise ValueError(
            f"no centroid ids: no {id_col} is a multiple of centroid_stride="
            f"{centroid_stride} — lower the stride (ids must include its multiples)"
        )
    scored = embeddings.select(F.col(id_col), F.col(vec_col)).join(F.broadcast(cents)).select(
        id_col, vec_col, "cell", cosine_micros(F.col(vec_col), F.col("_cent")).alias("_cm")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("_cm"), F.asc("cell"))
    assign = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, vec_col, "cell")
    )
    return cents, assign


def ann_ivf_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    centroid_stride: int = 64,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: search only the ``nprobe`` cells whose
    centroids are closest to the query (exact cosine within the probed
    cells). The scale path beside LSH: candidate count is |probed cells|,
    not |N|, and the cell column prunes the scan when the index is stored
    partitioned-by-cell. Deterministic end-to-end (quantized-integer
    cosine, id tie-breaks) — the DuckDB oracle reproduces it exactly.
    """
    cents, assign = ivf_assignments(embeddings, centroid_stride, id_col, vec_col)
    q = embeddings.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    qc = q.join(F.broadcast(cents)).select(
        "query_id", "_qv", "cell", cosine_micros(F.col("_qv"), F.col("_cent")).alias("_cm")
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("_cm"), F.asc("cell"))
    probed = qc.withColumn("_rn", F.row_number().over(wq)).filter(F.col("_rn") <= nprobe).select(
        "query_id", "_qv", "cell"
    )
    cand = assign.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"), "cell")
    scored = (
        cand.join(F.broadcast(probed), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", cosine_micros(F.col("_qv"), F.col("_cv")).alias("cosine_micros")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_micros"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine_micros")
    )


def pq_codebook_np(
    embeddings: DataFrame,
    n_centroids: int = 16,
    centroid_stride: int = 16,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """(m, K, dim/m) int64 product-quantization codebook.

    Sub-codebook s's centroid j is the s-th subvector of the vector with id
    ``j * centroid_stride`` — the same seeded selection as ivf_assignments
    (a pure function of the table, rank-stable across cluster sizes; a
    k-means trainer can swap in without changing any consumer). The whole
    codebook is K*dim ints — a driver-side constant, broadcast by closure.
    """
    limit = n_centroids * centroid_stride
    rows = sorted(
        embeddings.filter(
            ((F.col(id_col) % centroid_stride) == 0) & (F.col(id_col) < limit)
        )
        .select(id_col, vec_col)
        .collect(),
        key=lambda r: r[id_col],
    )
    if len(rows) < n_centroids:
        raise ValueError(
            f"only {len(rows)} centroid rows; need {n_centroids} ids that are "
            f"multiples of {centroid_stride} below {limit}"
        )
    C = _quantize_np(np.array([r[vec_col] for r in rows]))  # (K, dim)
    sub = dim // m
    return C.reshape(n_centroids, m, sub).transpose(1, 0, 2).copy()


def pq_encode(
    embeddings: DataFrame,
    codebook: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, code[m]) — each vector compressed to its per-subspace nearest
    centroid indices (squared-L2 in exact int64 space, ties → smallest j,
    matching the SQL twin's (d, j) ordering). This is the memory-compression
    scale path: after encoding, the corpus is scanned as m small codes per
    vector (64 ints → 8 codes here; 1 byte/code in a packed layout), never
    raw vectors. One Arrow crossing, vectorized numpy throughout."""
    m, _, sub = codebook.shape

    def fn(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            V = _quantize_np(np.stack(pdf[vec_col].to_numpy())).reshape(-1, m, sub)
            codes = np.empty((V.shape[0], m), dtype=np.int32)
            for s in range(m):
                d = ((V[:, s, None, :] - codebook[s][None, :, :]) ** 2).sum(-1)
                codes[:, s] = np.argmin(d, axis=1)  # first min == smallest j
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(np.int64), "code": list(codes)}
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        fn, f"{id_col} long, code array<int>"
    )


def ann_pq_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_centroids: int = 16,
    centroid_stride: int = 16,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization approximate top-k with asymmetric distance
    (ADC): (query_id, rank, neighbor_id, adc_dist), nearest first.

    The third ANN family next to LSH and IVF — the one that makes
    billion-vector scans fit in memory: each corpus vector is m sub-codes,
    and a query's distance to ANY vector is m table lookups into its
    (m × K) query-to-centroid distance table, never a d-dim computation.
    Everything is exact int64 (quantized micros, squared-L2), ties break on
    (distance, id), so the approximate output is deterministic and the
    DuckDB oracle (oracles.ann_pq_sql) reproduces it bit-for-bit.

    Physical shape: codebook + |Q| distance tables are driver constants;
    ONE pass over the encoded corpus computes per-batch top-k per query via
    numpy gathers; a final window merges <= k·n_batches rows. No joins, no
    |Q|×N explosion."""
    cb = pq_codebook_np(embeddings, n_centroids, centroid_stride, m, dim, id_col, vec_col)
    sub = dim // m
    q_rows = sorted(
        embeddings.filter(F.col(id_col) < n_queries).select(id_col, vec_col).collect(),
        key=lambda r: r[id_col],
    )
    if not q_rows:
        return embeddings.sparkSession.createDataFrame(
            [], "query_id long, rank int, neighbor_id long, adc_dist long"
        )
    q_ids = np.array([r[id_col] for r in q_rows], dtype=np.int64)
    Q = _quantize_np(np.array([r[vec_col] for r in q_rows])).reshape(-1, m, sub)
    # T[q, s, j] = ||Q[q,s] - cb[s,j]||^2 — exact int64
    T = ((Q[:, :, None, :] - cb[None, :, :, :]) ** 2).sum(-1)

    codes = pq_encode(embeddings, cb, id_col, vec_col)

    def fn(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(np.int64)
            Cd = np.stack(pdf["code"].to_numpy()).astype(np.int64)  # (n, m)
            adc = np.zeros((ids.size, q_ids.size), dtype=np.int64)
            for s in range(m):
                adc += T[:, s, Cd[:, s]].T  # gather: (|Q|, n) -> (n, |Q|)
            out = []
            for j, qid in enumerate(q_ids):
                mask = ids != qid
                cand_ids, cand = ids[mask], adc[mask, j]
                sel = np.lexsort((cand_ids, cand))[: min(k, cand.size)]
                out.extend((int(qid), int(cand_ids[i]), int(cand[i])) for i in sel)
            yield pd.DataFrame(
                out, columns=["query_id", "neighbor_id", "adc_dist"]
            ).astype({"query_id": "int64", "neighbor_id": "int64", "adc_dist": "int64"})

    scored = codes.mapInPandas(fn, "query_id long, neighbor_id long, adc_dist long")
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "adc_dist")
    )


def _round_div_np(s: np.ndarray, n: np.ndarray) -> np.ndarray:
    """Half-away-from-zero integer division s/n in pure int64 arithmetic
    (sign(s) * ((2|s| + n) // (2n))) — the engine-portable rounding the
    DuckDB k-means twin reproduces exactly."""
    n = np.maximum(n, 1)
    return (np.sign(s) * ((2 * np.abs(s) + n) // (2 * n))).astype(np.int64)


def kmeans_centroids(
    embeddings: DataFrame,
    k: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Deterministic Lloyd's k-means over the embedding column — the
    centroid TRAINER the IVF/PQ docstrings promise as the swap-in for their
    seeded selections: (cid, i, val) rows of the final integer centroids.

    Every step is exact integer arithmetic, so the whole iteration is
    bit-reproducible across cluster sizes and engines (hash-gated against
    an unrolled DuckDB twin, the HITS pattern): init centroids are the
    quantized vectors of ids 0..k-1 (seeded, like ivf_assignments);
    assignment is max integer-cosine-micros with ties to the smallest
    centroid id; the update rounds each per-dimension mean half-away-from-
    zero via the pure-int64 formula, and empty clusters keep their previous
    centroid.

    Plan per iteration: centroids are a (k × dim) driver constant
    (broadcast by closure, the PageRank-scalar pattern); ONE corpus pass
    assigns and folds per-cluster partial sums inside each Arrow batch
    (numpy add.at), shuffling only k·(dim+1) partial rows per batch into a
    map-side-combined aggregate; the k·(dim+1)-row result is collected to
    rebuild the constant. No |N|×k row explosion, no per-row Python."""
    spark = embeddings.sparkSession
    init = sorted(
        embeddings.filter(F.col(id_col) < k).select(id_col, vec_col).collect(),
        key=lambda r: r[id_col],
    )
    if len(init) < k:
        raise ValueError(f"need ids 0..{k - 1} present for seeded init")
    cents = _quantize_np(np.array([r[vec_col] for r in init]))  # (k, dim) int64

    for _ in range(iterations):
        C = cents
        cn = np.sqrt((C * C).sum(axis=1).astype(np.float64))

        def fn(batches, C=C, cn=cn):
            for pdf in batches:
                if pdf.empty:
                    continue
                V = _quantize_np(np.stack(pdf[vec_col].to_numpy()))
                vn = np.sqrt((V * V).sum(axis=1).astype(np.float64))
                cos = _micros_np(
                    (1e6 * (V @ C.T).astype(np.float64)) / (vn[:, None] * cn[None, :])
                )
                cid = np.argmax(cos, axis=1)  # first max == smallest cid
                sums = np.zeros((C.shape[0], V.shape[1]), dtype=np.int64)
                np.add.at(sums, cid, V)
                counts = np.bincount(cid, minlength=C.shape[0]).astype(np.int64)
                out = [
                    (int(c), int(i), int(sums[c, i]))
                    for c in range(C.shape[0])
                    for i in range(V.shape[1])
                ]
                out += [(int(c), -1, int(counts[c])) for c in range(C.shape[0])]
                yield pd.DataFrame(out, columns=["cid", "i", "s"]).astype(
                    {"cid": "int32", "i": "int32", "s": "int64"}
                )

        rows = (
            embeddings.select(vec_col)
            .mapInPandas(fn, "cid int, i int, s long")
            .groupBy("cid", "i")
            .agg(F.sum("s").alias("s"))
            .collect()
        )
        sums = np.zeros((k, dim), dtype=np.int64)
        counts = np.zeros(k, dtype=np.int64)
        for r in rows:
            if r["i"] < 0:
                counts[r["cid"]] = r["s"]
            else:
                sums[r["cid"], r["i"]] = r["s"]
        new = _round_div_np(sums, counts[:, None])
        cents = np.where(counts[:, None] > 0, new, cents)

    out_rows = [
        (int(c), int(i), int(cents[c, i])) for c in range(k) for i in range(dim)
    ]
    return spark.createDataFrame(out_rows, "cid int, i int, val long")


def ann_ivf_kmeans_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_clusters: int = 4,
    iterations: int = 2,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k over TRAINED centroids — the
    :func:`kmeans_centroids` swap-in that :func:`ivf_assignments`'s seeded
    selection documents: train k integer centroids (deterministic Lloyd's),
    assign every vector to its max-cosine centroid, probe the ``nprobe``
    closest cells per query, exact-rerank inside them.

    The centroid set is a k×dim driver constant (same class as the query
    set); assignment is one broadcast join + per-vector window (bounded
    group of k rows — never hot); at scale the ``cell`` column is the
    partition key the inverted lists are stored under, so the probe prunes
    the scan exactly like the seeded IVF. All cosines share the
    integer-dot micros tree, so the whole trained path is hash-gated
    against a DuckDB twin that embeds the k-means oracle verbatim.

    Output: (query_id, rank, neighbor_id, cosine_micros)."""
    spark = embeddings.sparkSession
    crows = kmeans_centroids(
        embeddings, k=n_clusters, iterations=iterations, id_col=id_col, vec_col=vec_col
    ).collect()
    bycid: dict[int, dict[int, int]] = {}
    for r in crows:
        bycid.setdefault(r["cid"], {})[r["i"]] = r["val"]
    cents = spark.createDataFrame(
        [(cid, [vals[i] for i in range(len(vals))]) for cid, vals in sorted(bycid.items())],
        "cell int, _cent array<bigint>",
    )
    cm_all = (
        embeddings.select(id_col, vec_col)
        .join(F.broadcast(cents))
        .select(
            id_col,
            vec_col,
            "cell",
            cosine_micros_qq(_quantized(F.col(vec_col)), F.col("_cent")).alias("_cm"),
        )
    )
    w_vec = Window.partitionBy(id_col).orderBy(F.desc("_cm"), F.asc("cell"))
    assign = (
        cm_all.withColumn("_rn", F.row_number().over(w_vec))
        .filter(F.col("_rn") == 1)
        .select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"), "cell")
    )
    probed = (
        cm_all.filter(F.col(id_col) < n_queries)
        .withColumn("_rn", F.row_number().over(w_vec))
        .filter(F.col("_rn") <= nprobe)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"), "cell")
    )
    scored = (
        assign.join(F.broadcast(probed), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_micros(F.col("_qv"), F.col("_cv")).alias("cosine_micros"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_micros"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine_micros")
    )


def ann_filtered_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    label_value: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Filtered vector search: exact top-k cosine among the vectors whose
    metadata matches (``label = label_value``) — the constrained-ANN query
    every production vector store serves ("nearest docs WHERE lang='en'").

    This is the PRE-FILTER strategy: the predicate pushes into the parquet
    scan before any scoring (``PushedFilters`` on the label column), so the
    matmul touches only the qualifying fraction of the corpus — the right
    plan when the filter is selective. (The alternative, post-filtering an
    unconstrained ANN result, under-fills k whenever the filter is tighter
    than the over-fetch; with the exact scorer there is no recall argument
    for it.) Queries come from the UNfiltered table; self-matches are
    excluded as usual. Output: (query_id, rank, neighbor_id,
    cosine_micros)."""
    return ann_bruteforce_topk(
        embeddings,
        n_queries=n_queries,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        corpus=embeddings.filter(F.col(label_col) == label_value),
    )


def rp_project(
    embeddings: DataFrame,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Johnson–Lindenstrauss signed random projection (Achlioptas 2003):
    reduce each embedding to ``out_dim`` coordinates ``y_j = <v, r_j>``
    using the SAME deterministic integer plane family as the LSH signatures
    (functions/planes.py — md5-derived components, no RNG state). The LSH
    sign bit is ``y_j > 0``; this operator keeps the full integer dot, so
    downstream consumers (coarse ANN, visualization, cheap pre-filters in a
    two-stage cosine pipeline) get a distance-preserving sketch at
    ``out_dim/dim`` of the storage and matmul cost.

    Map-only: the (out_dim × dim) matrix is a compile-time constant inside
    the Arrow kernel (one numpy int64 matmul per batch, no shuffle, no
    per-row Python) — at 100 TB this runs at scan speed and is
    embarrassingly parallel. Exact integer output, hash-gated against a
    DuckDB twin whose plane rows are the same compile-time literals.

    Output: (vec_id, j, val) — one row per reduced coordinate."""
    R = np.array(plane_ints(out_dim, dim), dtype=np.int64)  # (out_dim, dim)

    def fn(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            Q = _quantize_np(np.stack(pdf[vec_col].to_numpy()))  # (n, dim)
            P = Q @ R.T  # exact int64: |plane| <= 2^24, |q| <= ~2^31, 64 dims
            n = len(pdf)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), out_dim),
                    "j": np.tile(np.arange(out_dim, dtype=np.int32), n),
                    "val": P.reshape(-1),
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        fn, f"{id_col} long, j int, val long"
    )


def sq8_codes(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar int8 quantization (the SQ8 of FAISS/vector stores): per-
    DIMENSION corpus min/max, each value mapped to a 0..255 code with
    half-up integer rounding — 4× smaller vectors, table scans become
    byte reads, exactly reconstructible bounds for re-ranking.

    Two passes, both cheap: (1) one map-side-combined aggregate produces
    the 64-row (dim) stats table; (2) the stats broadcast back onto the
    exploded values and the code is a pure integer expression
    (``(2*255*(v-lo) + span) div (2*span)``), so both passes stay inside
    whole-stage codegen — no Python, no skew (keys are dimensions), and
    the only shuffle carries dim-sized partials. Output:
    (vec_id, i, code) with code in [0, 255]."""
    rows = embeddings.select(
        F.col(id_col), F.posexplode(_quantized(F.col(vec_col))).alias("i", "val")
    )
    stats = rows.groupBy("i").agg(F.min("val").alias("lo"), F.max("val").alias("hi"))
    span = F.col("hi") - F.col("lo")
    code = F.when(span == 0, F.lit(0).cast("long")).otherwise(
        F.expr("(2 * 255 * (val - lo) + (hi - lo)) div (2 * (hi - lo))")
    )
    return (
        rows.join(F.broadcast(stats), "i")
        .select(id_col, "i", code.alias("code"))
    )


def knn_graph(
    embeddings: DataFrame,
    k: int = 3,
    n_planes: int = 16,
    rows_per_band: int = 8,
    dim: int = 64,
    max_bucket: int | None = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The all-vectors kNN graph — (vec_id, rank, neighbor_id,
    cosine_micros), each vector's top-k approximate neighbors — via LSH
    band buckets: the backbone of graph-based corpus curation (SemDeDup
    neighborhoods, graph dedup, diversity sampling) where every document
    needs neighbors, not just a query set.

    Scale shape: candidates come from the bands⋈bands self-equi-join on
    (band_id, band_key) — co-keyed shuffle join, never a |V|² cross join.
    Within-bucket cost is quadratic in bucket size, so ``max_bucket`` drops
    over-full buckets BEFORE the join (the stop-shingle defusal for
    vectors: a degenerate bucket holding half the corpus — e.g. all-zero
    embeddings — would otherwise melt one reducer; its members keep
    neighbors from their other, selective bands). Verification is the
    shared one-Arrow-pass integer cosine; the per-vector top-k window
    partitions by vec_id (bounded by that vector's candidate count). The
    whole path is exact integer arithmetic — the DuckDB oracle replays
    signature, cap, join, and rerank bit-for-bit."""
    bands = lsh_bands(embeddings, n_planes, rows_per_band, dim, id_col, vec_col)
    if max_bucket is not None:
        hot = (
            bands.groupBy("band_id", "band_key")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_bucket)
            .select("band_id", "band_key")
        )
        bands = bands.join(hot, ["band_id", "band_key"], "left_anti")
    other = bands.select(
        F.col(id_col).alias("neighbor_id"), "band_id", "band_key"
    )
    cand = (
        bands.join(other, ["band_id", "band_key"])
        .filter(F.col(id_col) != F.col("neighbor_id"))
        .select(F.col(id_col), "neighbor_id")
        .distinct()
    )
    vs = embeddings.select(F.col(id_col).alias("_sid"), F.col(vec_col).alias("_sv"))
    vd = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_dv")
    )
    scored = rowwise_cosine_micros(
        cand.join(vs, cand[id_col] == vs["_sid"]).join(vd, "neighbor_id"),
        "_sv",
        "_dv",
        [(id_col, "long"), ("neighbor_id", "long")],
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("cosine_micros"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "neighbor_id", "cosine_micros")
    )
