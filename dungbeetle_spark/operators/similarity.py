"""Similarity search over the ``embeddings`` table.

Two paths, same contract (top-k neighbors per query vector):

- **brute force** — cross join + ordered-fold cosine + window top-k.
  Exact; the right baseline and the correctness oracle. At scale this
  is queries×corpus work, so it's only the production path when the
  query set is small (broadcast the queries, scan the corpus once —
  which is exactly how the plan below compiles: queries side is tiny →
  broadcast nested-loop, corpus scanned in parallel, per-partition
  top-k before the final shuffle).

- **LSH-bucketed** — random-hyperplane signatures (deterministic
  seed) bucket the corpus; candidates = same-bucket pairs in any of
  B bands; exact cosine re-rank inside buckets. Recall < 1 by design;
  cost scales with bucket occupancy, not corpus². This is the 100 TB
  path: signatures are one narrow projection, buckets are the shuffle
  key, and hot buckets split via AQE skew handling.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from dungbeetle_spark.functions.texts import md5_hash60_sql
from dungbeetle_spark.planmode import materialize_concurrently, maybe_local_checkpoint
from dungbeetle_spark.queries import _t, query
from dungbeetle_spark.sources.catalog import fan_out

_TOP_K = 5
_N_QUERIES = 10  # vec_id < 10 are the query vectors in the fixture
_DIM = 64  # embeddings fixture dimension (TESTDATA.md)


@query(
    "ann_cosine_topk",
    oracle=f"""
    WITH sims AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(c.embedding AS DOUBLE[])) AS cs
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < {_N_QUERIES}),
    ranked AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cs DESC, neighbor_id) AS rank,
             cs
      FROM sims)
    SELECT query_id, neighbor_id, rank, round(cs, 6) AS cos_sim
    FROM ranked WHERE rank <= {_TOP_K}
    """,
    doc=f"Exact brute-force cosine top-{_TOP_K} for {_N_QUERIES} query "
    "vectors: broadcast the (tiny) query side, scan the corpus once, "
    "window-rank per query. Deterministic neighbor_id tiebreak.",
)
def ann_cosine_topk(
    spark: SparkSession, sf_dir: str, _qpd=None
) -> DataFrame:
    """Blocked exact sweep: the (tiny) query matrix rides to every task
    in the closure — the broadcast-the-small-side join, minus the pair
    materialization. Each corpus partition computes query×block cosines
    with dimension-sequential numpy accumulation (bit-identical to a
    sequential C fold — see dedup_embedding_cosine), then a window
    ranks per query. Per-partition top-k pre-pruning shrinks the
    shuffle to k rows per (query, partition). ``_qpd`` (r15) lets
    ann_recall_calibration pass the prefetched query pull so the
    three arms share ONE driver-blocking toPandas job; standalone the
    op pulls its own, identically."""
    import numpy as np

    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    qpd = (
        _qpd
        if _qpd is not None
        else e.filter(F.col("vec_id") < _N_QUERIES)
        .select("vec_id", "embedding")
        .toPandas()
    )
    qids = qpd["vec_id"].to_numpy(dtype=np.int64)
    qm = np.array(qpd["embedding"].tolist(), dtype=np.float64)
    nq = np.zeros(len(qm))
    for i in range(_DIM):  # sequential fold, matching the engines
        nq = nq + qm[:, i] * qm[:, i]
    nq_sqrt = np.sqrt(nq)
    k = _TOP_K

    def block(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cm = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            cids = pdf["vec_id"].to_numpy()
            dots = np.zeros((len(qm), len(cm)))
            nc = np.zeros(len(cm))
            for i in range(_DIM):
                dots = dots + np.outer(qm[:, i], cm[:, i])
                nc = nc + cm[:, i] * cm[:, i]
            cos = dots / (nq_sqrt[:, None] * np.sqrt(nc)[None, :])
            valid = qids[:, None] != cids[None, :]
            # per-partition prune: only each query's local top-k can
            # survive the global rank, so ship k rows per query.
            out_q, out_n, out_c = [], [], []
            for qi in range(len(qm)):
                row = cos[qi]
                idx = np.nonzero(valid[qi])[0]
                if len(idx) > k:
                    # top-k by (cos desc, neighbor_id asc) — lexsort keys
                    order = np.lexsort((cids[idx], -row[idx]))[:k]
                    idx = idx[order]
                out_q.extend([qids[qi]] * len(idx))
                out_n.extend(cids[idx])
                out_c.extend(row[idx])
            if out_q:
                yield pd.DataFrame(
                    {"query_id": out_q, "neighbor_id": out_n, "cs": out_c}
                )

    sims = fan_out(e.select("vec_id", "embedding")).mapInPandas(
        block, "query_id long, neighbor_id long, cs double"
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "rank", F.round("cs", 6).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN — the scale path
# ---------------------------------------------------------------------------

# Tuned on the fixture's similarity regime (top-k cosines 0.26-0.49,
# isotropic gaussian embeddings — the hardest case for LSH): 20 bands
# x 6-bit md5-derived signatures measure 0.56 recall of the exact
# top-5 while probing ~28% of the corpus, a ~2x lift over random
# scanning (re-tuned in r05 when planes moved from gaussian RNG to
# oracle-recomputable md5 uniforms — 16 bands measured 0.48). On
# real (clustered) embedding corpora the same banding does far
# better; raise planes/bands for higher-similarity near-dup regimes.
_N_PLANES = 6  # bits per signature band
_N_BANDS = 20


def _plane_matrix(dim: int) -> "object":
    """Deterministic random hyperplanes, all bands stacked: (bands×planes, dim).

    Plane components are md5-derived uniforms in [-1, 1):
    ``md5_hash60(f"{plane}|{dim}") / 2^59 - 1`` — a pure function of
    the (plane, dim) index that a DuckDB oracle recomputes exactly
    (the r05 conversion from rows-only to hash-checked; uniform-cube
    directions are a valid sign-LSH family — slightly corner-biased vs
    gaussian, recall floor re-measured in
    test_probabilistic_recall_floors).
    """
    from dungbeetle_spark.functions.texts import md5_hash60_py

    n = _N_BANDS * _N_PLANES
    vals = np.empty((n, dim), dtype=np.float64)
    for j in range(n):
        for d in range(dim):
            h = md5_hash60_py(f"{j}|{d}")
            vals[j, d] = h / float(1 << 59) - 1.0
    return vals


def _signatures(e: DataFrame, dim: int) -> DataFrame:
    """embeddings → (vec_id, embedding, sigs: array<int>), one bucket id
    per band.

    A vectorized Pandas UDF (one numpy matmul per Arrow batch) instead
    of a per-plane column expression: 48 plane dots × 64 dims as
    unrolled JVM expressions is a multi-thousand-node codegen blowup,
    while ``(batch × dim) @ (dim × 48)`` is a single BLAS call. This is
    also the shape that scales — signature cost is one matmul per
    batch regardless of band/plane count.
    """
    planes_t = _plane_matrix(dim).T  # (dim, bands*planes)
    weights = 1 << np.arange(_N_PLANES)  # bit weights within a band

    @F.pandas_udf("array<int>")
    def sig(emb: pd.Series) -> pd.Series:
        a = np.asarray([np.asarray(x, dtype=np.float64) for x in emb])
        # dimension-sequential accumulation, NOT a BLAS matmul: BLAS
        # reorders/fuses the reduction, which can flip the sign of
        # near-zero dots vs the oracle's ordered C fold. Each (row,
        # plane) entry sees the exact mul-add sequence d=0..dim-1 that
        # DuckDB's list_dot_product performs, so the sign bits are
        # bit-identical cross-engine.
        dots = np.zeros((len(a), planes_t.shape[1]))
        for d in range(dim):
            dots = dots + np.outer(a[:, d], planes_t[d, :])
        bits = dots >= 0  # (n, bands*planes)
        buckets = bits.reshape(len(a), _N_BANDS, _N_PLANES) @ weights  # (n, bands)
        return pd.Series([row.astype(np.int32).tolist() for row in buckets])

    return e.select("vec_id", "embedding", sig("embedding").alias("sigs"))


@query(
    "ann_lsh_bucketed",
    oracle=f"""
    WITH planes AS (
      SELECT j.j, d.d,
             CAST({md5_hash60_sql("concat(CAST(j.j AS VARCHAR), '|', CAST(d.d AS VARCHAR))")} AS DOUBLE)
               / 576460752303423488.0 - 1.0 AS v
      FROM UNNEST(range(0, {_N_BANDS * _N_PLANES})) AS j(j),
           UNNEST(range(0, {_DIM})) AS d(d)),
    pvec AS (SELECT j, list(v ORDER BY d) AS pv FROM planes GROUP BY j),
    dots AS (
      SELECT e.vec_id,
             CAST(p.j // {_N_PLANES} AS INT) AS band,
             CAST(p.j % {_N_PLANES} AS INT) AS bit,
             list_dot_product(CAST(e.embedding AS DOUBLE[]), p.pv) AS dot
      FROM embeddings e CROSS JOIN pvec p),
    sigs AS (
      SELECT vec_id, band,
             CAST(SUM(CASE WHEN dot >= 0 THEN (1 << bit) ELSE 0 END) AS INT)
               AS bucket
      FROM dots GROUP BY vec_id, band),
    cands AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM sigs q JOIN sigs c ON q.band = c.band AND q.bucket = c.bucket
      WHERE q.vec_id < {_N_QUERIES} AND q.vec_id <> c.vec_id),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                    CAST(ce.embedding AS DOUBLE[])) AS cs
      FROM cands cand
      JOIN embeddings qe ON qe.vec_id = cand.query_id
      JOIN embeddings ce ON ce.vec_id = cand.neighbor_id),
    ranked AS (
      SELECT query_id, neighbor_id, cs,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cs DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, rank, round(cs, 6) AS cos_sim
    FROM ranked WHERE rank <= {_TOP_K}
    """,
    doc=f"LSH-bucketed ANN: {_N_BANDS} bands × {_N_PLANES} random-"
    "hyperplane sign bits (md5-derived planes) bucket the corpus; "
    "same-bucket-in-any-band candidates get exact cosine re-rank, top-"
    f"{_TOP_K} per query. Shuffle is keyed on (band, bucket) — "
    "corpus² never materializes; the plan that still works at 100 TB. "
    "Oracle-backed since r05: planes are a pure md5 function of "
    "(plane, dim) and signature dots fold dimension-sequentially, so "
    "DuckDB recomputes the exact candidate set + re-rank.",
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fan_out(_t(spark, sf_dir, "embeddings")["embeddings"])
    signed = _signatures(e, _DIM)
    # long format: (vec_id, band, bucket)
    buckets = signed.select(
        "vec_id", "embedding", F.posexplode("sigs").alias("band", "bucket")
    )

    q = buckets.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        "band",
        "bucket",
    )
    c = buckets.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        "band",
        "bucket",
    )
    # Explicit broadcast of the (tiny) query side: auto-selection sees
    # comparable size estimates for both exploded sides and may try to
    # broadcast the corpus — fatal on a small driver, wrong at 100 TB.
    cands = (
        c.join(F.broadcast(q), ["band", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "q_emb", "neighbor_id", "c_emb")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    # vectorized re-rank (bit-exact fold; the unrolled expression tree
    # leaves codegen at this node count — see functions.vectors)
    from dungbeetle_spark.functions.vectors import pair_cosine_udf

    cos = pair_cosine_udf(_DIM)(F.col("q_emb"), F.col("c_emb"))
    w = W.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("neighbor_id"))
    return (
        cands.select("query_id", "neighbor_id", cos.alias("cs"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "rank", F.round("cs", 6).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the partition-pruned scale path
# ---------------------------------------------------------------------------

_IVF_K = 8  # coarse centroids (seeds; production would k-means these)
_IVF_NPROBE = 2  # clusters probed per query


@query(
    "ann_ivf",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS c_emb
      FROM embeddings
      WHERE vec_id >= {_N_QUERIES} AND vec_id < {_N_QUERIES + _IVF_K}),
    scored AS (
      SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb, cent.cid,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), cent.c_emb) AS cs,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                ORDER BY list_cosine_similarity(
                                  CAST(e.embedding AS DOUBLE[]), cent.c_emb) DESC,
                                cent.cid) AS rk
      FROM embeddings e CROSS JOIN cent),
    assign AS (SELECT vec_id, emb, cid AS cluster FROM scored WHERE rk = 1),
    probes AS (
      SELECT vec_id AS query_id, emb AS q_emb, cid AS cluster
      FROM scored WHERE vec_id < {_N_QUERIES} AND rk <= {_IVF_NPROBE}),
    cands AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             list_cosine_similarity(p.q_emb, a.emb) AS cs
      FROM probes p JOIN assign a ON a.cluster = p.cluster
      WHERE a.vec_id <> p.query_id),
    ranked AS (
      SELECT query_id, neighbor_id, cs,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cs DESC, neighbor_id) AS rank
      FROM cands)
    SELECT query_id, neighbor_id, rank, round(cs, 6) AS cos_sim
    FROM ranked WHERE rank <= {_TOP_K}
    """,
    doc=f"IVF ANN: corpus vectors assign to the nearest of {_IVF_K} "
    f"coarse centroids (deterministic seed vectors); each query probes "
    f"its {_IVF_NPROBE} nearest clusters and exact-ranks only those "
    "candidates. At 100 TB the corpus is written DISTRIBUTE BY "
    "cluster, so a probe scans nprobe/K of the data (partition "
    "pruning on the cluster column) — recall trades against nprobe. "
    "Centroid table broadcasts; per-vector assignment is one narrow "
    "pass. Fully oracle-checked: assignment, probing, and re-rank "
    "replicate relationally in DuckDB.",
)
def ann_ivf(
    spark: SparkSession, sf_dir: str, _cpd=None, _qpd=None
) -> DataFrame:
    e = fan_out(_t(spark, sf_dir, "embeddings")["embeddings"]).select(
        "vec_id", "embedding"
    )
    # Assignment/probe ranking as a closure-broadcast numpy pass (same
    # rationale + bit-compat argument as semdedup: the broadcast-join +
    # window form sorts n×k rows per assignment and its unrolled cosine
    # leaves codegen — measured 5.4 s at sf0.1, 1.5 s this way). Each
    # row emits its rank-1 cluster, and query rows additionally their
    # top-nprobe probe clusters; the probe/candidate/re-rank stages
    # stay relational (that is the part whose plan carries the
    # partition-pruning scale story). ``_cpd``/``_qpd`` (r15): the
    # calibration passes prefetched centroid/query pulls so its arms
    # share one driver-blocking toPandas job; standalone pulls are
    # identical slices of the same scan.
    cpd = (
        _cpd
        if _cpd is not None
        else _t(spark, sf_dir, "embeddings")["embeddings"]
        .filter(
            (F.col("vec_id") >= _N_QUERIES) & (F.col("vec_id") < _N_QUERIES + _IVF_K)
        )
        .select("vec_id", "embedding")
        .toPandas()
    )
    cids = cpd["vec_id"].to_numpy(dtype=np.int64)
    cm = np.array(cpd["embedding"].tolist(), dtype=np.float64)
    nc = np.zeros(len(cm))
    for d in range(_DIM):  # sequential fold, matching the engines
        nc = nc + cm[:, d] * cm[:, d]
    nc_sqrt = np.sqrt(nc)

    def _rank(m: "np.ndarray") -> "np.ndarray":
        """(rows × dim) → centroid order per row by (cos DESC, cid ASC),
        dimension-sequential fold (bit-identical to the oracle)."""
        dots = np.zeros((len(m), len(cm)))
        na = np.zeros(len(m))
        for d in range(_DIM):
            dots = dots + np.outer(m[:, d], cm[:, d])
            na = na + m[:, d] * m[:, d]
        cos = dots / (np.sqrt(na)[:, None] * nc_sqrt[None, :])
        return np.lexsort((np.broadcast_to(cids, cos.shape), -cos), axis=1)

    def _assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "embedding": pdf["embedding"],
                    "cluster": cids[_rank(m)[:, 0]],
                }
            )

    assign = e.mapInPandas(
        _assign, "vec_id long, embedding array<float>, cluster long"
    )
    # Probes are the _N_QUERIES query vectors — a bounded driver-side
    # pull (like the centroid matrix), ranked with the same fold, so
    # the corpus-wide Python pass runs ONCE (probes as a branch of the
    # assignment subtree would re-evaluate it per consumer).
    qpd = (
        _qpd
        if _qpd is not None
        else _t(spark, sf_dir, "embeddings")["embeddings"]
        .filter(F.col("vec_id") < _N_QUERIES)
        .select("vec_id", "embedding")
        .toPandas()
    )
    q_order = _rank(np.array(qpd["embedding"].tolist(), dtype=np.float64))
    probes = spark.createDataFrame(
        [
            (int(qid), [float(x) for x in emb], int(cids[q_order[i, p]]))
            for i, (qid, emb) in enumerate(
                zip(qpd["vec_id"], qpd["embedding"])
            )
            for p in range(_IVF_NPROBE)
        ],
        "query_id long, q_emb array<float>, cluster long",
    )
    # Arrow-vectorized pair cosine for the candidate re-rank: the
    # unrolled expression tree leaves codegen at this node count and
    # evaluates interpreted per pair (see functions.vectors); the UDF
    # is the same bit-exact fold, vectorized across the batch.
    from dungbeetle_spark.functions.vectors import pair_cosine_udf

    cs_pair = pair_cosine_udf(_DIM)(F.col("q_emb"), F.col("embedding"))
    w_rank = W.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("neighbor_id"))
    return (
        assign.join(F.broadcast(probes), "cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), cs_pair.alias("cs")
        )
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "rank", F.round("cs", 6).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# SemDeDup — cluster-then-dedup semantic deduplication
# ---------------------------------------------------------------------------

_SEM_T = 0.35  # within-cluster cosine above which the higher id drops


@query(
    "semdedup",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS c_emb
      FROM embeddings
      WHERE vec_id >= {_N_QUERIES} AND vec_id < {_N_QUERIES + _IVF_K}),
    scored AS (
      SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb, cent.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                ORDER BY list_cosine_similarity(
                                  CAST(e.embedding AS DOUBLE[]), cent.c_emb) DESC,
                                cent.cid) AS rk
      FROM embeddings e CROSS JOIN cent),
    assign AS (SELECT vec_id, emb, cid AS cluster FROM scored WHERE rk = 1),
    pairs AS (
      SELECT a.cluster, a.vec_id AS keeper, b.vec_id AS dropped,
             list_cosine_similarity(a.emb, b.emb) AS cs
      FROM assign a JOIN assign b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.emb, b.emb) >= {_SEM_T})
    SELECT cluster, dropped AS dropped_vec_id,
           MIN(keeper) AS kept_vec_id,
           round(MAX(cs), 6) AS max_cos
    FROM pairs GROUP BY cluster, dropped
    """,
    doc=f"SemDeDup (Abbas et al. 2023): semantic dedup via cluster-"
    "then-pairwise — vectors assign to their nearest coarse centroid "
    f"(the ann_ivf seed centroids), and within each cluster any vector "
    f"with a lower-id neighbor at cosine ≥ {_SEM_T} is dropped "
    "(keep-lowest-id representative, deterministic). Emits (cluster, "
    "dropped, kept=MIN lower neighbor, max_cos) — MIN/MAX aggregates "
    "are fold-order-free, so the DuckDB oracle is hash-exact.",
)
def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-blocked semantic dedup — the shape that scales.

    The all-pairs cosine sweep is O(n²·dim); SemDeDup's insight is
    that semantic duplicates share a cluster, so pairing only within
    clusters cuts the cost to Σ|cluster|² — with k ∝ √n centroids the
    expected quadratic term stays bounded as the corpus grows. Spark
    shape: the k×dim centroid matrix rides to every task in the
    closure, assignment is one narrow Arrow pass (no shuffle), then
    each embedding moves exactly ONCE in the cluster-keyed shuffle and
    the per-cluster |c|×|c| cosine matrix is blocked numpy inside
    ``applyInPandas``. Measured at sf0.1: 7.4 s as a relational pair
    join (the pair rows carried two float arrays each and the unrolled
    cosine fell out of codegen) → 1.4 s in this form. The fixture uses
    the ann_ivf seed centroids; production swaps in k-means centroids
    without touching the dataflow.
    """
    e = fan_out(_t(spark, sf_dir, "embeddings")["embeddings"]).select(
        "vec_id", "embedding"
    )
    # Centroid assignment as a closure-broadcast numpy pass, not a
    # broadcast-join + window: the windowed argmin costs a full
    # (vec_id-partitioned) sort shuffle of n×k rows just to pick each
    # row's max. The centroid matrix is k×dim (bounded, driver-pulled
    # via Arrow), rides to every task in the closure, and assignment
    # is one narrow mapInPandas projection — ZERO shuffles before the
    # cluster groupBy. Values match the ann_ivf oracle's assignment
    # exactly: dimension-sequential cosine fold + (cs DESC, cid ASC)
    # tiebreak via lexsort.
    cpd = (
        _t(spark, sf_dir, "embeddings")["embeddings"]
        .filter(
            (F.col("vec_id") >= _N_QUERIES) & (F.col("vec_id") < _N_QUERIES + _IVF_K)
        )
        .select("vec_id", "embedding")
        .toPandas()
    )
    cids = cpd["vec_id"].to_numpy(dtype=np.int64)
    cm = np.array(cpd["embedding"].tolist(), dtype=np.float64)  # (k, dim)
    nc = np.zeros(len(cm))
    for d in range(_DIM):  # sequential fold, matching the engines
        nc = nc + cm[:, d] * cm[:, d]
    nc_sqrt = np.sqrt(nc)

    def _assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            dots = np.zeros((len(m), len(cm)))
            na = np.zeros(len(m))
            for d in range(_DIM):
                dots = dots + np.outer(m[:, d], cm[:, d])
                na = na + m[:, d] * m[:, d]
            cos = dots / (np.sqrt(na)[:, None] * nc_sqrt[None, :])
            # argmax by (cos DESC, cid ASC): lexsort is ascending, so
            # sort on (-cos, cid) and take the first column
            best = np.lexsort((np.broadcast_to(cids, cos.shape), -cos), axis=1)[:, 0]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "embedding": pdf["embedding"],
                    "cluster": cids[best],
                }
            )

    assign = e.mapInPandas(
        _assign, "vec_id long, embedding array<float>, cluster long"
    )
    # Per-cluster blocked matrix sweep (the SemDeDup paper's own
    # shape), NOT a relational pair join: a pair join materializes and
    # ships Σ|cluster|² rows each carrying two 64-float arrays (~1.5 GB
    # through the shuffle at sf0.1, and the 128-node unrolled cosine
    # expression trips the generated-method size limit into interpreted
    # eval — 7.4 s measured). Here each embedding moves ONCE in the
    # cluster shuffle and the |c|×|c| cosine matrix is numpy inside the
    # Arrow group — 0.9 s at sf0.1, same values: the dimension-
    # sequential outer-product fold is bit-identical to the JVM
    # left-assoc fold and DuckDB's list_cosine_similarity (same
    # pattern as dedup._embedding_pairs_exact, oracle-green since r01).
    # Memory contract: one task holds one cluster's matrix; with
    # k ∝ √n centroids (the paper's sizing) that is O(n) per task.
    def _sem_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"cluster": [], "keeper": [], "dropped": [], "cs": []}
            ).astype({"cluster": "int64", "keeper": "int64",
                      "dropped": "int64", "cs": "float64"})
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        dots = np.zeros((n, n))
        na = np.zeros(n)
        for d in range(_DIM):  # sequential fold, matching the engines
            col = m[:, d]
            dots = dots + np.outer(col, col)
            na = na + col * col
        rt = np.sqrt(na)
        cos = dots / (rt[:, None] * rt[None, :])
        keep = (ids[:, None] < ids[None, :]) & (cos >= _SEM_T)
        ai, bi = np.nonzero(keep)
        return pd.DataFrame(
            {
                "cluster": np.full(len(ai), int(pdf["cluster"].iloc[0])),
                "keeper": ids[ai],
                "dropped": ids[bi],
                "cs": cos[ai, bi],
            }
        )

    pairs = assign.groupBy("cluster").applyInPandas(
        _sem_pairs, "cluster long, keeper long, dropped long, cs double"
    )
    return (
        pairs.groupBy("cluster", F.col("dropped").alias("dropped_vec_id"))
        .agg(
            F.min("keeper").alias("kept_vec_id"),
            F.round(F.max("cs"), 6).alias("max_cos"),
        )
    )


# ---------------------------------------------------------------------------
# k-means (Lloyd) — iterative distributed clustering, fixed-point exact
# ---------------------------------------------------------------------------

_KM_SCALE = 1_000_000  # micro quantization: floor((x + offset) * scale)
_KM_OFFSET = 2.0  # shifts every fixture component positive (range ±0.58)


def _km_quant(mat: "np.ndarray") -> "np.ndarray":
    """Micro-quantize a (rows × dim) float64 matrix to int64:
    ``floor((x + 2) * 1e6)``. Float32→float64 widening, the add, the
    multiply, and the floor are all single IEEE-754 operations, so
    Spark, numpy, and DuckDB produce bit-identical integers — every
    downstream distance and centroid mean is then EXACT int arithmetic
    with no fold-order sensitivity anywhere. The +2 offset keeps all
    values positive so truncating and flooring division agree across
    engines (differences cancel in distances)."""
    return np.floor((mat + _KM_OFFSET) * _KM_SCALE).astype(np.int64)


def _km_assign(m: "np.ndarray", cents: "np.ndarray", cids: "np.ndarray"):
    """Nearest centroid per row by exact integer squared L2 distance,
    ties to the lowest centroid id (cids ascending → argmin's
    first-minimum rule IS the tiebreak). Returns (index array, min
    dist² array) — int64 throughout, max value ~8e13, no overflow."""
    d2 = np.empty((len(m), len(cents)), dtype=np.int64)
    for j in range(len(cents)):
        diff = m - cents[j]
        d2[:, j] = (diff * diff).sum(axis=1)
    idx = np.argmin(d2, axis=1)
    return idx, d2[np.arange(len(m)), idx]


@query(
    "kmeans_clusters",
    oracle=f"""
    WITH mic AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor((x + {_KM_OFFSET}) * {_KM_SCALE})
                                      AS BIGINT)) AS m
      FROM embeddings),
    dims AS (
      SELECT vec_id, i, m[i] AS v
      FROM mic, unnest(range(1, {_DIM + 1})) AS u(i)),
    seedd AS (
      SELECT vec_id - {_N_QUERIES} AS cid, i, v
      FROM dims WHERE vec_id >= {_N_QUERIES} AND vec_id < {_N_QUERIES + _IVF_K}),
    d1 AS (
      SELECT d.vec_id, s.cid, SUM((d.v - s.v) * (d.v - s.v)) AS dist2
      FROM dims d JOIN seedd s USING (i) GROUP BY 1, 2),
    a1 AS (
      SELECT vec_id, cid AS c1 FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist2, cid) AS rk
        FROM d1) WHERE rk = 1),
    cent1 AS (
      SELECT a.c1 AS cid, d.i, SUM(d.v) // COUNT(*) AS v
      FROM a1 a JOIN dims d USING (vec_id) GROUP BY 1, 2),
    d2 AS (
      SELECT d.vec_id, c.cid, SUM((d.v - c.v) * (d.v - c.v)) AS dist2
      FROM dims d JOIN cent1 c USING (i) GROUP BY 1, 2),
    a2 AS (
      SELECT vec_id, cid AS c2, dist2 FROM (
        SELECT vec_id, cid, dist2,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist2, cid) AS rk
        FROM d2) WHERE rk = 1)
    SELECT a1.vec_id, a1.c1 AS cluster_seed, a2.c2 AS cluster_final,
           a1.c1 <> a2.c2 AS moved,
           CAST(a2.dist2 AS BIGINT) AS dist2_final
    FROM a1 JOIN a2 USING (vec_id)
    """,
    doc=f"Distributed k-means (Lloyd 1982), k={_IVF_K}, one full "
    "update from the deterministic seed centroids (the ann_ivf seed "
    "vectors): assign → recompute centroids as per-cluster per-dim "
    "means → reassign. Vectors are micro-quantized (floor((x+2)·1e6)) "
    "so every distance and centroid mean is EXACT int64/decimal "
    "arithmetic — bit-identical across Spark, numpy, and the DuckDB "
    "oracle, which replays both assignment rounds relationally. Emits "
    "per vector: seed-round cluster, final cluster, whether it moved, "
    "and its final squared distance.",
)
def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each Lloyd iteration is ONE corpus scan: centroids ride to the
    tasks in the closure (kilobytes at any scale), per-partition numpy
    assigns in exact int64, and the centroid update aggregates 8×64
    decimal sums with map-side combine — the shuffle between
    iterations is 8 rows wide. No caching: at 100 TB re-scanning
    parquet per iteration beats pinning the corpus in memory, and the
    scan is embarrassingly parallel. Python (not JVM expressions)
    because an unrolled 8-centroid × 64-dim distance tree leaves
    whole-stage codegen (same measured rationale as ann_ivf's
    closure assignment); Arrow batches keep the transfer columnar."""
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    spd = (
        e.filter(
            (F.col("vec_id") >= _N_QUERIES) & (F.col("vec_id") < _N_QUERIES + _IVF_K)
        )
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
    )
    seed_cids = (spd["vec_id"].to_numpy(dtype=np.int64)) - _N_QUERIES
    seed_m = _km_quant(np.array(spd["embedding"].tolist(), dtype=np.float64))

    def _p1(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = _km_quant(np.array(pdf["embedding"].tolist(), dtype=np.float64))
            i1, _ = _km_assign(m, seed_m, seed_cids)
            yield pd.DataFrame({"cluster_seed": seed_cids[i1], "m": m.tolist()})

    assigned = fan_out(e.select("embedding")).mapInPandas(
        _p1, "cluster_seed long, m array<long>"
    )
    # Centroid update: decimal(38,0) sums are overflow-proof at any
    # corpus size and exact (integer micros), map-side combined into
    # an 8-row shuffle.
    sums = assigned.groupBy("cluster_seed").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.element_at(F.col("m"), d + 1).cast("decimal(38,0)")).alias(
                f"s{d}"
            )
            for d in range(_DIM)
        ],
    )
    rows = sorted(sums.collect(), key=lambda r: r["cluster_seed"])
    cent_cids = np.array([r["cluster_seed"] for r in rows], dtype=np.int64)
    # positive ints: Python floor division == DuckDB/Spark truncation
    cent_m = np.array(
        [[int(r[f"s{d}"]) // r["n"] for d in range(_DIM)] for r in rows],
        dtype=np.int64,
    )

    def _p2(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = _km_quant(np.array(pdf["embedding"].tolist(), dtype=np.float64))
            i1, _ = _km_assign(m, seed_m, seed_cids)
            i2, d2 = _km_assign(m, cent_m, cent_cids)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cluster_seed": seed_cids[i1],
                    "cluster_final": cent_cids[i2],
                    "dist2_final": d2,
                }
            )

    return (
        fan_out(e.select("vec_id", "embedding"))
        .mapInPandas(
            _p2,
            "vec_id long, cluster_seed long, cluster_final long, dist2_final long",
        )
        .select(
            "vec_id",
            "cluster_seed",
            "cluster_final",
            (F.col("cluster_seed") != F.col("cluster_final")).alias("moved"),
            "dist2_final",
        )
    )


# ---------------------------------------------------------------------------
# Product-quantization ANN (Jégou et al. 2011) — the compressed-domain
# scale path: 64 float dims → _PQ_M 4-bit codes (256 bytes → 4), ADC
# search never touches raw vectors.
# ---------------------------------------------------------------------------

_PQ_M = 8  # subspaces: 64 dims / 8 per subspace
_PQ_SUB = _DIM // _PQ_M
_PQ_K = 16  # codewords per subspace → 4-bit codes
_PQ_TOPK = 10


@query(
    "ann_pq",
    oracle=f"""
    WITH mic AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor((x + {_KM_OFFSET}) * {_KM_SCALE})
                                      AS BIGINT)) AS m
      FROM embeddings),
    dims AS (
      SELECT vec_id, i, m[i] AS v, (i - 1) // {_PQ_SUB} AS s
      FROM mic, unnest(range(1, {_DIM + 1})) AS u(i)),
    cb AS (
      SELECT vec_id - {_N_QUERIES} AS cid, i, s, v
      FROM dims WHERE vec_id >= {_N_QUERIES}
                  AND vec_id < {_N_QUERIES + _PQ_K}),
    enc_d AS (
      SELECT d.vec_id, d.s, c.cid,
             SUM((d.v - c.v) * (d.v - c.v)) AS d2
      FROM dims d JOIN cb c ON c.i = d.i
      WHERE d.vec_id >= {_N_QUERIES}
      GROUP BY 1, 2, 3),
    codes AS (
      SELECT vec_id, s, cid FROM (
        SELECT vec_id, s, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY d2, cid) AS rk
        FROM enc_d) WHERE rk = 1),
    lut AS (
      SELECT q.vec_id AS query_id, c.s, c.cid,
             SUM((q.v - c.v) * (q.v - c.v)) AS d2
      FROM dims q JOIN cb c ON c.i = q.i
      WHERE q.vec_id < {_N_QUERIES}
      GROUP BY 1, 2, 3),
    adc AS (
      SELECT l.query_id, co.vec_id, SUM(l.d2) AS adc_d2
      FROM codes co JOIN lut l ON l.s = co.s AND l.cid = co.cid
      GROUP BY 1, 2),
    topk AS (
      SELECT query_id, vec_id, adc_d2,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_d2, vec_id) AS pq_rank
      FROM adc
      QUALIFY pq_rank <= {_PQ_TOPK}),
    exact AS (
      SELECT t.query_id, t.vec_id,
             SUM((q.v - d.v) * (q.v - d.v)) AS exact_d2
      FROM topk t
      JOIN dims q ON q.vec_id = t.query_id
      JOIN dims d ON d.vec_id = t.vec_id AND d.i = q.i
      GROUP BY 1, 2)
    SELECT t.query_id, t.vec_id,
           CAST(t.pq_rank AS BIGINT) AS pq_rank,
           CAST(t.adc_d2 AS BIGINT) AS adc_d2,
           CAST(e.exact_d2 AS BIGINT) AS exact_d2
    FROM topk t
    JOIN exact e ON e.query_id = t.query_id AND e.vec_id = t.vec_id
    """,
    doc=f"Product-quantization ANN (Jégou et al. 2011): {_PQ_M} "
    f"subspaces × {_PQ_K} codewords (4-bit codes — 64 float dims "
    "compress 64×), codebooks = the deterministic seed vectors "
    f"(vec_id {_N_QUERIES}..{_N_QUERIES + _PQ_K - 1}), asymmetric "
    f"distance (ADC) top-{_PQ_TOPK} per query from the per-query "
    "subspace lookup tables, then an exact re-rank distance on the "
    "surviving candidates. Micro-quantized int64 arithmetic end to "
    "end (the kmeans_clusters discipline), so codes, ADC distances, "
    "exact distances, and every tiebreak are bit-identical to the "
    "DuckDB oracle's relational replay.",
)
def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes the ANN family (brute/LSH/IVF/PQ) with the
    compressed-domain path: at 100 TB the encode is ONE corpus scan
    (codebooks ride the closure — {_PQ_M}×{_DIM} ints), and stored
    codes are 4 bytes/vector, so the ADC sweep reads 64× less than
    any raw-vector path. Per task: numpy encodes the Arrow batch,
    accumulates ADC via the (|queries|×{_PQ_M}×{_PQ_K}) lookup table,
    and prunes to the local top-k per query — the shuffle ships k
    rows per (query, partition), exactly the ann_cosine_topk shape.
    The exact re-rank joins only the ≤|queries|×k candidate rows back
    to raw vectors (broadcast), JVM-side zip_with/aggregate int math.
    Python here is the measured choice: an unrolled
    {_PQ_K}×{_PQ_SUB}-term distance tree per subspace leaves
    whole-stage codegen (same rationale as kmeans_clusters)."""
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    cbpd = (
        e.filter(
            (F.col("vec_id") >= _N_QUERIES)
            & (F.col("vec_id") < _N_QUERIES + _PQ_K)
        )
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
    )
    cb = _km_quant(np.array(cbpd["embedding"].tolist(), dtype=np.float64))
    qpd = (
        e.filter(F.col("vec_id") < _N_QUERIES)
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
    )
    qids = qpd["vec_id"].to_numpy(dtype=np.int64)
    qm = _km_quant(np.array(qpd["embedding"].tolist(), dtype=np.float64))
    # lut[q, s, c] = exact int64 d² between query q's subvector s and
    # codeword c — (|queries| × _PQ_M × _PQ_K) longs, closure-sized.
    diff = qm[:, None, :] - cb[None, :, :]  # (Q, K, DIM)
    lut = (
        (diff * diff)
        .reshape(len(qm), _PQ_K, _PQ_M, _PQ_SUB)
        .sum(axis=3)
        .transpose(0, 2, 1)  # (Q, M, K)
    )
    k = _PQ_TOPK

    def block(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = _km_quant(np.array(pdf["embedding"].tolist(), dtype=np.float64))
            cids = pdf["vec_id"].to_numpy(dtype=np.int64)
            adc = np.zeros((len(qm), len(m)), dtype=np.int64)
            for s in range(_PQ_M):
                sub = m[:, s * _PQ_SUB : (s + 1) * _PQ_SUB]
                csub = cb[:, s * _PQ_SUB : (s + 1) * _PQ_SUB]
                d2 = ((sub[:, None, :] - csub[None, :, :]) ** 2).sum(axis=2)
                # argmin's first-minimum rule = ties to lowest cid,
                # matching the oracle's ORDER BY d2, cid
                code_s = np.argmin(d2, axis=1)
                adc += lut[:, s, code_s]
            out_q, out_v, out_d = [], [], []
            for qi in range(len(qm)):
                row = adc[qi]
                idx = np.arange(len(m))
                if len(idx) > k:
                    order = np.lexsort((cids, row))[:k]
                    idx = order
                out_q.extend([qids[qi]] * len(idx))
                out_v.extend(cids[idx])
                out_d.extend(row[idx])
            if out_q:
                yield pd.DataFrame(
                    {"query_id": out_q, "vec_id": out_v, "adc_d2": out_d}
                )

    sims = fan_out(
        e.filter(F.col("vec_id") >= _N_QUERIES).select("vec_id", "embedding")
    ).mapInPandas(block, "query_id long, vec_id long, adc_d2 long")
    w = W.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("vec_id"))
    cand = (
        sims.withColumn("pq_rank", F.row_number().over(w))
        .filter(F.col("pq_rank") <= k)
    )
    quant = lambda c: F.transform(  # noqa: E731 — shared JVM twin of _km_quant
        c,
        lambda x: F.floor(
            (x.cast("double") + F.lit(float(_KM_OFFSET)))
            * F.lit(float(_KM_SCALE))
        ).cast("long"),
    )
    qframe = (
        e.filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), quant("embedding").alias("qv"))
    )
    cframe = e.select("vec_id", quant("embedding").alias("cv"))
    exact = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        F.broadcast(cand.join(F.broadcast(qframe), "query_id"))
        .join(cframe, "vec_id")
        .select(
            "query_id",
            "vec_id",
            F.col("pq_rank").cast("long").alias("pq_rank"),
            "adc_d2",
            exact.alias("exact_d2"),
        )
    )


_RRF_K = 60
_RRF_LIST = 20  # fusion depth per modality
_RRF_TOP = 5


@query(
    "hybrid_rrf_retrieval",
    oracle=f"""
    WITH vr AS (
      SELECT query_id, neighbor_id, rank FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                        CAST(c.embedding AS DOUBLE[])) DESC,
                 c.vec_id) AS rank
        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < {_N_QUERIES})
      WHERE rank <= {_RRF_LIST}),
    qtok AS (
      SELECT DISTINCT doc_id AS qid,
             UNNEST(regexp_split_to_array(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
      FROM documents WHERE doc_id < {_N_QUERIES}),
    ctok AS (
      SELECT DISTINCT doc_id AS cid,
             UNNEST(regexp_split_to_array(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
      FROM documents),
    lex AS (
      SELECT qid, cid, COUNT(*) AS ov
      FROM qtok JOIN ctok USING (w) WHERE qid <> cid GROUP BY 1, 2),
    lr AS (
      SELECT qid, cid, rank FROM (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY ov DESC, cid) AS rank
        FROM lex)
      WHERE rank <= {_RRF_LIST}),
    fused AS (
      SELECT COALESCE(v.query_id, l.qid) AS query_id,
             COALESCE(v.neighbor_id, l.cid) AS doc_id,
             v.rank AS vec_rank, l.rank AS lex_rank,
             COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + v.rank), 0)
               + COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + l.rank), 0)
               AS rrf
      FROM vr v FULL JOIN lr l
        ON v.query_id = l.qid AND v.neighbor_id = l.cid)
    SELECT query_id, doc_id, vec_rank, lex_rank,
           round(rrf, 6) AS rrf_score, rk AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY rrf DESC, doc_id) AS rk
          FROM fused)
    WHERE rk <= {_RRF_TOP}
    """,
    doc=f"Hybrid retrieval with reciprocal-rank fusion: for each of "
    f"the {_N_QUERIES} query documents, a dense rank list (exact "
    "cosine over the embedding column, declarative zip_with/aggregate "
    "fold) and a sparse rank list (distinct-token overlap via an "
    "inverted-index posting join) are fused by RRF "
    f"score = sum 1/({_RRF_K}+rank) over the top-{_RRF_LIST} of each "
    f"modality, emitting the fused top-{_RRF_TOP}. Ranks are "
    "integers and the RRF expression is a fixed-shape row-level "
    "double, so fusion is bit-deterministic; doc_id breaks "
    "symmetric-rank ties. The retrieval shape RAG stacks run — dense "
    "+ BM25-ish + fusion — as one relational plan.",
)
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the dense side broadcasts the tiny query matrix
    and scans the corpus once (cosine in JVM higher-order expressions
    — no Python); the sparse side is a posting-list equi-join keyed
    on token (cost Sum |posting(q tokens)|, never |corpus|x|queries|),
    with the 10-query token set broadcast. Both rank lists window
    over per-query candidates pruned to the fusion depth, and the
    full-outer fusion join runs on 2*depth rows per query."""
    from dungbeetle_spark.functions.texts import norm_text

    t = _t(spark, sf_dir, "embeddings", "documents")
    e, d = t["embeddings"], t["documents"]

    def with_norm(df: DataFrame, vid: str, emb: str) -> DataFrame:
        sq = F.transform(F.col(emb), lambda x: x.cast("double") * x.cast("double"))
        return df.select(
            F.col("vec_id").alias(vid),
            F.col("embedding").alias(emb),
            F.sqrt(F.aggregate(sq, F.lit(0.0), lambda a, x: a + x)).alias(
                vid + "_norm"
            ),
        )

    q = with_norm(e.filter(F.col("vec_id") < _N_QUERIES), "query_id", "q_emb")
    c = with_norm(e, "neighbor_id", "c_emb")
    dot = F.aggregate(
        F.zip_with("q_emb", "c_emb", lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wv = W.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("neighbor_id"))
    vr = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot / (F.col("query_id_norm") * F.col("neighbor_id_norm"))).alias("cs"),
        )
        .withColumn("rank", F.row_number().over(wv))
        .filter(F.col("rank") <= _RRF_LIST)
        .select("query_id", "neighbor_id", "rank")
    )

    toks = d.select(
        "doc_id", F.explode(F.split(norm_text(F.col("text")), " ")).alias("w")
    ).distinct()
    qtok = toks.filter(F.col("doc_id") < _N_QUERIES).withColumnRenamed("doc_id", "qid")
    ctok = toks.withColumnRenamed("doc_id", "cid")
    wl = W.partitionBy("qid").orderBy(F.desc("ov"), F.asc("cid"))
    lr = (
        F.broadcast(qtok)
        .join(ctok, "w")
        .filter(F.col("qid") != F.col("cid"))
        .groupBy("qid", "cid")
        .agg(F.count(F.lit(1)).alias("ov"))
        .withColumn("rank", F.row_number().over(wl))
        .filter(F.col("rank") <= _RRF_LIST)
        .select("qid", "cid", "rank")
    )

    fused = (
        vr.alias("v")
        .join(
            lr.alias("l"),
            (F.col("v.query_id") == F.col("l.qid"))
            & (F.col("v.neighbor_id") == F.col("l.cid")),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("v.query_id"), F.col("l.qid")).alias("query_id"),
            F.coalesce(F.col("v.neighbor_id"), F.col("l.cid")).alias("doc_id"),
            F.col("v.rank").alias("vec_rank"),
            F.col("l.rank").alias("lex_rank"),
            (
                F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("v.rank")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("l.rank")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    wf = W.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("rk", F.row_number().over(wf))
        .filter(F.col("rk") <= _RRF_TOP)
        .select(
            "query_id",
            "doc_id",
            "vec_rank",
            "lex_rank",
            F.round("rrf", 6).alias("rrf_score"),
            F.col("rk").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# embedding drift across training epochs — integer-exact centroid cosine
# ---------------------------------------------------------------------------


@query(
    "embedding_drift_by_epoch",
    oracle="""
    WITH q AS (
      SELECT vec_id % 3 AS epoch, label, i AS dim,
             CAST(floor(1000 * CAST(embedding[i] AS DOUBLE) + 0.5)
                  AS BIGINT) AS qv
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
    ),
    cent AS (
      SELECT label, epoch, dim,
             CAST(SUM(qv) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM q GROUP BY 1, 2, 3
    ),
    pairs AS (
      SELECT a.label, a.epoch AS epoch_from, b.epoch AS epoch_to,
             CAST(SUM(a.s * b.s) AS BIGINT) AS dot,
             CAST(SUM(a.s * a.s) AS BIGINT) AS na2,
             CAST(SUM(b.s * b.s) AS BIGINT) AS nb2,
             MAX(a.n) AS n_from, MAX(b.n) AS n_to
      FROM cent a JOIN cent b
        ON a.label = b.label AND a.dim = b.dim AND b.epoch = a.epoch + 1
      GROUP BY 1, 2, 3
    )
    SELECT label, epoch_from, epoch_to, n_from, n_to, dot, na2, nb2,
           CASE WHEN dot >= 0 THEN 1 ELSE -1 END
             * CAST(CAST(dot AS HUGEINT) * dot * 1000000 // na2 // nb2
                    AS BIGINT) AS cos_sq_ppm_signed
    FROM pairs
    """,
    doc="Embedding drift between training epochs (epoch = vec_id % 3), "
    "per label: the signed squared cosine (ppm) between consecutive "
    "epochs' centroid directions, computed ENTIRELY in integers — "
    "each dim quantizes to milli-units with the cross-engine-stable "
    "floor(1000x+0.5) idiom, centroids stay integer SUM vectors "
    "(cosine of sums equals cosine of means, so no division until "
    "the end), and cos² lands via DECIMAL(38,0)/HUGEINT exact floor "
    "division. The audit that tells a pipeline its per-source "
    "embedding distribution moved between snapshots and downstream "
    "ANN indexes / semdedup thresholds need recalibration.",
)
def embedding_drift_by_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: ONE corpus-scale stage — posexplode to (label,
    epoch, dim, qv) and a partial-combining groupBy whose key space
    is |labels|x|epochs|x|dims| (bounded) — so the shuffle moves at
    most the centroid table regardless of corpus size. The tiny
    centroid frame is lazily checkpointed before the consecutive-epoch
    self-join (two consumers of one aggregate subtree — the
    re-execution rule from ranks.py), and everything after it is
    sub-kilobyte. Float enters only the per-dim quantization; every
    aggregated/compared value is integer, so the result is hash-exact
    cross-engine."""
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    exploded = fan_out(e.select("vec_id", "label", "embedding")).select(
        (F.col("vec_id") % 3).alias("epoch"),
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "ev"
        ),
    )
    cent = (
        exploded.select(
            "label",
            "epoch",
            (F.col("pos") + 1).alias("dim"),
            F.floor(F.lit(1000) * F.col("ev") + F.lit(0.5))
            .cast("long")
            .alias("qv"),
        )
        .groupBy("label", "epoch", "dim")
        .agg(F.sum("qv").alias("s"), F.count(F.lit(1)).alias("n"))
        .transform(maybe_local_checkpoint, eager=False)
    )
    a, b = cent.alias("a"), cent.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.dim") == F.col("b.dim"))
            & (F.col("b.epoch") == F.col("a.epoch") + 1),
        )
        .groupBy(
            F.col("a.label").alias("label"),
            F.col("a.epoch").alias("epoch_from"),
            F.col("b.epoch").alias("epoch_to"),
        )
        .agg(
            F.sum(F.col("a.s") * F.col("b.s")).alias("dot"),
            F.sum(F.col("a.s") * F.col("a.s")).alias("na2"),
            F.sum(F.col("b.s") * F.col("b.s")).alias("nb2"),
            F.max("a.n").alias("n_from"),
            F.max("b.n").alias("n_to"),
        )
    )
    return pairs.select(
        "label",
        "epoch_from",
        "epoch_to",
        "n_from",
        "n_to",
        "dot",
        "na2",
        "nb2",
        (
            F.when(F.col("dot") >= 0, 1).otherwise(-1)
            * F.expr(
                "CAST(CAST(dot AS DECIMAL(19,0)) * CAST(dot AS DECIMAL(19,0))"
                " * 1000000 AS DECIMAL(38,0)) DIV na2 DIV nb2"
            )
        ).alias("cos_sq_ppm_signed"),
    )


# ---------------------------------------------------------------------------
# ANN recall calibration — approx-vs-exact, per query
# ---------------------------------------------------------------------------


def _ann_recall_oracle() -> str:
    """Compose the three individually-verified ANN oracles (exact
    brute force, LSH-bucketed, IVF) into one recall report. Reusing
    the registered oracle strings verbatim guarantees the calibration
    measures exactly the operators it claims to measure — no drift
    between a copy of the formula and the real one."""
    from dungbeetle_spark.queries import _REGISTRY

    exact = _REGISTRY["ann_cosine_topk"].oracle
    lsh = _REGISTRY["ann_lsh_bucketed"].oracle
    ivf = _REGISTRY["ann_ivf"].oracle
    return f"""
    WITH exact_r AS (SELECT query_id, neighbor_id FROM ({exact})),
    lsh_r AS (SELECT query_id, neighbor_id FROM ({lsh})),
    ivf_r AS (SELECT query_id, neighbor_id FROM ({ivf})),
    base AS (
      SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM exact_r GROUP BY query_id),
    lh AS (
      SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS hits
      FROM exact_r e JOIN lsh_r a USING (query_id, neighbor_id)
      GROUP BY e.query_id),
    ih AS (
      SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS hits
      FROM exact_r e JOIN ivf_r a USING (query_id, neighbor_id)
      GROUP BY e.query_id)
    SELECT b.query_id, b.n_exact,
           COALESCE(lh.hits, 0) AS lsh_hits,
           COALESCE(lh.hits, 0) * 1000000 // b.n_exact AS lsh_recall_ppm,
           COALESCE(ih.hits, 0) AS ivf_hits,
           COALESCE(ih.hits, 0) * 1000000 // b.n_exact AS ivf_recall_ppm
    FROM base b
    LEFT JOIN lh ON lh.query_id = b.query_id
    LEFT JOIN ih ON ih.query_id = b.query_id
    """


@query(
    "ann_recall_calibration",
    oracle=_ann_recall_oracle(),
    doc=f"ANN recall calibration: per query vector, how much of the "
    f"exact brute-force cosine top-{_TOP_K} each approximate index "
    "recovers — LSH banding and IVF probing measured side by side in "
    "exact ppm. The minhash_calibration discipline applied to the "
    "similarity stack: the oracle REUSES the three registered ANN "
    "oracle strings verbatim (composed as subqueries), so the report "
    "provably measures the shipped operators, and the number that "
    "decides bands/probes for a 100 TB index comes from data.",
)
def ann_recall_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: a diagnostic composition — the exact arm is the
    bounded brute-force sweep (run on a sample in production), the
    LSH/IVF arms are the shipped scale paths; each arm's plan is its
    own operator's plan unchanged, and the recall joins/rollups act
    on |queries| x k rows. Run cost is the sum of the three arms —
    acceptable for a calibration pass, not a pipeline stage."""
    # The exact arm feeds three consumers (the per-query denominator
    # and both hit joins); without a barrier Spark re-runs the full
    # brute-force sweep for each.  localCheckpoint cuts that to one
    # materialization — |queries| x k rows, trivially small — the same
    # barrier discipline as minhash_calibration. r14 opt (guide §2.6):
    # the three arms are independent diagnostics, and each arm's BUILD
    # runs driver-blocking Spark jobs (the query/centroid toPandas
    # pulls, the exact sweep's materialization) — so the arms build on
    # concurrent driver threads and their jobs overlap instead of
    # running as three sequential phases.
    # r15 (VERDICT r14 item 4): ONE driver pull covers the query
    # vectors and the IVF centroids — the three arms used to run
    # three separate driver-blocking toPandas jobs over overlapping
    # id ranges (the r14 spread diagnosis: whichever arm pulled first
    # absorbed ambient session noise). The slices are the same rows
    # the standalone ops pull, in the same scan order.
    head = (
        _t(spark, sf_dir, "embeddings")["embeddings"]
        .filter(F.col("vec_id") < _N_QUERIES + _IVF_K)
        .select("vec_id", "embedding")
        .toPandas()
    )
    qpd = head[head["vec_id"] < _N_QUERIES].reset_index(drop=True)
    cpd = head[head["vec_id"] >= _N_QUERIES].reset_index(drop=True)

    exact, lsh, ivf = materialize_concurrently(
        spark,
        lambda: maybe_local_checkpoint(
            ann_cosine_topk(spark, sf_dir, _qpd=qpd).select(
                "query_id", "neighbor_id"
            )
        ),
        lambda: ann_lsh_bucketed(spark, sf_dir).select(
            "query_id", "neighbor_id"
        ),
        lambda: ann_ivf(spark, sf_dir, _cpd=cpd, _qpd=qpd).select(
            "query_id", "neighbor_id"
        ),
    )
    base = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    lh = (
        exact.join(lsh, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("lsh_hits_raw"))
    )
    ih = (
        exact.join(ivf, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("ivf_hits_raw"))
    )
    return (
        base.join(lh, "query_id", "left")
        .join(ih, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("lsh_hits_raw", F.lit(0)).alias("lsh_hits"),
            F.expr(
                "coalesce(lsh_hits_raw, 0) * 1000000 DIV n_exact"
            ).alias("lsh_recall_ppm"),
            F.coalesce("ivf_hits_raw", F.lit(0)).alias("ivf_hits"),
            F.expr(
                "coalesce(ivf_hits_raw, 0) * 1000000 DIV n_exact"
            ).alias("ivf_recall_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# hard-negative mining (contrastive-training pair generation)
# ---------------------------------------------------------------------------

_HN_POS_T = 0.25  # cosine >= this → positive pair (fixture top-k regime)
_HN_NEG_LO = 0.10  # cosine in [lo, pos) → hard negative; below → easy, drop
_HN_K = 8  # hard negatives kept per query


@query(
    "hard_negative_mining",
    oracle=f"""
    WITH planes AS (
      SELECT j.j, d.d,
             CAST({md5_hash60_sql("concat(CAST(j.j AS VARCHAR), '|', CAST(d.d AS VARCHAR))")} AS DOUBLE)
               / 576460752303423488.0 - 1.0 AS v
      FROM UNNEST(range(0, {_N_BANDS * _N_PLANES})) AS j(j),
           UNNEST(range(0, {_DIM})) AS d(d)),
    pvec AS (SELECT j, list(v ORDER BY d) AS pv FROM planes GROUP BY j),
    dots AS (
      SELECT e.vec_id,
             CAST(p.j // {_N_PLANES} AS INT) AS band,
             CAST(p.j % {_N_PLANES} AS INT) AS bit,
             list_dot_product(CAST(e.embedding AS DOUBLE[]), p.pv) AS dot
      FROM embeddings e CROSS JOIN pvec p),
    sigs AS (
      SELECT vec_id, band,
             CAST(SUM(CASE WHEN dot >= 0 THEN (1 << bit) ELSE 0 END) AS INT)
               AS bucket
      FROM dots GROUP BY vec_id, band),
    cands AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM sigs q JOIN sigs c ON q.band = c.band AND q.bucket = c.bucket
      WHERE q.vec_id < {_N_QUERIES} AND q.vec_id <> c.vec_id),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                    CAST(ce.embedding AS DOUBLE[])) AS cs
      FROM cands cand
      JOIN embeddings qe ON qe.vec_id = cand.query_id
      JOIN embeddings ce ON ce.vec_id = cand.neighbor_id),
    labeled AS (
      SELECT query_id, neighbor_id, cs,
             CASE WHEN cs >= {_HN_POS_T} THEN 'positive'
                  ELSE 'hard_negative' END AS label
      FROM scored WHERE cs >= {_HN_NEG_LO}),
    ranked AS (
      SELECT query_id, neighbor_id, label, cs,
             ROW_NUMBER() OVER (PARTITION BY query_id, label
                                ORDER BY cs DESC, neighbor_id) AS rank
      FROM labeled)
    SELECT query_id, label, neighbor_id, rank, round(cs, 6) AS cos_sim
    FROM ranked
    WHERE label = 'positive' OR rank <= {_HN_K}
    """,
    doc="Hard-negative mining for contrastive training (retrieval / "
    "embedding models): per anchor query, LSH-bucketed candidates "
    f"split into positives (cosine >= {_HN_POS_T}) and HARD negatives "
    f"(cosine in [{_HN_NEG_LO}, {_HN_POS_T}) — similar enough to be "
    f"informative, top-{_HN_K} kept); easy negatives (below "
    f"{_HN_NEG_LO}) are dropped, which is the point — random "
    "negatives are nearly free gradient-wise, bucket-mates near the "
    "decision boundary are what trains the model. Candidate gen is "
    "the same (band, bucket) equi-join as ann_lsh_bucketed (never "
    "corpus^2); cosine is the bit-exact dimension-sequential fold, so "
    "the DuckDB oracle reproduces labels, ranks and scores exactly.",
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: identical plan skeleton to ann_lsh_bucketed — the
    anchor (query) side is sampled training anchors, broadcast; the
    corpus probes map-side on (band, bucket). For FULL-corpus mining
    (every doc an anchor) drop the broadcast and let the (band,
    bucket) equi-join shuffle both sides on bucket keys — still
    linear in corpus size times bucket occupancy, never all-pairs.
    The per-(query, label) rank window partitions on anchors —
    bounded by the anchor sample, not the corpus."""
    e = fan_out(_t(spark, sf_dir, "embeddings")["embeddings"])
    signed = _signatures(e, _DIM)
    buckets = signed.select(
        "vec_id", "embedding", F.posexplode("sigs").alias("band", "bucket")
    )
    q = buckets.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        "band",
        "bucket",
    )
    c = buckets.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        "band",
        "bucket",
    )
    cands = (
        c.join(F.broadcast(q), ["band", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "q_emb", "neighbor_id", "c_emb")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    from dungbeetle_spark.functions.vectors import pair_cosine_udf

    cos = pair_cosine_udf(_DIM)(F.col("q_emb"), F.col("c_emb"))
    scored = cands.select("query_id", "neighbor_id", cos.alias("cs")).filter(
        F.col("cs") >= _HN_NEG_LO
    )
    label = F.when(F.col("cs") >= _HN_POS_T, F.lit("positive")).otherwise(
        F.lit("hard_negative")
    )
    w = W.partitionBy("query_id", "label").orderBy(
        F.desc("cs"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("label", label)
        .withColumn("rank", F.row_number().over(w))
        .filter((F.col("label") == "positive") | (F.col("rank") <= _HN_K))
        .select(
            "query_id",
            "label",
            "neighbor_id",
            "rank",
            F.round("cs", 6).alias("cos_sim"),
        )
    )


# ---------------------------------------------------------------------------
# embedding outlier pruning — leave-one-out centroid cosine filter
# ---------------------------------------------------------------------------

_OUT_Q = 1_000_000  # quantization scale: float -> round(x * 1e6) BIGINT
_OUT_P = 0.1  # per-group prune fraction (percentile_disc fence)


@query(
    "embedding_outlier_prune",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {_OUT_Q}) AS BIGINT)) AS qx
      FROM embeddings),
    long AS (
      SELECT vec_id, label, qx[d] AS qd, d
      FROM q, UNNEST(generate_series(1, len(qx))) AS t(d)),
    sums AS (
      SELECT label, d, CAST(SUM(qd) AS BIGINT) AS sd
      FROM long GROUP BY label, d),
    counts AS (SELECT label, COUNT(*) AS n FROM q GROUP BY label),
    cc AS (SELECT label, CAST(SUM(sd * sd) AS BIGINT) AS c2
           FROM sums GROUP BY label),
    dots AS (
      SELECT l.vec_id, l.label,
             CAST(SUM(l.qd * l.qd) AS BIGINT) AS a2,
             CAST(SUM(l.qd * s.sd) AS BIGINT) AS b
      FROM long l JOIN sums s ON s.label = l.label AND s.d = l.d
      GROUP BY l.vec_id, l.label),
    scored AS (
      SELECT dots.vec_id, dots.label, n,
             round((b - a2) / (sqrt(CAST(a2 AS DOUBLE)) *
                    sqrt(CAST(c2 - 2*b + a2 AS DOUBLE))), 6) AS loo_cos
      FROM dots JOIN cc USING (label) JOIN counts USING (label)),
    thr AS (
      SELECT label,
             CAST(percentile_disc({_OUT_P}) WITHIN GROUP (ORDER BY loo_cos)
                  AS DOUBLE) AS p10_cos
      FROM scored GROUP BY label)
    SELECT s.label, CAST(MAX(n) AS BIGINT) AS n_members,
           MIN(loo_cos) AS worst_cos,
           round(CAST(SUM(CAST(round(loo_cos * 1000000) AS BIGINT)) AS DOUBLE)
                 / (MAX(n) * 1000000.0), 6) AS mean_cos,
           MAX(p10_cos) AS p10_cos,
           CAST(SUM(CASE WHEN loo_cos < p10_cos THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pruned
    FROM scored s JOIN thr USING (label)
    GROUP BY s.label
    """,
    doc="Embedding outlier pruning (the CLIP-score / centroid-distance "
    "filter of LAION- and DataComp-style curation): each vector is "
    "scored by cosine to its group's LEAVE-ONE-OUT mean centroid, and "
    f"the bottom percentile_disc({_OUT_P}) fence per group marks the "
    "prune set. Hash-exact cross-engine WITHOUT any float-sum order "
    "dependence: cosine-to-mean equals cosine-to-SUM (the 1/n "
    "cancels), vectors quantize to round(x*1e6) BIGINTs, the group "
    "sum vector S is an order-free integer aggregate, and the "
    "leave-one-out target is simply S - x (still exact integers) — "
    "so loo_cos = (x·S - x·x) / (|x| · |S - x|) is a deterministic "
    "double expression over exact integer dots in both engines.",
)
def embedding_outlier_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: two passes over the corpus, zero fact-scale joins.
    Pass 1 posexplodes to (label, dim) grain and map-side-combines
    into the |labels|×dim integer sum table (the shuffle moves only
    the combined partials). Pass 2 re-scans embeddings and broadcast-
    joins the reassembled sum VECTORS (|labels| rows), computing both
    integer dots JVM-side with zip_with/aggregate folds — no Python,
    no window, no per-row shuffle. The only fact-keyed shuffles left
    are the two |labels|-keyed exact-percentile/rollup aggregates
    (mergeable map-side; label cardinality is bounded). Integer-range
    note: x·S grows with group size n; at n ≳ 1.4e9 per group drop
    _OUT_Q to 1e4 or promote the S-dot to DECIMAL(38,0) — the algebra
    is unchanged."""
    e = fan_out(_t(spark, sf_dir, "embeddings")["embeddings"])
    q = e.select(
        "vec_id",
        "label",
        F.expr(
            f"transform(embedding, x -> "
            f"CAST(round(CAST(x AS DOUBLE) * {_OUT_Q}) AS BIGINT))"
        ).alias("qx"),
    )
    # One exploded pass yields BOTH the per-(label,dim) integer sums
    # and the member count (every member contributes exactly one row
    # per dim, so count(*) at any dim IS n) — no separate counts scan.
    long = q.select("label", F.posexplode("qx").alias("d", "qd"))
    sums = long.groupBy("label", "d").agg(
        F.sum("qd").alias("sd"), F.count(F.lit(1)).alias("cnt")
    )
    side = sums.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "sd"))),
            lambda s: s["sd"],
        ).alias("sv"),
        F.sum(F.col("sd") * F.col("sd")).alias("c2"),
        F.max("cnt").alias("n"),
    )  # |labels| rows
    zero = F.lit(0).cast("long")
    a2 = F.aggregate("qx", zero, lambda acc, x: acc + x * x)
    b = F.aggregate(
        F.zip_with("qx", "sv", lambda x, s: x * s), zero, lambda acc, x: acc + x
    )
    scored = (
        q.join(F.broadcast(side), "label")
        .select(
            "vec_id",
            "label",
            "n",
            a2.alias("a2"),
            b.alias("b"),
            "c2",
        )
        .select(
            "vec_id",
            "label",
            "n",
            F.round(
                (F.col("b") - F.col("a2"))
                / (
                    F.sqrt(F.col("a2").cast("double"))
                    * F.sqrt((F.col("c2") - 2 * F.col("b") + F.col("a2")).cast("double"))
                ),
                6,
            ).alias("loo_cos"),
        )
        # Narrow (4 cols) and consumed twice (percentile fence + final
        # rollup): lazily checkpoint so the scan→explode→sum→score
        # pipeline runs ONCE, not once per consumer.
        .transform(maybe_local_checkpoint, eager=False)
    )
    scored.createOrReplaceTempView("_emb_outlier_scored")
    thr = spark.sql(
        f"""
        SELECT label,
               CAST(percentile_disc({_OUT_P}) WITHIN GROUP (ORDER BY loo_cos)
                    AS DOUBLE) AS p10_cos
        FROM _emb_outlier_scored GROUP BY label
        """
    )
    return (
        scored.join(F.broadcast(thr), "label")
        .groupBy("label")
        .agg(
            F.max("n").cast("long").alias("n_members"),
            F.min("loo_cos").alias("worst_cos"),
            F.round(
                F.sum(F.round(F.col("loo_cos") * 1000000).cast("long"))
                .cast("double")
                / (F.max("n") * 1000000.0),
                6,
            ).alias("mean_cos"),
            F.max("p10_cos").alias("p10_cos"),
            F.sum(
                F.when(F.col("loo_cos") < F.col("p10_cos"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_pruned"),
        )
    )
