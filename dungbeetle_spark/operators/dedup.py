"""Deduplication operators over ``documents`` / ``embeddings``.

Five strategies, each the standard shape for LLM-corpus dedup at scale:

- **exact**: md5 content hash → groupBy hash. One shuffle on the hash;
  at 100 TB, hash-partitioned, no skew (hashes are uniform).
- **n-gram Jaccard**: shingle → inverted index (explode) → candidate
  pairs by shared shingle → exact Jaccard. The explode/self-join is the
  classic MapReduce similarity-join; the shared-shingle equi-join keys
  the shuffle so only co-shingled docs ever meet.
- **MinHash + LSH**: declarative minhash (min of seeded md5_hash60 per
  shingle, one grouped aggregate) + banded candidate join —
  probabilistic candidate generation whose cost scales with |bands|,
  not |docs|²; the scale path when exact Jaccard's candidate set blows
  up.
- **SimHash**: 60-bit weighted-majority fingerprint via md5_hash60;
  near-dups differ in ≤ k bits (hamming via bit_count(xor)).
- **embedding cosine**: semantic near-dup on the embedding column.

ALL variants carry DuckDB oracles since r05: md5 and integer
arithmetic are cross-engine exact, so MinHash/SimHash fingerprints use
the md5-prefix hash (functions.texts.md5_hash60) that the oracle can
recompute — the minhash estimate is a pure function of the hash, and
simhash's 100%-recall pigeonhole banding makes its output equal the
exact O(n²) hamming join the oracle runs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from dungbeetle_spark.functions.arrays import hof_let
from dungbeetle_spark.functions.texts import (
    content_md5,
    content_md5_sql,
    md5_hash60,
    md5_hash60_sql,
    norm_text,
)
from dungbeetle_spark.planmode import maybe_local_checkpoint
from dungbeetle_spark.queries import _t, query
from dungbeetle_spark.sources.catalog import fan_out

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

@query(
    "dedup_exact",
    oracle=f"""
    SELECT {content_md5_sql()} AS content_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
    doc="Exact dedup: group on normalized-content md5, keep the lowest "
    "doc_id per group. Single hash shuffle on a uniform key — the "
    "100 TB-safe shape (no skew, map-side partial agg).",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    return (
        d.select(content_md5("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (exact similarity join via shingle index)
# ---------------------------------------------------------------------------

_SHINGLE_N = 3
_JACCARD_T = 0.10


def _shingled(d: DataFrame) -> DataFrame:
    """documents → (doc_id, shingles: array<string>) of distinct word n-grams.

    Normalization (lowercase, collapse whitespace — the cross-engine
    regex contract shared with the DuckDB oracle) runs JVM-side, once
    per row. The gram construction is an Arrow-batched Pandas UDF: a
    JVM higher-order ``transform`` lambda is evaluated interpreted and
    its alias gets re-inlined into every consumer (size(), explode(),
    inferred not-null filters — each re-running the whole pipeline),
    while a Python UDF result is a materialized column no optimizer
    rule can duplicate. Splitting an already-normalized string on a
    single space is byte-exact in any language. ``fan_out`` first:
    shingling is the compute-bound step and the source is a one-row-
    group file Spark can't split.
    """
    n = _SHINGLE_N
    base = fan_out(d.select("doc_id", "text")).select(
        "doc_id", norm_text(F.col("text")).alias("nt")
    )

    @F.pandas_udf("array<string>")
    def shingle_set(nt: pd.Series) -> pd.Series:
        out = []
        for t in nt:
            w = t.split(" ")
            if len(w) < n:
                out.append([])
            else:
                out.append(
                    list(dict.fromkeys(" ".join(w[i : i + n]) for i in range(len(w) - n + 1)))
                )
        return pd.Series(out)

    # asNondeterministic: the function IS deterministic, but the flag
    # stops Catalyst from inferring pushable predicates through it
    # (InferFiltersFromGenerate + pushdown otherwise clone a full UDF
    # evaluation into the pre-shuffle single-task stage to pre-filter
    # `size(shingles) > 0` — doubling the work and serializing it).
    shingle_set = shingle_set.asNondeterministic()
    return base.select("doc_id", shingle_set("nt").alias("shingles"))


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH words AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      FROM words, UNNEST(range(1, greatest(len(w) - {_SHINGLE_N} + 2, 1))) AS t(i)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= {_JACCARD_T}
    """,
    doc=f"Near-dup pairs by exact {_SHINGLE_N}-gram Jaccard ≥ {_JACCARD_T}: "
    "shingle → explode (inverted index) → equi-join on shingle → "
    "count ∩ / |A∪B|. The equi-join keys the shuffle on the shingle, "
    "so cost is Σ|posting list|², not |docs|² — the scalable exact "
    "similarity join. Jaccard is integer arithmetic + one double "
    "division: bit-exact cross-engine.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    # Carry each doc's (distinct) shingle count through the explode:
    # |A| and |B| then ride along the shingle join for free, so the
    # whole query is ONE equi-join + ONE aggregate — no separate sizes
    # subtrees (each would re-run the shingle pipeline at scan time).
    sh = _shingled(d).select(
        "doc_id", F.size("shingles").alias("n"), F.explode("shingles").alias("s")
    )
    # Join on the shingle's xxhash64, not the string: the shuffle then
    # moves fixed 8-byte keys instead of ~N-byte grams — at corpus
    # scale the similarity join is shuffle-IO-bound, so key width is
    # the bill. A hash collision would need two distinct grams in one
    # posting pair: P ≈ (distinct grams)²/2⁶⁵ — ~1e-10 even at 1e9
    # grams, far below the noise floor of near-dup detection (and the
    # DuckDB oracle, which joins exact strings, agrees at test scale).
    sh = sh.select("doc_id", "n", F.xxhash64("s").alias("s"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), "s")
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), "s")
    # shuffle_hash on purpose — a broadcast would replicate an exploded
    # corpus, which is wrong at any scale. Measured honesty about the
    # double pipeline (r06): Spark 4.1's exchange-reuse does NOT fire
    # for this self-join (0 ReusedExchange in the executed adaptive
    # plan, even with byte-identical side projections), so the shingle
    # pipeline runs once per side. Two alternatives were measured at
    # sf0.1 and both lose: localCheckpoint-ing the hashed shingle
    # frame (1.11 s vs 1.00 s — materialization beats the saved
    # recompute only when the per-row UDF cost dominates IO) and the
    # join-free posting-list pair-emit via collect_list + nested
    # higher-order transforms (1.44 s — interpreted lambdas off the
    # codegen path). At true corpus scale the right move is neither:
    # write the shingle table ONCE to persistent storage and
    # self-join that (one pipeline pass, resumable), which is the
    # standard corpus-dedup staging layout.
    common = (
        a.join(b.hint("shuffle_hash"), "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    jac = F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        common.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= _JACCARD_T)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (probabilistic near-dup; the 100 TB candidate-gen path)
# ---------------------------------------------------------------------------

_MH_TABLES = 8  # minhash functions; LSH bands of r=1 (OR-amplification)
_MH_DIST_T = 0.9  # max estimated Jaccard distance, as in ml.MinHashLSH usage
# Band-bucket density cap (VERDICT r09 item 3). A band bucket with B
# members emits B(B-1)/2 all-pairs rows; a real crawl's mega-cluster
# (empty pages, error templates) makes that quadratic per bucket. Over
# the cap a bucket degrades to STAR emission — (bucket-min doc_id,
# member) pairs only — which (a) bounds its output at B-1 rows, (b)
# keeps every member connected to the cluster through the leader, so
# the downstream union-find/canonical-keep still collapses the whole
# cluster (hard truncation would silently orphan members #cap+1..B in
# every band), and (c) stays a pure function of doc_id order, so the
# DuckDB oracle reproduces it exactly. Organic buckets at test scale
# max out far below the cap (sf0.01: 6, sf0.1: 19 — measured r10), so
# the estimator semantics (m = co-bucketed bands) are untouched except
# inside planted/mega clusters, where pair recall within the cluster
# is deliberately traded for boundedness and `truncated_buckets`
# surfaces the trade in the output.
_LSH_BUCKET_CAP = 32


def _band_rows(mh: DataFrame) -> DataFrame:
    """(doc_id, h0..h{k-1}) → long (doc_id, band, h) band rows."""
    return mh.select(
        "doc_id",
        F.posexplode(
            F.array(*[F.col(f"h{j}") for j in range(_MH_TABLES)])
        ).alias("band", "h"),
    )


def _capped_band_pairs(
    long: DataFrame, cap: int = _LSH_BUCKET_CAP
) -> tuple[DataFrame, DataFrame]:
    """Banded candidate pairs under the bucket-density cap.

    Returns ``(pairs, audit)``: ``pairs`` = (doc_a, doc_b, m) with
    doc_a < doc_b and m = number of bands that emitted the pair;
    ``audit`` = one row (truncated_buckets) counting capped buckets.

    The cap lives entirely in a PRE-join filter on the left side:
    within a bucket of size bn, the left side keeps all members when
    bn <= cap and only the bucket leader (min doc_id) otherwise, so an
    oversized bucket joins 1×B instead of B×B — the join NEVER
    materializes a quadratic bucket. Because the leader is the bucket
    minimum, the single post-join predicate doc_a < doc_b yields
    exactly all-pairs for small buckets and the leader star for capped
    ones. Per-bucket output is B(B-1)/2 <= cap*B/2 rows when B <= cap
    and B-1 rows over it — linear in corpus size at worst-case
    density. The bucket stats come from one
    window over (band, h), the same key the join shuffles on, so
    Catalyst reuses the exchange for the left side.
    """
    long = maybe_local_checkpoint(long, eager=False)  # feeds 3 consumers below
    wb = W.partitionBy("band", "h")
    sized = long.withColumn("bn", F.count(F.lit(1)).over(wb)).withColumn(
        "leader", F.min("doc_id").over(wb)
    )
    a = (
        sized.filter((F.col("bn") <= cap) | (F.col("doc_id") == F.col("leader")))
        .select(F.col("doc_id").alias("doc_a"), "band", "h")
    )
    b = long.select(F.col("doc_id").alias("doc_b"), "band", "h")
    pairs = (
        a.join(b, ["band", "h"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    audit = (
        long.groupBy("band", "h")
        .agg(F.count(F.lit(1)).alias("bn"))
        .agg(
            F.coalesce(F.sum((F.col("bn") > cap).cast("long")), F.lit(0))
            .cast("long")
            .alias("truncated_buckets")
        )
    )
    return pairs, audit


def _capped_pairs_sql(
    pairs_cte: str, cap: int = _LSH_BUCKET_CAP, trunc_cte: str | None = None
) -> str:
    """DuckDB mirror of ``_capped_band_pairs`` as CTE bodies
    (``sized`` + ``<pairs_cte>`` [+ ``<trunc_cte>``]), to splice after
    an ``mh(doc_id, j, h)`` CTE. Same leader-star degradation, same
    doc_id ordering. When ``trunc_cte`` is named, the truncation audit
    is emitted HERE from the same ``cap`` parameter the filter uses,
    so filter and audit can never disagree about the threshold for
    any caller (ADVICE r10: the lsh oracle previously hardcoded the
    default cap in its own trunc CTE)."""
    sql = f"""
    sized AS (
      SELECT doc_id, j, h,
             COUNT(*) OVER (PARTITION BY j, h) AS bn,
             MIN(doc_id) OVER (PARTITION BY j, h) AS leader
      FROM mh),
    {pairs_cte} AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS m
      FROM sized a
      JOIN mh b ON a.j = b.j AND a.h = b.h AND a.doc_id < b.doc_id
      WHERE a.bn <= {cap} OR a.doc_id = a.leader
      GROUP BY 1, 2)"""
    if trunc_cte is not None:
        sql += f""",
    {trunc_cte} AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS truncated_buckets
      FROM (SELECT DISTINCT j, h FROM sized
            WHERE bn > {cap}) t)"""
    return sql


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH words AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      FROM words, UNNEST(range(1, greatest(len(w) - {_SHINGLE_N} + 2, 1))) AS t(i)),
    mh AS (
      SELECT doc_id, j,
             MIN({md5_hash60_sql("concat(CAST(j AS VARCHAR), '|', s)")}) AS h
      FROM sh, UNNEST(range(0, {_MH_TABLES})) AS seeds(j)
      GROUP BY doc_id, j),
    {_capped_pairs_sql("matches", trunc_cte="trunc")}
    SELECT doc_a, doc_b,
           CAST(1 AS DOUBLE) - CAST(m AS DOUBLE) / {_MH_TABLES} AS jaccard_dist,
           truncated_buckets
    FROM matches CROSS JOIN trunc
    WHERE CAST(1 AS DOUBLE) - CAST(m AS DOUBLE) / {_MH_TABLES} <= {_MH_DIST_T}
    """,
    doc=f"MinHash-LSH near-dup candidates, fully declarative: per doc, "
    f"{_MH_TABLES} minhash values min(md5_hash60(seed_j || shingle)) in "
    "ONE grouped aggregate over the exploded shingles (map-side combine "
    "— the shuffle carries 8 longs per doc, not the shingle sets). "
    "Candidates = pairs agreeing on any band (equi-join on (band, "
    "hash)); estimated distance = 1 - matching_bands/8, kept while "
    f"≤ {_MH_DIST_T}. Since r10 band buckets larger than "
    f"{_LSH_BUCKET_CAP} degrade to leader-star emission (bounded, "
    "connectivity-preserving; BigCode/datatrove-style bucket pairs) "
    "and the constant truncated_buckets column audits how many "
    "buckets were capped — 0 on organic corpora at test scale. "
    "Linear in corpus size even at mega-cluster density. The estimate "
    "is a pure function of the (deterministic, cross-engine) hash, so "
    "since r05 the oracle recomputes the full minhash pipeline in "
    "DuckDB — hash-green, not rows-only (VERDICT r04 item 3).",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one corpus pass for the minhash aggregate, one
    (band, h)-keyed exchange shared by the bucket-stats window and the
    candidate join's left side, and the density cap guarantees the
    join output is linear in band rows even when a crawl plants a
    million-doc empty-page cluster in one bucket (see
    ``_capped_band_pairs``). The 1-row audit frame broadcasts."""
    d = _t(spark, sf_dir, "documents")["documents"]
    sh = _shingled(d).select("doc_id", F.explode("shingles").alias("s"))
    # k seeded minhashes in one pass: min(md5_hash60("j|" + s)) per doc
    # (seed as a literal prefix; md5_hash60 so the DuckDB oracle can
    # recompute the identical value — see functions.texts).
    mh = sh.groupBy("doc_id").agg(
        *[
            F.min(md5_hash60(F.concat(F.lit(f"{j}|"), F.col("s")))).alias(f"h{j}")
            for j in range(_MH_TABLES)
        ]
    )
    matches, audit = _capped_band_pairs(_band_rows(mh))
    dist = F.lit(1.0) - F.col("m").cast("double") / F.lit(float(_MH_TABLES))
    return (
        matches.select("doc_a", "doc_b", dist.alias("jaccard_dist"))
        .filter(F.col("jaccard_dist") <= _MH_DIST_T)
        .crossJoin(F.broadcast(audit))
    )


@query(
    "minhash_calibration",
    oracle=f"""
    WITH words AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      FROM words, UNNEST(range(1, greatest(len(w) - {_SHINGLE_N} + 2, 1))) AS t(i)),
    mh AS (
      SELECT doc_id, j,
             MIN({md5_hash60_sql("concat(CAST(j AS VARCHAR), '|', s)")}) AS h
      FROM sh, UNNEST(range(0, {_MH_TABLES})) AS seeds(j)
      GROUP BY doc_id, j),
    {_capped_pairs_sql("cand")},
    sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    shh AS (
      SELECT doc_id, {md5_hash60_sql("s")} AS hs FROM sh),
    inter AS (
      SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS c
      FROM cand c
      JOIN shh a ON a.doc_id = c.doc_a
      JOIN shh b ON b.doc_id = c.doc_b AND b.hs = a.hs
      GROUP BY c.doc_a, c.doc_b)
    SELECT c.doc_a, c.doc_b,
           c.m AS matched_bands,
           CAST(c.m AS DOUBLE) / {_MH_TABLES} AS est_jaccard,
           CAST(COALESCE(i.c, 0) AS DOUBLE)
             / (sa.n + sb.n - COALESCE(i.c, 0)) AS exact_jaccard,
           ABS(CAST(c.m AS DOUBLE) / {_MH_TABLES}
               - CAST(COALESCE(i.c, 0) AS DOUBLE)
                 / (sa.n + sb.n - COALESCE(i.c, 0))) AS abs_err
    FROM cand c
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    """,
    doc=f"MinHash calibration: for every LSH candidate pair (any of "
    f"the {_MH_TABLES} bands agreeing; since r10 through the shared "
    f"density-capped candidate gen — buckets > {_LSH_BUCKET_CAP} emit "
    "leader-star pairs only, and matched_bands counts EMITTING bands, "
    "a lower bound inside capped buckets — no-op on organic corpora "
    "at test scale), the estimated Jaccard "
    "(matched_bands/8) next to the EXACT shingle Jaccard computed on "
    "the candidate set only — the per-pair precision audit of the "
    "100 TB candidate-gen path against its exact diagnostic, without "
    "the all-pairs join (exact intersections run per candidate, "
    "bounded by |candidates|, not |docs|²; intersections match on the "
    "60-bit md5 of the shingle — both engines hash identically). "
    "Every column is a "
    "deterministic function of the md5-derived minhashes and the "
    "shingle sets, so the DuckDB oracle reproduces the whole frame "
    "bit-for-bit — the same checked-sketch discipline as "
    "sketch_user_stats, with no probabilistic bound needed. Tuning "
    "loop: if abs_err mass sits above the acceptable band, raise "
    "band count / rows-per-band before the production dedup run.",
)
def minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the minhash aggregate is the linear pass
    (shuffle carries 8 longs per doc); candidates come from the
    banded equi-join exactly as dedup_minhash_lsh plans it; the
    exact-intersection join touches only candidate docs' postings
    (semi-join pushdown via the candidate join keys), so its cost is
    Σ over candidate pairs of |shingles| — candidate-bounded, never
    corpus-quadratic. That join is keyed by the 60-bit md5 of the
    shingle, not the string: the biggest shuffle in the query then
    carries longs (measured ~1.4x faster end to end at sf0.1; the
    oracle hashes identically, so results agree bit-for-bit even in
    the no-collision-in-practice case). The shingle frame feeds four
    consumers (mh, sizes, both intersection sides) and is lazily
    checkpointed; the candidate frame feeds three (intersection probe
    + sizes join + output) and checkpoints too — each evaluates once
    inside the action."""
    d = _t(spark, sf_dir, "documents")["documents"]
    sh = (
        _shingled(d)
        .select("doc_id", F.explode("shingles").alias("s"))
        .withColumn("hs", md5_hash60(F.col("s")))
        .transform(maybe_local_checkpoint, eager=False)
    )
    mh = sh.groupBy("doc_id").agg(
        *[
            F.min(md5_hash60(F.concat(F.lit(f"{j}|"), F.col("s")))).alias(f"h{j}")
            for j in range(_MH_TABLES)
        ]
    )
    # Shared capped candidate generation (leader-star over the density
    # cap — identical to dedup_minhash_lsh, mirrored in the oracle's
    # sized/cand CTEs); the audit frame is dropped here, the pair set
    # itself is what this query calibrates.
    cand, _ = _capped_band_pairs(_band_rows(mh))
    cand = maybe_local_checkpoint(cand, eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    pa = sh.select(F.col("doc_id").alias("doc_a"), "hs")
    pb = sh.select(F.col("doc_id").alias("doc_b"), "hs")
    inter = (
        cand.select("doc_a", "doc_b")
        .join(pa, "doc_a")
        .join(pb, ["doc_b", "hs"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    est = F.col("m").cast("double") / F.lit(float(_MH_TABLES))
    exact = F.coalesce(F.col("c"), F.lit(0)).cast("double") / (
        F.col("na") + F.col("nb") - F.coalesce(F.col("c"), F.lit(0))
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(inter, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            F.col("m").alias("matched_bands"),
            est.alias("est_jaccard"),
            exact.alias("exact_jaccard"),
            F.abs(est - exact).alias("abs_err"),
        )
    )


# ---------------------------------------------------------------------------
# incremental MinHash-LSH (ingest batch vs corpus band index)
# ---------------------------------------------------------------------------

# Incremental-ingest split, shared with dedup_incremental below:
# doc_id % 11 == 0 plays the "incoming batch" (~9% of the corpus); the
# rest is the already-ingested corpus.
_INC_MOD = 11
_MHI_TPL_MOD = 9  # docs with doc_id % 9 == 0 join a near-dup template family
_MHI_MIN_BANDS = 4  # near-dup decision: >= 4 of 8 bands agree (est J >= 0.5)
# >= 2 * _SHINGLE_N words of stable text shared verbatim across the
# family, so same-family shingle sets overlap almost completely and the
# banded estimator fires deterministically (the corpus is synthetic —
# natural near-dups at high Jaccard are rare at test scale).
_MHI_TEMPLATE = (
    "shared ingest template body with a long run of stable words that "
    "recur verbatim across the whole near duplicate family so the "
    "shingle sets overlap almost completely"
)


@query(
    "dedup_minhash_incremental",
    oracle=f"""
    WITH seeded AS (
      SELECT doc_id,
             CASE WHEN doc_id % {_MHI_TPL_MOD} = 0
                  THEN '{_MHI_TEMPLATE}'
                       || ' variant ' || CAST(doc_id % 4 AS VARCHAR)
                       || ' tail ' || CAST(doc_id AS VARCHAR)
                  ELSE text END AS text
      FROM documents),
    words AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
      FROM seeded),
    sh AS (
      SELECT DISTINCT doc_id,
             w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      FROM words, UNNEST(range(1, greatest(len(w) - {_SHINGLE_N} + 2, 1))) AS t(i)),
    mh AS (
      SELECT doc_id, j,
             MIN({md5_hash60_sql("concat(CAST(j AS VARCHAR), '|', s)")}) AS h
      FROM sh, UNNEST(range(0, {_MH_TABLES})) AS seeds(j)
      GROUP BY doc_id, j),
    corpusb AS (
      SELECT doc_id, j, h,
             COUNT(*) OVER (PARTITION BY j, h) AS bn,
             MIN(doc_id) OVER (PARTITION BY j, h) AS leader
      FROM mh WHERE doc_id % {_INC_MOD} <> 0),
    m AS (
      SELECT b.doc_id AS doc_id, c.doc_id AS cdoc,
             CAST(COUNT(*) AS BIGINT) AS m
      FROM mh b JOIN corpusb c ON b.j = c.j AND b.h = c.h
      WHERE b.doc_id % {_INC_MOD} = 0
        AND (c.bn <= {_LSH_BUCKET_CAP} OR c.doc_id = c.leader)
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_MHI_MIN_BANDS}),
    best AS (
      SELECT doc_id, cdoc, m,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY m DESC, cdoc) AS rk
      FROM m),
    trunc AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS capped_buckets
      FROM (SELECT DISTINCT j, h FROM corpusb
            WHERE bn > {_LSH_BUCKET_CAP}) t)
    SELECT d.doc_id,
           b.cdoc AS dup_of,
           COALESCE(b.m, 0) AS matched_bands,
           CAST(COALESCE(b.m, 0) AS DOUBLE) / {_MH_TABLES} AS est_jaccard,
           b.cdoc IS NOT NULL AS is_near_dup,
           capped_buckets
    FROM documents d
    LEFT JOIN best b ON b.doc_id = d.doc_id AND b.rk = 1
    CROSS JOIN trunc
    WHERE d.doc_id % {_INC_MOD} = 0
    """,
    doc="Incremental MinHash-LSH — the ingest-time shape of NEAR-dup "
    "detection (dedup_incremental is its exact-hash twin): an incoming "
    f"batch (doc_id % {_INC_MOD} == 0) probes the corpus band index "
    "instead of self-joining the corpus. Batch band rows broadcast; "
    "the corpus index probes them map-side, so no corpus-scale pair "
    f"shuffle exists. Since r11 corpus band buckets larger than "
    f"{_LSH_BUCKET_CAP} degrade to LEADER-ONLY probes (the bucket "
    "minimum — the canonical a dedup pass would keep), so per-doc "
    "verification work is bounded by the cap even when a crawl's "
    "empty-page template family plants a million-doc bucket; the "
    "constant capped_buckets column audits how many buckets were "
    "compressed. A batch doc is a near-dup when >= "
    f"{_MHI_MIN_BANDS}/{_MH_TABLES} bands agree with some surviving "
    "corpus doc (est Jaccard >= 0.5); ties resolve to the lowest "
    "corpus doc_id. "
    f"The fixture plants a template family (doc_id % {_MHI_TPL_MOD} "
    "== 0, shared 27-word body + per-doc tail) spanning both sides so "
    "matches are guaranteed and deterministic — dense enough that the "
    "cap FIRES at driver scale (corpus family buckets reach 50 at "
    "sf0.01), so the leader-probe path is driver-verified, not just "
    "test-planted; every output value is "
    "a pure function of md5-derived minhashes, so the DuckDB oracle "
    "reproduces the frame bit-for-bit.",
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the one corpus-scale exchange is the minhash
    aggregate (map-side combine; the shuffle carries 8 longs per doc,
    never shingle sets). The candidate join BROADCASTS the batch's
    band rows (8 per batch doc — an ingest batch is MBs against a TB
    corpus), so the corpus side probes map-side with zero pair-keyed
    shuffle; the match frame, the best-match window, and the final
    left join are all batch-bounded. Since r11 the corpus side is
    density-capped BEFORE the probe join (VERDICT r10 item 1): one
    (band, h) window sizes each bucket and buckets over
    ``_LSH_BUCKET_CAP`` keep only their leader (min doc_id — the
    canonical dedup_canonical_keep would elect), so a batch doc
    verifies against at most cap members per bucket instead of every
    member of a crawl's empty-page mega-bucket — per-doc ingest work
    is O(bands x cap), independent of cluster density (was the
    top-segment-1.10 hotspot in SCALING.md r10). At production scale
    the corpus band index is precomputed once, stored DISTRIBUTE BY
    (band, h) with the cap applied AT BUILD TIME (the stored index
    simply omits non-leader rows of oversized buckets, shrinking it),
    and ingest is a pure broadcast probe of the stored index; the
    band frame is lazily checkpointed here because both sides derive
    from one in-query pipeline. The 1-row audit frame broadcasts
    (registry-wide scalar-NLJ pin class)."""
    d = _t(spark, sf_dir, "documents")["documents"]
    seeded = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % _MHI_TPL_MOD == 0,
            F.concat(
                F.lit(_MHI_TEMPLATE + " variant "),
                (F.col("doc_id") % 4).cast("string"),
                F.lit(" tail "),
                F.col("doc_id").cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    sh = _shingled(seeded).select("doc_id", F.explode("shingles").alias("s"))
    mh = sh.groupBy("doc_id").agg(
        *[
            F.min(md5_hash60(F.concat(F.lit(f"{j}|"), F.col("s")))).alias(f"h{j}")
            for j in range(_MH_TABLES)
        ]
    )
    bands = mh.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"h{j}") for j in range(_MH_TABLES)])).alias(
            "band", "h"
        ),
    ).transform(maybe_local_checkpoint, eager=False)
    batch = bands.filter(F.col("doc_id") % _INC_MOD == 0).select(
        F.col("doc_id").alias("qdoc"), "band", "h"
    )
    # density cap on the CORPUS side, applied before the probe join
    # (same leader-star discipline as _capped_band_pairs): buckets
    # over the cap keep only their leader, so the join emits at most
    # cap rows per (batch doc, band) at any cluster density.
    wb = W.partitionBy("band", "h")
    sized = (
        bands.filter(F.col("doc_id") % _INC_MOD != 0)
        .withColumn("bn", F.count(F.lit(1)).over(wb))
        .withColumn("leader", F.min("doc_id").over(wb))
        # probe filter + audit consumers
        .transform(maybe_local_checkpoint, eager=False)
    )
    corpus = sized.filter(
        (F.col("bn") <= _LSH_BUCKET_CAP)
        | (F.col("doc_id") == F.col("leader"))
    ).select(F.col("doc_id").alias("cdoc"), "band", "h")
    audit = (
        sized.filter(F.col("doc_id") == F.col("leader"))
        .agg(
            F.coalesce(
                F.sum((F.col("bn") > _LSH_BUCKET_CAP).cast("long")), F.lit(0)
            )
            .cast("long")
            .alias("capped_buckets")
        )
    )
    matches = (
        corpus.join(F.broadcast(batch), ["band", "h"])
        .groupBy("qdoc", "cdoc")
        .agg(F.count(F.lit(1)).alias("m"))
        .filter(F.col("m") >= _MHI_MIN_BANDS)
    )
    w = W.partitionBy("qdoc").orderBy(F.desc("m"), F.asc("cdoc"))
    best = (
        matches.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(F.col("qdoc").alias("doc_id"), F.col("cdoc"), F.col("m"))
    )
    # batch ids come from a doc_id-only parquet scan — column-pruned,
    # no re-run of the shingle pipeline for the spine.
    ids = d.filter(F.col("doc_id") % _INC_MOD == 0).select("doc_id")
    return (
        ids.join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.col("cdoc").alias("dup_of"),
            F.coalesce(F.col("m"), F.lit(0)).cast("long").alias("matched_bands"),
            (
                F.coalesce(F.col("m"), F.lit(0)).cast("double")
                / F.lit(float(_MH_TABLES))
            ).alias("est_jaccard"),
            F.col("cdoc").isNotNull().alias("is_near_dup"),
        )
        .crossJoin(F.broadcast(audit))
    )


# ---------------------------------------------------------------------------
# SimHash (64-bit fingerprint, hamming-ball near-dup)
# ---------------------------------------------------------------------------

_SIMHASH_MAX_HAMMING = 3
_SIMHASH_BITS = 60  # md5_hash60-derived; top 4 bits of the i64 stay 0


def simhash_fingerprints(d: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, simhash: long) 60-bit fingerprints.

    md5_hash60(word) per distinct word, bitwise weighted majority
    folded JVM-side (one grouped aggregate; the shuffle carries 60
    small ints per doc, not the word sets). 60-bit, not 64: the hash
    is the md5-prefix variant a DuckDB oracle can recompute
    (functions.texts.md5_hash60) — banding in :func:`simhash_pairs`
    still treats the value as 64-bit (the constant-zero top nibble
    changes nothing about pigeonhole recall).
    """
    words = d.select(
        "doc_id", F.explode(F.array_distinct(F.split(norm_text(F.col("text")), " "))).alias("w")
    )
    h = words.select("doc_id", md5_hash60("w").alias("h"))
    # bit i contribution: +1 if set else -1; majority per bit
    bit_votes = [
        F.sum(
            (F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"b{i}")
        for i in range(_SIMHASH_BITS)
    ]
    votes = h.groupBy("doc_id").agg(*bit_votes)
    fp = F.lit(0).cast("long")
    for i in range(_SIMHASH_BITS):
        fp = fp + F.when(
            F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return votes.select("doc_id", fp.alias("simhash"))


def simhash_pairs(fps: DataFrame, max_hamming: int = _SIMHASH_MAX_HAMMING) -> DataFrame:
    """Near-dup pairs (hamming ≤ max_hamming) from fingerprints.

    Pigeonhole banding: split the 64-bit fingerprint into
    ``max_hamming + 1`` equal blocks — a pair differing in ≤ k bits
    must agree EXACTLY on at least one of the k+1 blocks, so the
    banded equi-join on (band, block_value) has guaranteed 100% recall
    while staying linear in Σ|bucket|², never |docs|². The exact
    bit_count(xor) filter after the join removes false candidates, and
    a pair agreeing on several blocks is emitted once (distinct).
    """
    n_bands = max_hamming + 1
    width = 64 // n_bands
    mask = (1 << width) - 1
    banded = fps.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), k * width).bitwiseAND(
                        F.lit(mask)
                    )
                    for k in range(n_bands)
                ]
            )
        ).alias("band", "bkey"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


@query(
    "dedup_simhash",
    oracle=f"""
    WITH words AS (
      SELECT DISTINCT doc_id,
             unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
      FROM documents),
    hashed AS (
      SELECT doc_id, {md5_hash60_sql("w")} AS h FROM words),
    bits AS (
      SELECT doc_id, i,
             SUM(CASE WHEN ((h >> i) & 1) = 1 THEN 1 ELSE -1 END) AS vote
      FROM hashed, UNNEST(range(0, {_SIMHASH_BITS})) AS t(i)
      GROUP BY doc_id, i),
    fp AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << i)
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_MAX_HAMMING}
    """,
    doc="SimHash fingerprints: md5_hash60(word) per distinct word, "
    "bitwise weighted majority folded JVM-side, near-dup = hamming "
    f"distance ≤ {_SIMHASH_MAX_HAMMING} via bit_count(xor). The pair "
    f"scan pigeonhole-bands the fingerprint into {_SIMHASH_MAX_HAMMING + 1} "
    "16-bit blocks (agree on ANY block → candidate), which guarantees "
    "100% recall at the hamming budget while keeping the self-join "
    "banded, not quadratic. BECAUSE recall is 100%, the banded output "
    "equals the exact O(n²) hamming join — which is what the DuckDB "
    "oracle computes (full simhash recomputation; hash-green since "
    "r05, VERDICT r04 item 3).",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    fps = simhash_fingerprints(fan_out(d.select("doc_id", "text")))
    return simhash_pairs(fps)


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------

# 0.40 sits in the fixture's actual near-dup regime (isotropic
# gaussian embeddings: max pairwise cosine ≈ 0.48-0.51, ~60 pairs
# clear 0.40 at sf0.01) so the filter, tiebreak, and oracle are
# exercised on real rows — a production corpus with planted
# duplicates would run the same operator at ~0.9.
_COS_T = 0.40
_DIM = 64  # embeddings fixture dimension (TESTDATA.md)

# Ceiling for the exact blocked sweep: the corpus matrix rides to every
# task in the closure (n_rows × dim × 8 bytes ≈ 0.5 GB at 1M×64), so
# past this the operator MUST NOT collect — it fails over to LSH
# candidate generation with exact re-rank inside buckets.
EXACT_SWEEP_MAX_ROWS = 1_000_000


def _embedding_pairs_exact(e: DataFrame) -> DataFrame:
    """All-pairs exact cosine ≥ threshold, as a blocked matrix sweep.

    Materializing n² pair rows (join + per-pair expression) moves
    O(n²·dim) data; the blocked form moves O(n·dim): the corpus matrix
    rides to every task once (closure broadcast — same memory contract
    as a broadcast join), each partition computes its row-block against
    the whole corpus with dimension-sequential numpy accumulation, and
    only the (rare) passing pairs come back. The per-pair arithmetic —
    `acc += a_i*b_i` per dimension, then dot/(√na·√nb) — is the same
    IEEE double sequence as a sequential C loop, so results are
    bit-identical to DuckDB's DOUBLE[] cosine.
    """
    import numpy as np

    # build-time corpus matrix; Arrow toPandas, not row-based collect()
    corpus = e.select("vec_id", "embedding").toPandas()
    ids = corpus["vec_id"].to_numpy(dtype=np.int64)
    bm = np.array(corpus["embedding"].tolist(), dtype=np.float64)  # f32→64 exact
    nb = np.zeros(len(bm))
    for i in range(_DIM):  # sequential fold, matching the engines
        nb = nb + bm[:, i] * bm[:, i]
    nb_sqrt = np.sqrt(nb)

    def block(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            am = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            va = pdf["vec_id"].to_numpy()
            dots = np.zeros((len(am), len(bm)))
            na = np.zeros(len(am))
            for i in range(_DIM):
                dots = dots + np.outer(am[:, i], bm[:, i])
                na = na + am[:, i] * am[:, i]
            cos = dots / (np.sqrt(na)[:, None] * nb_sqrt[None, :])
            keep = (va[:, None] < ids[None, :]) & (cos >= _COS_T)
            ai, bi = np.nonzero(keep)
            yield pd.DataFrame(
                {"vec_a": va[ai], "vec_b": ids[bi], "cos_raw": cos[ai, bi]}
            )

    return fan_out(e.select("vec_id", "embedding")).mapInPandas(
        block, "vec_a long, vec_b long, cos_raw double"
    )


def _embedding_pairs_lsh(
    e: DataFrame, cap: int = _LSH_BUCKET_CAP
) -> tuple[DataFrame, DataFrame]:
    """Near-dup candidates via random-hyperplane LSH, exact re-rank.

    The 100 TB path: nothing ever collects. Signatures are one narrow
    Arrow pass (similarity._signatures); candidates are a self equi-
    join keyed on (band, bucket) — the shuffle moves (vec_id, band,
    bucket, embedding) rows; the exact JVM-side cosine filter then
    removes false candidates. Recall < 1 by construction (pairs
    agreeing on no band are missed) — the documented trade for
    unbounded corpora.

    Density cap (VERDICT r13 item 5, mirroring ``_capped_band_pairs``):
    a bucket over ``cap`` members degrades to leader-STAR emission —
    the pre-join filter keeps only the bucket minimum on the left
    side, so an oversized bucket joins 1×B instead of B×B and the join
    never materializes a quadratic bucket. A 100 TB corpus with
    near-constant embeddings (failed encoder, zero vectors) is exactly
    the text-minhash mega-bucket in vector form: every such row lands
    in ONE (band, bucket) per band, and the uncapped self-join was
    Σ|bucket|² on it. Every member stays connected to the cluster
    through the leader, so downstream canonical-collapse semantics
    survive; within-cluster pair recall is the documented trade.
    Returns ``(pairs, audit)`` — audit is one row
    (``truncated_buckets``) counting capped buckets.
    """
    from dungbeetle_spark.functions.vectors import pair_cosine_udf
    from dungbeetle_spark.operators.similarity import _signatures

    signed = _signatures(e.select("vec_id", "embedding"), _DIM)
    buckets = signed.select(
        "vec_id", "embedding", F.posexplode("sigs").alias("band", "bucket")
    ).transform(maybe_local_checkpoint, eager=False)  # feeds left/right sides + audit
    wb = W.partitionBy("band", "bucket")
    sized = buckets.withColumn("bn", F.count(F.lit(1)).over(wb)).withColumn(
        "leader", F.min("vec_id").over(wb)
    )
    a = sized.filter(
        (F.col("bn") <= cap) | (F.col("vec_id") == F.col("leader"))
    ).select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("a_emb"),
        "band", "bucket",
    )
    b = buckets.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("b_emb"),
        "band", "bucket",
    )
    # vectorized exact filter (bit-exact fold; unrolled expression
    # trees this size leave codegen — see functions.vectors)
    cos = pair_cosine_udf(_DIM)(F.col("a_emb"), F.col("b_emb"))
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .dropDuplicates(["vec_a", "vec_b"])
        .select("vec_a", "vec_b", cos.alias("cos_raw"))
        .filter(F.col("cos_raw") >= _COS_T)
    )
    audit = (
        buckets.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("bn"))
        .agg(
            F.coalesce(F.sum((F.col("bn") > cap).cast("long")), F.lit(0))
            .cast("long")
            .alias("truncated_buckets")
        )
    )
    return pairs, audit


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= {_COS_T}
    """,
    doc=f"Semantic near-dup: embedding pairs with cosine ≥ {_COS_T}. "
    "Local-mode oracle does the full O(n²) join; the engine's scale "
    "path is the same expression after LSH bucketing (see "
    "similarity.ann_lsh_bucketed) — identical filter, banded "
    "candidate set.",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup pairs, with a corpus-size routing guard.

    ≤ EXACT_SWEEP_MAX_ROWS → exact blocked sweep (collects the corpus
    matrix once — bounded by the guard, bit-identical to the DuckDB
    oracle). Above it, collecting is an OOM, so the operator routes to
    the LSH-bucketed candidate join with exact cosine re-rank — same
    filter expression, fully distributed, recall < 1 by design.
    """
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    if _corpus_rows(spark, sf_dir) <= EXACT_SWEEP_MAX_ROWS:
        out = _embedding_pairs_exact(e)
    else:  # pragma: no cover - exercised via the forced-path unit test
        out, _audit = _embedding_pairs_lsh(e)
    return out.select("vec_a", "vec_b", F.round("cos_raw", 6).alias("cos_sim"))


def _corpus_rows(spark: SparkSession, sf_dir: str) -> int:
    """Embeddings row count for the exact-sweep routing guard (cheap
    footer read — see sources.catalog.parquet_row_count)."""
    from dungbeetle_spark.sources.catalog import parquet_row_count

    return parquet_row_count(spark, sf_dir, "embeddings")


# -- dedup_incremental ------------------------------------------------------

# Exact-dup seeding for the incremental split (_INC_MOD defined with
# the minhash-incremental section above): docs with doc_id % 25 == 0
# are rewritten to one of five canonical bodies on BOTH sides, so
# cross-side exact duplicates exist by construction (the fixture
# corpus has no natural exact dupes — same seeding pattern as
# pii_scrub_stats / decontamination).
_CANON_MOD = 25


@query(
    "dedup_incremental",
    oracle=f"""
    WITH seeded AS (
        SELECT doc_id,
               CASE WHEN doc_id % {_CANON_MOD} = 0
                    THEN 'canonical duplicate body ' || CAST(doc_id % 5 AS VARCHAR)
                    ELSE text END AS text
        FROM documents
    ),
    hashed AS (
        SELECT doc_id, {content_md5_sql("text")} AS h FROM seeded
    ),
    incoming AS (SELECT doc_id, h FROM hashed WHERE doc_id % {_INC_MOD} = 0),
    corpus AS (SELECT doc_id, h FROM hashed WHERE doc_id % {_INC_MOD} <> 0),
    matches AS (
        SELECT i.doc_id, MIN(c.doc_id) AS dup_of
        FROM incoming i JOIN corpus c ON i.h = c.h
        GROUP BY i.doc_id
    )
    SELECT i.doc_id,
           m.dup_of AS dup_of,
           (m.doc_id IS NOT NULL) AS is_dup
    FROM incoming i LEFT JOIN matches m ON i.doc_id = m.doc_id
    """,
    doc="Incremental dedup: classify an incoming batch (doc_id%11==0) "
    "against the already-ingested corpus by normalized-content md5 — "
    "dup_of = the lowest-id corpus twin. Canonical bodies planted on "
    "both sides guarantee non-hollow hits. The incoming batch (always "
    "small relative to the corpus) broadcasts; the corpus streams "
    "against it without shuffling.",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest-time shape of exact dedup: not corpus × corpus but
    batch × corpus, which at 100 TB must NOT shuffle the corpus.

    Plan: hash both sides JVM-side (md5 of normalized text); broadcast
    the incoming batch's (doc_id, hash) pairs — an ingest batch is MBs
    against a TB corpus — so the corpus scan probes the broadcast
    table map-side and only the (tiny) match set aggregates. Two
    broadcast joins, zero corpus shuffles, text never leaves the scan
    except through the 16-byte hash.
    """
    d = _t(spark, sf_dir, "documents")["documents"]
    seeded = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % _CANON_MOD == 0,
            F.concat(
                F.lit("canonical duplicate body "),
                (F.col("doc_id") % 5).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    hashed = seeded.select("doc_id", content_md5("text").alias("h"))
    incoming = hashed.filter(F.col("doc_id") % _INC_MOD == 0)
    corpus = hashed.filter(F.col("doc_id") % _INC_MOD != 0)
    matches = (
        corpus.alias("c")
        .join(F.broadcast(incoming.alias("i")), F.col("c.h") == F.col("i.h"))
        .groupBy(F.col("i.doc_id").alias("doc_id"))
        .agg(F.min(F.col("c.doc_id")).alias("dup_of"))
    )
    return (
        incoming.select("doc_id")
        .join(F.broadcast(matches.alias("m")), "doc_id", "left")
        .select(
            "doc_id",
            F.col("dup_of"),
            F.col("dup_of").isNotNull().alias("is_dup"),
        )
    )


# ---------------------------------------------------------------------------
# exact duplicated-substring spans (Lee et al. 2021, window approximation)
# ---------------------------------------------------------------------------

_SPAN_L = 40  # window length (chars)
_SPAN_PLANT_MOD = 7  # docs with doc_id % 7 == 0 get the planted passage
_SPAN_FLAG_PERMILLE = 200  # flag docs whose dup coverage ≥ 20%
# ≥ _SPAN_L chars shared verbatim across every planted doc, so the
# machinery is exercised on guaranteed cross-doc repeats (the corpus
# itself is synthetic — natural 40-char verbatim repeats are rare).
_SPAN_PASSAGE = (
    " standard boilerplate license header text that recurs verbatim and "
    "unchanged across many crawled documents in this corpus"
)


@query(
    "dedup_exact_substring",
    oracle=f"""
    WITH seeded AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % {_SPAN_PLANT_MOD} = 0
                          THEN '{_SPAN_PASSAGE}' ELSE '' END AS text
      FROM documents),
    wins AS (
      SELECT doc_id, substr(text, i, {_SPAN_L}) AS w
      FROM seeded,
           unnest(range(1, greatest(length(text) - {_SPAN_L - 1}, 0) + 1))
             AS u(i)),
    docs_per AS (
      SELECT w, COUNT(DISTINCT doc_id) AS nd FROM wins GROUP BY w),
    agg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_windows,
             CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_windows
      FROM wins JOIN docs_per USING (w) GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(a.n_windows, 0) AS n_windows,
           COALESCE(a.n_dup_windows, 0) AS n_dup_windows,
           CASE WHEN COALESCE(a.n_windows, 0) > 0
                THEN a.n_dup_windows * 1000 // a.n_windows
                ELSE 0 END AS dup_permille,
           CASE WHEN COALESCE(a.n_windows, 0) > 0
                THEN a.n_dup_windows * 1000 // a.n_windows
                ELSE 0 END >= {_SPAN_FLAG_PERMILLE} AS flagged
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
    doc=f"Exact duplicated-substring detection (the window form of "
    "Lee et al. 2021's suffix-array substring dedup): every "
    f"{_SPAN_L}-char window of every document, a window is 'duplicated'"
    " if its exact text occurs in ≥2 distinct documents; per doc, the "
    "duplicated-window coverage in integer permille and a flag at "
    f"{_SPAN_FLAG_PERMILLE}‰. A shared boilerplate passage is planted "
    f"on doc_id%{_SPAN_PLANT_MOD}==0 so cross-doc repeats are "
    "guaranteed non-zero. All counts integer — hash-exact cross-engine.",
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One hash-keyed pass, NO similarity join: a window is cross-doc
    duplicated iff min(doc_id) ≠ max(doc_id) over its md5 — a window
    function over the h partition, so each position row crosses the
    wire exactly once (16-byte key, never the 40-char text) and the
    per-doc rollup is the only other shuffle. The first cut joined
    positions against a per-h count-distinct aggregate: that evaluated
    the explode+md5 subtree twice and shuffled every position row
    three times — measured 8.3 s at sf0.1 vs 2.6 s for this shape.
    Cost is linear in total characters; a pathologically hot window
    (billions of copies of one string) is absorbed by AQE skew-split.
    A production variant strides the window start (i % s == 0) for an
    s× scan discount at bounded recall loss — kept at stride 1 here to
    stay exact vs the oracle."""
    from pyspark.sql.window import Window as W

    d = _t(spark, sf_dir, "documents")["documents"]
    # fan_out: the window explode + per-window md5 is the compute-bound
    # step and the fixture is a one-row-group file (no-op on real
    # multi-split sources).
    seeded = fan_out(d.select("doc_id", "text")).select(
        "doc_id",
        F.when(
            F.col("doc_id") % _SPAN_PLANT_MOD == 0,
            F.concat(F.col("text"), F.lit(_SPAN_PASSAGE)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    # windows as 16-byte md5 keys: the explode happens scan-side, the
    # shuffle (groupBy h) carries binary(16), never the text.
    # hof_let binds the seeded text as a lambda variable: the window
    # lambda must not reference the aliased CASE+concat seeding
    # (projection collapse would re-run the whole-doc concat per
    # WINDOW position, O(len^2) per doc — see functions/arrays.py).
    # The md5 per window is the operator's inherent work and stays.
    wins = seeded.select(
        "doc_id",
        F.explode(
            hof_let(
                F.col("text"),
                lambda t: F.when(
                    F.length(t) >= _SPAN_L,
                    F.transform(
                        F.sequence(F.lit(1), F.length(t) - (_SPAN_L - 1)),
                        lambda i: F.unhex(
                            F.md5(F.substring(t, i, F.lit(_SPAN_L)))
                        ),
                    ),
                ).otherwise(F.array().cast("array<binary>")),
            )
        ).alias("h"),
    )
    wh = W.partitionBy("h")
    dup = F.min("doc_id").over(wh) != F.max("doc_id").over(wh)
    agg = (
        wins.withColumn("dup", dup)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("dup"), 1).otherwise(0)).alias("n_dup_windows"),
        )
    )
    out = (
        d.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.when(
                F.coalesce("n_windows", F.lit(0)) > 0,
                F.expr("n_dup_windows * 1000 div n_windows"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("dup_permille"),
        )
    )
    return out.withColumn("flagged", F.col("dup_permille") >= _SPAN_FLAG_PERMILLE)


@query(
    "dedup_span_repair",
    oracle=f"""
    WITH seeded AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % {_SPAN_PLANT_MOD} = 0
                          THEN '{_SPAN_PASSAGE}' ELSE '' END AS text
      FROM documents),
    wins AS (
      SELECT doc_id, i, substr(text, CAST(i AS INT), {_SPAN_L}) AS w
      FROM seeded,
           unnest(range(1, greatest(length(text) - {_SPAN_L - 1}, 0) + 1))
             AS u(i)),
    marked AS (
      SELECT doc_id, i,
             MIN(doc_id) OVER (PARTITION BY w) AS d_min,
             MAX(doc_id) OVER (PARTITION BY w) AS d_max,
             ROW_NUMBER() OVER (PARTITION BY w ORDER BY doc_id, i) AS rn
      FROM wins),
    rem AS (
      SELECT doc_id, i FROM marked WHERE d_min <> d_max AND rn > 1),
    isl AS (
      SELECT doc_id, i,
             CASE WHEN i > COALESCE(MAX(i + {_SPAN_L - 1}) OVER (
                    PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -{_SPAN_L}) + 1
                  THEN 1 ELSE 0 END AS new_isl
      FROM rem),
    isl2 AS (
      SELECT doc_id, i,
             SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY i) AS isl_id
      FROM isl),
    spans AS (
      SELECT doc_id, isl_id, MIN(i) AS s, MAX(i) + {_SPAN_L - 1} AS e
      FROM isl2 GROUP BY 1, 2),
    gap_src AS (
      SELECT doc_id,
             COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 0) + 1
               AS gs,
             s - 1 AS ge
      FROM spans
      UNION ALL
      SELECT sp.doc_id, MAX(sp.e) + 1 AS gs, MAX(length(sd.text)) AS ge
      FROM spans sp JOIN seeded sd USING (doc_id)
      GROUP BY sp.doc_id),
    rep AS (
      SELECT g.doc_id,
             string_agg(substr(d.text, CAST(g.gs AS INT),
                               CAST(g.ge - g.gs + 1 AS INT)),
                        '' ORDER BY g.gs) AS repaired
      FROM gap_src g JOIN seeded d USING (doc_id)
      WHERE g.ge >= g.gs
      GROUP BY g.doc_id),
    audit AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_spans_removed,
             CAST(SUM(e - s + 1) AS BIGINT) AS chars_removed
      FROM spans GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(length(d.text) AS BIGINT) AS orig_len,
           COALESCE(a.n_spans_removed, CAST(0 AS BIGINT))
             AS n_spans_removed,
           COALESCE(a.chars_removed, CAST(0 AS BIGINT)) AS chars_removed,
           COALESCE(r.repaired,
                    CASE WHEN a.doc_id IS NOT NULL THEN '' ELSE d.text END)
             AS repaired_text,
           CAST(length(COALESCE(r.repaired,
                    CASE WHEN a.doc_id IS NOT NULL THEN '' ELSE d.text END))
             AS BIGINT) AS repaired_len
    FROM seeded d
    LEFT JOIN audit a USING (doc_id)
    LEFT JOIN rep r USING (doc_id)
    """,
    doc="Span REPAIR — the rewrite dedup_exact_substring only reports "
    "(Lee et al. 2021's actual transformation, arXiv:2107.06499 §3): "
    f"every duplicated {_SPAN_L}-char window occurrence except the "
    "global canonical one (first by (doc_id, position)) is marked for "
    "removal, overlapping/adjacent removals merge into maximal spans "
    "(gaps-and-islands), and each document is emitted with those "
    "spans cut out: repaired_text plus the removed-char audit. Same "
    "planted passage as the detector, so every doc_id%"
    f"{_SPAN_PLANT_MOD}==0 doc except the first provably loses the "
    "boilerplate while the first keeps it.",
)
def dedup_span_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One corpus-scale window pass, no self-join: positions shuffle
    once on the 16-byte window md5 (dup + canonical flags come from
    min/max and row_number over the same h partition — one exchange,
    one sort), and everything downstream runs at removal-position
    grain, which is only the duplicated fraction of the corpus. The
    island merge and span rollup share one doc_id partitioning; the
    repaired text is rebuilt JVM-side with a single higher-order
    aggregate over the per-doc sorted span array — no UDF, no
    second pass over the corpus text. At 100 TB the h shuffle is the
    same volume the detector already pays (16-byte keys + int
    positions, never text); repair adds only doc-grain work. The
    DuckDB oracle replays the span arithmetic independently and
    rebuilds the text via ordered gap concatenation — byte-identical
    output pins the reconstruction exactly."""
    from pyspark.sql.window import Window as W

    d = _t(spark, sf_dir, "documents")["documents"]
    seeded = fan_out(d.select("doc_id", "text")).select(
        "doc_id",
        F.when(
            F.col("doc_id") % _SPAN_PLANT_MOD == 0,
            F.concat(F.col("text"), F.lit(_SPAN_PASSAGE)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    wins = seeded.select(
        "doc_id",
        F.explode(
            # hof_let: same per-window alias-re-eval guard as
            # dedup_exact_substring (see functions/arrays.py)
            hof_let(
                F.col("text"),
                lambda t: F.when(
                    F.length(t) >= _SPAN_L,
                    F.transform(
                        F.sequence(F.lit(1), F.length(t) - (_SPAN_L - 1)),
                        lambda i: F.struct(
                            i.cast("long").alias("i"),
                            F.unhex(
                                F.md5(F.substring(t, i, F.lit(_SPAN_L)))
                            ).alias("h"),
                        ),
                    ),
                ).otherwise(
                    F.array().cast("array<struct<i:bigint,h:binary>>")
                ),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.i").alias("i"), F.col("p.h").alias("h"))
    wh = W.partitionBy("h")
    who = W.partitionBy("h").orderBy("doc_id", "i")
    rem = (
        wins.select(
            "doc_id",
            "i",
            (F.min("doc_id").over(wh) != F.max("doc_id").over(wh)).alias(
                "dup"
            ),
            F.row_number().over(who).alias("rn"),
        )
        .filter("dup AND rn > 1")
        .select("doc_id", "i")
    )
    wdoc = W.partitionBy("doc_id").orderBy("i")
    prev_end = F.max(F.col("i") + (_SPAN_L - 1)).over(
        wdoc.rowsBetween(W.unboundedPreceding, -1)
    )
    spans = (
        rem.withColumn(
            "new_isl",
            (F.col("i") > F.coalesce(prev_end, F.lit(-_SPAN_L)) + 1).cast(
                "int"
            ),
        )
        .withColumn("isl_id", F.sum("new_isl").over(wdoc))
        .groupBy("doc_id", "isl_id")
        .agg(
            F.min("i").alias("s"),
            (F.max("i") + (_SPAN_L - 1)).alias("e"),
        )
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("spans"),
        F.count(F.lit(1)).alias("n_spans_removed"),
        F.sum(F.col("e") - F.col("s") + 1).alias("chars_removed"),
    )
    # fold the sorted spans once: cut [s, e], keep the gaps — a pure
    # JVM higher-order aggregate, no second corpus pass
    repair_expr = """
    aggregate(
      spans,
      struct(CAST(1 AS BIGINT) AS pos, CAST('' AS STRING) AS acc),
      (st, sp) -> struct(
        CAST(sp.e + 1 AS BIGINT) AS pos,
        concat(st.acc, substring(text, CAST(st.pos AS INT),
                                 CAST(sp.s - st.pos AS INT)))),
      st -> concat(st.acc,
                   substring(text, CAST(st.pos AS INT),
                             greatest(CAST(length(text) - st.pos + 1 AS INT),
                                      0)))
    )
    """
    repaired = F.when(F.col("spans").isNull(), F.col("text")).otherwise(
        F.expr(repair_expr)
    )
    return seeded.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.length("text").cast("long").alias("orig_len"),
        F.coalesce("n_spans_removed", F.lit(0)).cast("long").alias(
            "n_spans_removed"
        ),
        F.coalesce("chars_removed", F.lit(0)).cast("long").alias(
            "chars_removed"
        ),
        repaired.alias("repaired_text"),
        F.length(repaired).cast("long").alias("repaired_len"),
    )


@query(
    "longest_dup_substring",
    oracle=f"""
    WITH seeded AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % {_SPAN_PLANT_MOD} = 0
                          THEN '{_SPAN_PASSAGE}' ELSE '' END AS text
      FROM documents),
    wins AS (
      SELECT doc_id, i, substr(text, CAST(i AS INTEGER), {_SPAN_L}) AS w
      FROM seeded,
           unnest(range(1, greatest(length(text) - {_SPAN_L - 1}, 0) + 1))
             AS u(i)),
    flags AS (
      SELECT doc_id, i,
             MIN(doc_id) OVER (PARTITION BY w)
               <> MAX(doc_id) OVER (PARTITION BY w) AS dup
      FROM wins),
    runs AS (
      SELECT doc_id,
             i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
      FROM flags WHERE dup),
    rl AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS run_len
      FROM runs GROUP BY doc_id, grp),
    agg AS (
      SELECT doc_id,
             CAST(SUM(run_len) AS BIGINT) AS n_dup_windows,
             CAST(MAX(run_len) AS BIGINT) AS max_run
      FROM rl GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(a.n_dup_windows, 0) AS n_dup_windows,
           COALESCE(a.max_run + {_SPAN_L - 1}, 0) AS longest_dup_len,
           COALESCE(a.max_run + {_SPAN_L - 1}, 0) >= {len(_SPAN_PASSAGE)}
             AS has_long_span
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
    doc=f"Approximate longest-duplicated-substring audit, suffix-array "
    "free (VERDICT r07 item 6c, extending dedup_exact_substring): a "
    f"run of R consecutive duplicated {_SPAN_L}-char windows bounds "
    f"the longest cross-doc duplicated substring by R+{_SPAN_L - 1} "
    "chars — any true duplicated span of length M ≥ L yields M−L+1 "
    "consecutive duplicated windows, so the reported length is an "
    "UPPER bound that is TIGHT when the run comes from one contiguous "
    "span (the planted boilerplate passage pins the tight case: its "
    "docs report exactly the passage length). Per doc: duplicated "
    "window count, the bound, and a flag at the planted-passage "
    "length. Integer-only — hash-exact cross-engine.",
)
def longest_dup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the same two data-parallel exchanges as
    dedup_exact_substring — window over h (16-byte keys, never text)
    to flag cross-doc duplicates, then a doc-keyed pass where the
    gaps-and-islands run-length (position minus row_number) collapses
    runs WITHOUT a self-join; both the islands window and the rollup
    partition by doc_id, so no single-partition stage touches a
    corpus-scale frame. Suffix arrays (Lee et al. 2021) find the true
    longest span but need a global sort of every suffix; this bound
    costs one corpus scan + two keyed shuffles and is exact on
    contiguous spans — the audit that decides whether the heavy exact
    pass is worth scheduling."""
    d = _t(spark, sf_dir, "documents")["documents"]
    seeded = fan_out(d.select("doc_id", "text")).select(
        "doc_id",
        F.when(
            F.col("doc_id") % _SPAN_PLANT_MOD == 0,
            F.concat(F.col("text"), F.lit(_SPAN_PASSAGE)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    wins = seeded.select(
        "doc_id",
        F.explode(
            F.when(
                F.length("text") >= _SPAN_L,
                F.sequence(F.lit(1), F.length("text") - (_SPAN_L - 1)),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("i"),
        "text",
    ).select(
        "doc_id",
        F.col("i").cast("long").alias("i"),
        F.unhex(F.md5(F.expr(f"substring(text, i, {_SPAN_L})"))).alias("h"),
    )
    wh = W.partitionBy("h")
    dups = (
        wins.withColumn("dup", F.min("doc_id").over(wh) != F.max("doc_id").over(wh))
        .filter(F.col("dup"))
        .select("doc_id", "i")
    )
    # gaps-and-islands: consecutive positions share (i - row_number);
    # row_number is INT in Spark — cast to long before the subtraction
    # (the int32-shift trap class from OPERATORS.md).
    iw = W.partitionBy("doc_id").orderBy("i")
    runs = dups.select(
        "doc_id",
        (F.col("i") - F.row_number().over(iw).cast("long")).alias("grp"),
    )
    rl = runs.groupBy("doc_id", "grp").agg(F.count(F.lit(1)).alias("run_len"))
    agg = rl.groupBy("doc_id").agg(
        F.sum("run_len").alias("n_dup_windows"),
        (F.max("run_len") + (_SPAN_L - 1)).alias("longest_dup_len"),
    )
    return (
        d.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.coalesce("longest_dup_len", F.lit(0)).alias("longest_dup_len"),
            (
                F.coalesce("longest_dup_len", F.lit(0)) >= len(_SPAN_PASSAGE)
            ).alias("has_long_span"),
        )
    )


# ---------------------------------------------------------------------------
# winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 — MOSS)
# ---------------------------------------------------------------------------

_WINNOW_K = 12  # k-gram length (normalized chars)
_WINNOW_W = 8  # winnowing window (positions)


@query(
    "winnowing_fingerprints",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id,
             regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
      FROM documents
    ),
    kg AS (
      SELECT doc_id, i,
             {md5_hash60_sql(f"substr(s, CAST(i AS INTEGER), {_WINNOW_K})")} AS h
      FROM norm,
           unnest(range(1, greatest(length(s) - {_WINNOW_K - 1}, 0) + 1))
             AS u(i)
    ),
    sel AS (
      SELECT doc_id, i, h,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW
                          AND {_WINNOW_W - 1} FOLLOWING) AS wmin,
             COUNT(*) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN CURRENT ROW
                            AND {_WINNOW_W - 1} FOLLOWING) AS wn
      FROM kg
    ),
    fps AS (
      SELECT DISTINCT doc_id, h
      FROM sel WHERE h = wmin AND wn = {_WINNOW_W}
    ),
    flag AS (
      SELECT doc_id, h,
             MIN(doc_id) OVER (PARTITION BY h)
               <> MAX(doc_id) OVER (PARTITION BY h) AS dup
      FROM fps
    ),
    agg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
             CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
      FROM flag GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(a.n_fingerprints, 0) AS n_fingerprints,
           COALESCE(a.n_shared, 0) AS n_shared,
           CASE WHEN COALESCE(a.n_fingerprints, 0) > 0
                THEN a.n_shared * 1000 // a.n_fingerprints
                ELSE 0 END AS shared_permille
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
    doc=f"Winnowing document fingerprints (Schleimer/Wilkerson/Aiken "
    "2003, the MOSS algorithm): md5-hash every {k}-gram of the "
    "alnum-normalized text, keep a position's hash iff it is the "
    "minimum of the {w} hashes starting there (full windows only) — "
    "guaranteeing one fingerprint per window while selecting only "
    "~2/(w+1) of positions, and selecting the SAME hashes for the "
    "same content at ANY offset (position-robust, unlike fixed-stride "
    "sampling). Per doc: fingerprint count, how many are shared with "
    "another doc, and the shared permille. Integer/md5 arithmetic — "
    "hash-exact cross-engine.".format(k=_WINNOW_K, w=_WINNOW_W),
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale answer to dedup_exact_substring's stride-1 cost: the
    winnow keeps ~2/(w+1) of positions (measured 28 of ~130 per doc
    here), so the cross-doc shuffle moves ~4.5x fewer rows at
    IDENTICAL local-match guarantees for spans ≥ k+w-1 chars. Plan:
    one scan, a doc_id-keyed selection window (ROWS frame, streaming),
    distinct on (doc_id, h), the same h-keyed min/max dup flag as
    exact_substring (8-byte long keys), one doc rollup — every
    exchange keyed, no single-partition stage. At 100 TB the h
    partition of a boilerplate fingerprint is hot in the same way and
    absorbed the same way (AQE) as exact_substring's."""
    d = _t(spark, sf_dir, "documents")["documents"]
    norm = fan_out(d.select("doc_id", "text")).select(
        "doc_id",
        F.regexp_replace(F.lower("text"), "[^a-z0-9]", "").alias("s"),
    )
    kg = norm.select(
        "doc_id",
        F.explode(
            F.when(
                F.length("s") >= _WINNOW_K,
                F.sequence(F.lit(1), F.length("s") - (_WINNOW_K - 1)),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("i"),
        "s",
    ).select(
        "doc_id",
        "i",
        md5_hash60(F.expr(f"substring(s, i, {_WINNOW_K})")).alias("h"),
    )
    sw = W.partitionBy("doc_id").orderBy("i").rowsBetween(0, _WINNOW_W - 1)
    fps = (
        kg.withColumn("wmin", F.min("h").over(sw))
        .withColumn("wn", F.count(F.lit(1)).over(sw))
        .filter((F.col("h") == F.col("wmin")) & (F.col("wn") == _WINNOW_W))
        .select("doc_id", "h")
        .distinct()
    )
    hw = W.partitionBy("h")
    agg = (
        fps.withColumn(
            "dup", F.min("doc_id").over(hw) != F.max("doc_id").over(hw)
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fingerprints"),
            F.sum(F.when(F.col("dup"), 1).otherwise(0)).alias("n_shared"),
        )
    )
    return (
        d.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_fingerprints", F.lit(0)).alias("n_fingerprints"),
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            F.when(
                F.coalesce("n_fingerprints", F.lit(0)) > 0,
                F.expr("n_shared * 1000 div n_fingerprints"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("shared_permille"),
        )
    )


# ---------------------------------------------------------------------------
# fuzzy entity matching — blocked edit-distance join (record linkage)
# ---------------------------------------------------------------------------

_FUZZ_MAX_DIST = 1


@query(
    "fuzzy_join_customers",
    oracle=f"""
    SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= {_FUZZ_MAX_DIST}
    """,
    doc=f"Fuzzy entity matching: customer-name pairs within Levenshtein "
    f"distance {_FUZZ_MAX_DIST} (record linkage / entity resolution). "
    "The oracle runs the O(n²) edit-distance join directly; the engine "
    "runs the SCALE plan — neighborhood blocking: each name emits its "
    "substitution-wildcard and deletion variants (2L keys, linear in "
    "the corpus), candidate pairs are an equi-join on the variant, and "
    "exact levenshtein verifies. Identical result set, Σ|block|² cost "
    "instead of n².",
)
def fuzzy_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deletion-neighborhood trick (Levenshtein-automata style),
    as TWO typed candidate streams instead of one variant self-join:

    - **substitution** (equal length): wildcard-variant self-join —
      two strings at hamming distance 1 share exactly the wildcard at
      the differing position.
    - **insert/delete** (length ± 1): each name's deletion variants
      join against RAW names — ``del(s) == t`` iff t is s minus one
      char. Joining deletion variants against deletion variants
      instead (the first cut) admits delete+insert pairs at distance
      2: on dense ID-like strings those collisions dominate, and the
      10x scale sweep measured 47 s there vs 3.4 s for this shape —
      exponent 1.6 → 0.5 (tools/scale_sweep.py).

    Variants explode scan-side inside codegen; both equi-joins key
    their shuffles on 16-byte md5s — never a cross join — and AQE
    skew-split absorbs pathological blocks. Exact ``levenshtein``
    (JVM codegen) removes residual false candidates (wildcard-char
    literals, distinct runs), pairs dedupe on (a, b). At 100 TB this
    is the edit-distance join shape that survives: candidates scale
    with Σ|block|² over 1-error neighborhoods, not n²."""
    c = _t(spark, sf_dir, "customer")["customer"].select("c_custkey", "c_name")
    n = F.col("c_name")
    sub_variants = F.transform(
        F.sequence(F.lit(1), F.length(n)),
        lambda i: F.concat(
            F.substring(n, F.lit(1), i - 1),
            F.lit("*"),
            F.substring(n, i + 1, F.length(n)),
        ),
    )
    del_variants = F.transform(
        F.sequence(F.lit(1), F.length(n)),
        lambda i: F.concat(
            F.substring(n, F.lit(1), i - 1), F.substring(n, i + 1, F.length(n))
        ),
    )
    base = fan_out(c)
    # array_distinct: a run of equal characters yields the SAME
    # variant from every position in the run (the zero run in
    # Customer#000000123), and duplicate (name, variant) rows multiply
    # candidate pairs inside each block.
    subs = base.select(
        "c_custkey",
        "c_name",
        F.explode(F.array_distinct(sub_variants)).alias("v"),
    ).select("c_custkey", "c_name", F.unhex(F.md5("v")).alias("bk"))
    sub_pairs = (
        subs.select(
            F.col("c_custkey").alias("custkey_a"),
            F.col("c_name").alias("name_a"),
            "bk",
        )
        .join(
            subs.select(
                F.col("c_custkey").alias("custkey_b"),
                F.col("c_name").alias("name_b"),
                "bk",
            ),
            "bk",
        )
        .filter(F.col("custkey_a") < F.col("custkey_b"))
    )
    dels = base.select(
        "c_custkey",
        "c_name",
        F.explode(F.array_distinct(del_variants)).alias("v"),
    ).select("c_custkey", "c_name", F.unhex(F.md5("v")).alias("bk"))
    raw = base.select("c_custkey", "c_name", F.unhex(F.md5(n)).alias("bk"))
    indel_pairs = (
        dels.select(
            F.col("c_custkey").alias("custkey_a"),
            F.col("c_name").alias("name_a"),
            "bk",
        )
        .join(
            raw.select(
                F.col("c_custkey").alias("custkey_b"),
                F.col("c_name").alias("name_b"),
                "bk",
            ),
            "bk",
        )
        .filter(F.col("custkey_a") != F.col("custkey_b"))
        .select(
            F.least("custkey_a", "custkey_b").alias("custkey_a"),
            F.greatest("custkey_a", "custkey_b").alias("custkey_b"),
            F.when(F.col("custkey_a") < F.col("custkey_b"), F.col("name_a"))
            .otherwise(F.col("name_b"))
            .alias("name_a"),
            F.when(F.col("custkey_a") < F.col("custkey_b"), F.col("name_b"))
            .otherwise(F.col("name_a"))
            .alias("name_b"),
        )
    )
    return (
        sub_pairs.select("custkey_a", "custkey_b", "name_a", "name_b")
        .unionByName(indel_pairs)
        .distinct()
        .filter(F.levenshtein("name_a", "name_b") <= _FUZZ_MAX_DIST)
        .select(
            "custkey_a",
            "custkey_b",
            F.levenshtein("name_a", "name_b").cast("long").alias("dist"),
        )
    )


# ---------------------------------------------------------------------------
# cross-source overlap matrix — provenance report over shared substrings
# ---------------------------------------------------------------------------


@query(
    "cross_source_overlap_matrix",
    oracle=f"""
    WITH seeded AS (
      SELECT doc_id, source,
             text || CASE WHEN doc_id % {_SPAN_PLANT_MOD} = 0
                          THEN '{_SPAN_PASSAGE}' ELSE '' END AS text
      FROM documents),
    wins AS (
      SELECT DISTINCT source, substr(text, i, {_SPAN_L}) AS w
      FROM seeded,
           unnest(range(1, greatest(length(text) - {_SPAN_L - 1}, 0) + 1))
             AS u(i)),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b, a.w
      FROM wins a JOIN wins b ON a.w = b.w AND a.source < b.source)
    SELECT source_a, source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_windows
    FROM pairs GROUP BY 1, 2
    """,
    doc=f"Cross-source contamination matrix: for every pair of distinct "
    f"sources, how many distinct {_SPAN_L}-char windows appear in "
    "both — the provenance report that tells a pipeline which crawl "
    "sources share boilerplate (and would double-count after mixing). "
    "Reuses dedup_exact_substring's window definition and planted "
    "passage, so the matrix is guaranteed non-empty and its heavy "
    "diagonal block is the known boilerplate.",
)
def cross_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE corpus shuffle, no join: group windows by hash collecting
    the distinct source set (bounded by |sources| however hot the
    window — collect_set is safe here precisely because the source
    domain is small and known), then emit each window's source pairs
    array-side and map-side-combine the ≤ sources² rollup keys. The
    first cut self-joined distinct (hash, source) rows — a second
    shuffle of the whole posting table; measured 2.2 s → this shape
    1.6 s at sf0.1. No driver materialization anywhere."""
    d = _t(spark, sf_dir, "documents")["documents"]
    seeded = fan_out(d.select("doc_id", "source", "text")).select(
        "source",
        F.when(
            F.col("doc_id") % _SPAN_PLANT_MOD == 0,
            F.concat(F.col("text"), F.lit(_SPAN_PASSAGE)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    # hof_let: same per-window alias-re-eval guard as
    # dedup_exact_substring (see functions/arrays.py)
    wins = seeded.select(
        "source",
        F.explode(
            hof_let(
                F.col("text"),
                lambda t: F.when(
                    F.length(t) >= _SPAN_L,
                    F.transform(
                        F.sequence(F.lit(1), F.length(t) - (_SPAN_L - 1)),
                        lambda i: F.unhex(
                            F.md5(F.substring(t, i, F.lit(_SPAN_L)))
                        ),
                    ),
                ).otherwise(F.array().cast("array<binary>")),
            )
        ).alias("h"),
    )
    sets = (
        wins.groupBy("h")
        .agg(F.array_sort(F.collect_set("source")).alias("ss"))
        .filter(F.size("ss") >= 2)
    )
    pairs = sets.select(
        F.explode(
            F.expr(
                "flatten(transform(ss, (x, i) ->"
                " transform(slice(ss, i + 2, size(ss)),"
                " y -> struct(x AS source_a, y AS source_b))))"
            )
        ).alias("p")
    )
    return pairs.select("p.source_a", "p.source_b").groupBy(
        "source_a", "source_b"
    ).agg(F.count(F.lit(1)).alias("n_shared_windows"))


@query(
    "dedup_savings_report",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, source, n_chars,
             {content_md5_sql()} AS content_hash
      FROM documents),
    marked AS (
      SELECT source, n_chars,
             (ROW_NUMBER() OVER (PARTITION BY content_hash
                                 ORDER BY doc_id) > 1) AS is_dup
      FROM h)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE is_dup) AS BIGINT) AS n_dup_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars_total,
           CAST(COALESCE(SUM(n_chars) FILTER (WHERE is_dup), 0) AS BIGINT)
             AS chars_saved,
           CAST(COALESCE(SUM(n_chars) FILTER (WHERE is_dup), 0) * 1000000
                // SUM(n_chars) AS BIGINT) AS savings_ppm
    FROM marked GROUP BY source
    """,
    doc="Dedup savings report: per crawl source, how many documents "
    "(and how many characters, in exact ppm of the source's bytes) "
    "exact dedup would remove — a duplicate is any doc whose "
    "normalized-content md5 has a lower-doc_id twin ANYWHERE in the "
    "corpus (same keeper rule as dedup_exact). The cost/benefit "
    "report that decides whether a source is worth re-crawling and "
    "what dedup will save before anyone runs it.",
)
def dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one shuffle on the uniform md5 key for the keeper
    window (rank-1-per-hash, no skew), one map-side-combining
    aggregate on source. Nothing fact-scale crosses more than once;
    output is |sources| rows."""
    d = _t(spark, sf_dir, "documents")["documents"]
    w = W.partitionBy("content_hash").orderBy("doc_id")
    marked = d.select(
        "doc_id", "source", "n_chars", content_md5("text").alias("content_hash")
    ).select(
        "source",
        "n_chars",
        (F.row_number().over(w) > 1).alias("is_dup"),
    )
    dup_chars = F.sum(F.when(F.col("is_dup"), F.col("n_chars")).otherwise(0))
    return marked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
        .cast("long")
        .alias("n_dup_docs"),
        F.sum("n_chars").alias("chars_total"),
        dup_chars.cast("long").alias("chars_saved"),
        F.expr(
            "CAST(SUM(CASE WHEN is_dup THEN n_chars ELSE 0 END) * 1000000 "
            "DIV SUM(n_chars) AS BIGINT)"
        ).alias("savings_ppm"),
    )


_CONTAIN_T_PPM = 600_000  # containment >= 0.6 of the smaller doc


@query(
    "dedup_containment",
    oracle=f"""
    WITH words AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      FROM words, UNNEST(range(1, greatest(len(w) - {_SHINGLE_N} + 2, 1))) AS t(i)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, CAST(c AS BIGINT) AS n_common,
           CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
           CAST(c * 1000000 // least(sa.n, sb.n) AS BIGINT)
             AS containment_ppm
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE c * 1000000 // least(sa.n, sb.n) >= {_CONTAIN_T_PPM}
    """,
    doc="Containment near-dup pairs (Broder's containment coefficient "
    "C(A,B) = |S(A)∩S(B)| / min(|S(A)|,|S(B)|) in exact integer ppm): "
    "catches SUBSET duplication — a short doc wholly embedded in a "
    "longer one — which symmetric Jaccard dilutes below threshold "
    "when sizes differ (a 50-gram doc inside a 500-gram doc has "
    "Jaccard 0.1 but containment 1.0). Same 3-gram inverted index as "
    "dedup_ngram_jaccard; the quote/boilerplate-inclusion detector "
    "exact-substring dedup complements at the character level.",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: identical to dedup_ngram_jaccard — inverted-index
    equi-join keyed on the 8-byte shingle hash, Σ|posting|² cost,
    minhash as the stated candidate-generation path when posting
    lists densify; see the jaccard body for the measured self-join
    trade study (double pipeline vs checkpoint vs pair-emit — at
    corpus scale, stage the shingle table to persistent storage
    once). The ppm floor division keeps every emitted value
    integer-exact."""
    d = _t(spark, sf_dir, "documents")["documents"]
    sh = _shingled(d).select(
        "doc_id", F.size("shingles").alias("n"), F.explode("shingles").alias("s")
    )
    sh = sh.select("doc_id", "n", F.xxhash64("s").alias("s"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), "s")
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), "s")
    common = (
        a.join(b.hint("shuffle_hash"), "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ppm = F.expr("CAST(c * 1000000 DIV least(na, nb) AS BIGINT)")
    return (
        common.select(
            "doc_a",
            "doc_b",
            F.col("c").cast("long").alias("n_common"),
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            ppm.alias("containment_ppm"),
        )
        .filter(F.col("containment_ppm") >= _CONTAIN_T_PPM)
    )


# ---------------------------------------------------------------------------
# paragraph-level exact dedup (C4/RefinedWeb line dedup)
# ---------------------------------------------------------------------------

_PARA_W = 20  # words per paragraph chunk (fixture; production: real \n\n splits)


@query(
    "paragraph_dedup",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, source,
             regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
      FROM documents),
    paras AS (
      SELECT doc_id, source, i AS para_idx,
             md5(array_to_string(w[i*{_PARA_W}+1 : i*{_PARA_W}+{_PARA_W}], ' ')) AS ph
      FROM words,
           UNNEST(range(0, CAST(ceil(len(w)/{_PARA_W}.0) AS BIGINT))) AS t(i)),
    keep AS (
      SELECT doc_id, source, para_idx, ph,
             ROW_NUMBER() OVER (PARTITION BY ph ORDER BY doc_id, para_idx)
               AS rn
      FROM paras)
    SELECT source,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_paras,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS kept_paras,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS retained_ppm
    FROM keep GROUP BY source
    """,
    doc="Paragraph-level exact dedup (the C4 / RefinedWeb 'line "
    "dedup' pass): documents split into paragraphs, each paragraph "
    "md5-keyed, and only the globally FIRST occurrence (lowest "
    "(doc_id, para_idx)) survives — repeated boilerplate paragraphs "
    "are dropped from every later document while the documents "
    "themselves survive, the complement of whole-doc dedup_exact. "
    f"The synthetic corpus has no newlines, so fixed {_PARA_W}-word "
    "chunks stand in for real paragraph boundaries (FIXTURES.md); "
    "production swaps the chunker for split(text, '\\n\\n') without "
    "touching the dataflow. Emits per-source retained-paragraph "
    "counts in exact integer ppm.",
)
def paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one posexplode (narrow) to paragraph grain, ONE
    hash shuffle on the paragraph md5 for the keep-first window
    (uniform key, tiny groups — no skew by construction), then a
    map-side-combined rollup to the bounded |sources| frame. The
    paragraph text itself never shuffles — only its 32-byte hash —
    so the shuffle payload is grain-count × ~50 bytes regardless of
    paragraph length. At 100 TB this is the same single-shuffle
    budget as dedup_exact at ~15× the row grain; the keep-first
    window's per-hash groups are duplicate cardinality (almost
    always 1-5 rows), never fact-scale partitions."""
    d = _t(spark, sf_dir, "documents")["documents"]
    w = d.select("doc_id", "source", F.split(norm_text("text"), " ").alias("w"))
    # hof_let binds the tokenized array as a lambda variable: the
    # chunk lambda below must not reference the aliased split
    # (projection collapse would re-run norm+split per CHUNK — see
    # functions/arrays.py; measured 8x on this pass at sf0.1, output
    # byte-identical).
    chunks = hof_let(
        F.col("w"),
        lambda warr: F.transform(
            F.sequence(
                F.lit(0), F.ceil(F.size(warr) / F.lit(_PARA_W)).cast("int") - 1
            ),
            lambda i: F.md5(
                F.array_join(F.slice(warr, i * _PARA_W + 1, _PARA_W), " ")
            ),
        ),
    )
    paras = w.select(
        "doc_id",
        "source",
        F.posexplode(chunks).alias("para_idx", "ph"),
    )
    rn = F.row_number().over(
        W.partitionBy("ph").orderBy("doc_id", "para_idx")
    )
    keep = paras.select(
        "doc_id", "source", "ph", (rn == 1).cast("int").alias("is_first")
    )
    return keep.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_paras"),
        F.sum("is_first").cast("long").alias("kept_paras"),
        F.expr(
            "CAST(sum(is_first) * 1000000 DIV count(1) AS BIGINT)"
        ).alias("retained_ppm"),
    )


# -- split_doc_stitch ---------------------------------------------------------

_STITCH_K = 4  # boundary-overlap window (tokens)
_STITCH_MIN_TOKENS = 16  # docs shorter than this are not split


@query(
    "split_doc_stitch",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ),
    elig AS (
      SELECT doc_id, t, len(t) AS n
      FROM toks WHERE len(t) >= {_STITCH_MIN_TOKENS}
    ),
    parts AS (
      SELECT doc_id * 2 AS part_id, t[1 : (n // 2) + {_STITCH_K}] AS p
      FROM elig
      UNION ALL
      SELECT doc_id * 2 + 1, t[(n // 2) + 1 : n] FROM elig
    ),
    hs AS (
      SELECT part_id,
             md5(array_to_string(p[1 : {_STITCH_K}], ' ')) AS head_h,
             md5(array_to_string(p[-{_STITCH_K} :], ' ')) AS tail_h
      FROM parts
    )
    SELECT a.part_id AS left_part, b.part_id AS right_part,
           (a.part_id % 2 = 0 AND b.part_id = a.part_id + 1) AS is_planted
    FROM hs a JOIN hs b ON a.tail_h = b.head_h AND a.part_id <> b.part_id
    """,
    doc="Split-document reassembly (pagination stitching): web crawls "
    "routinely deliver one logical document as page-1/page-2 records "
    "whose boundary region repeats (the trailing paragraph re-served "
    "as the next page's header). The operator plants that exact "
    f"structure in-query — every doc with >= {_STITCH_MIN_TOKENS} "
    f"tokens splits into two parts sharing a {_STITCH_K}-token "
    "overlap — then recovers continuations by joining tail-window "
    "hashes to head-window hashes, so recall is PROVABLE: every "
    "planted (left, right) pair must reappear flagged is_planted "
    "(pinned in tests), and any extra rows are real coincidental "
    "boundary collisions the audit should surface. At 100 TB the "
    "same join runs on the raw page records with an occupancy cap "
    "on hot boundary hashes (boilerplate endings).",
)
def split_doc_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: token slicing and both window hashes are map-side
    projections (two narrow passes over the doc scan via one union);
    the stitch is ONE equi-join on the boundary hash — linear in
    pages times boundary-hash occupancy, never pages². No windows,
    no global ordering."""
    k, mn = _STITCH_K, _STITCH_MIN_TOKENS
    d = _t(spark, sf_dir, "documents")["documents"]
    elig = (
        d.select(
            "doc_id",
            F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("t"),
        )
        .withColumn("n", F.size("t"))
        .filter(F.col("n") >= mn)
    )
    left = elig.select(
        (F.col("doc_id") * 2).alias("part_id"),
        F.expr(f"slice(t, 1, (n DIV 2) + {k})").alias("p"),
    )
    right = elig.select(
        (F.col("doc_id") * 2 + 1).alias("part_id"),
        F.expr(f"slice(t, (n DIV 2) + 1, n - (n DIV 2))").alias("p"),
    )
    hs = left.unionByName(right).select(
        "part_id",
        F.md5(F.array_join(F.expr(f"slice(p, 1, {k})"), " ")).alias("head_h"),
        F.md5(
            F.array_join(F.expr(f"slice(p, size(p) - {k} + 1, {k})"), " ")
        ).alias("tail_h"),
    )
    a = hs.select(F.col("part_id").alias("left_part"), "tail_h")
    b = hs.select(F.col("part_id").alias("right_part"), "head_h")
    return (
        a.join(b, a.tail_h == b.head_h)
        .filter(F.col("left_part") != F.col("right_part"))
        .select(
            "left_part",
            "right_part",
            (
                (F.col("left_part") % 2 == 0)
                & (F.col("right_part") == F.col("left_part") + 1)
            ).alias("is_planted"),
        )
    )


# -- lsh_band_planner ---------------------------------------------------------

_PLAN_H = 16  # minhash functions shared by every banding config
_PLAN_CONFIGS = [(16, 1), (8, 2), (4, 4), (2, 8)]  # (bands, rows/band)


def _detect_ppm(s_num: int, s_den: int, b: int, r: int) -> int:
    """P(candidate | Jaccard = s_num/s_den) = 1 - (1 - s^r)^b in exact
    integer ppm. With s rational the whole S-curve is rational, so no
    float pow (libm pow is not cross-engine bit-stable) ever runs; the
    same Python-computed literals are inlined into the Spark plan and
    the oracle SQL — the MEASURED candidate counts are what the oracle
    independently recomputes."""
    x, y = s_num**r, s_den**r
    miss, den = (y - x) ** b, y**b
    return (den - miss) * 1_000_000 // den


# The exact planner's bucket cap (VERDICT r11 "What's wrong" item 1):
# the registry's last unbounded quadratic was this planner's all-pairs
# count inside dense single-hash buckets. Same value and rationale as
# the LSH dedup family's cap.
_PLAN_CAP = _LSH_BUCKET_CAP


def _exact_planner_oracle() -> str:
    """DuckDB mirror of the CAPPED exact planner, generated from
    _PLAN_CONFIGS — the bitmask form of the Spark plan (one
    leader-filtered (j, h) self-join, bit_or of matching hash
    indices, per-config bitwise membership), replacing the r10
    hand-written per-config band-key joins which cannot express the
    bucket cap."""
    hkey = md5_hash60_sql("concat(CAST(seeds.j AS VARCHAR), '|', s)")
    members = ",\n             ".join(
        "COALESCE(SUM(CASE WHEN "
        + " OR ".join(
            f"(jmask & {((1 << r) - 1) << (band * r)})"
            f" = {((1 << r) - 1) << (band * r)}"
            for band in range(b)
        )
        + f" THEN 1 ELSE 0 END), 0) AS n_{b}x{r}"
        for b, r in _PLAN_CONFIGS
    )
    selects = "\n    UNION ALL ".join(
        f"""SELECT {b} AS bands, {r} AS rows_per_band,
           CAST(n_{b}x{r} AS BIGINT) AS n_candidate_pairs,
           CAST({_detect_ppm(1, 2, b, r)} AS BIGINT) AS p_detect_50_ppm,
           CAST({_detect_ppm(4, 5, b, r)} AS BIGINT) AS p_detect_80_ppm,
           truncated_buckets
    FROM counts CROSS JOIN trunc"""
        for b, r in _PLAN_CONFIGS
    )
    return f"""
    WITH words AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      FROM words, UNNEST(range(1, greatest(len(w) - 1, 1))) AS t(i)),
    hashed AS (
      SELECT doc_id, seeds.j AS j, {hkey} AS h
      FROM sh, UNNEST(range(0, {_PLAN_H})) AS seeds(j)),
    sig AS (SELECT doc_id, j, MIN(h) AS h FROM hashed GROUP BY doc_id, j),
    sized AS (
      SELECT doc_id, j, h,
             COUNT(*) OVER (PARTITION BY j, h) AS bn,
             MIN(doc_id) OVER (PARTITION BY j, h) AS leader
      FROM sig),
    pairs AS (
      SELECT a.doc_id AS da, b.doc_id AS db,
             bit_or(CAST(1 AS BIGINT) << a.j) AS jmask
      FROM sized a JOIN sig b ON a.j = b.j AND a.h = b.h AND a.doc_id < b.doc_id
      WHERE a.bn <= {_PLAN_CAP} OR a.doc_id = a.leader
      GROUP BY 1, 2),
    trunc AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS truncated_buckets
      FROM (SELECT DISTINCT j, h FROM sized WHERE bn > {_PLAN_CAP}) t),
    counts AS (
      SELECT {members}
      FROM pairs)
    {selects}
    """


@query(
    "lsh_band_planner",
    oracle=_exact_planner_oracle(),
    doc="LSH banding-parameter planner: ONE shared 16-minhash "
    "signature table feeds every (bands x rows/band) layout a 100 TB "
    "dedup could deploy — (16,1) high-recall through (2,8) "
    "high-precision — and each config reports its MEASURED candidate "
    "pair count on this corpus next to the ANALYTIC S-curve detection "
    "probability at Jaccard 0.5 and 0.8 (exact integer ppm — the "
    "rational-s closed form, no float pow). The decision artifact for "
    "choosing dedup_minhash_lsh parameters from data rather than "
    "folklore: candidates measure the FP bill, the S-curve the recall "
    f"floor. Since r12 the pair join runs under the bucket cap "
    f"({_PLAN_CAP}): single-hash buckets past the cap degrade to "
    "leader-star emission, so the counts are CAPPED-EXACT lower "
    "bounds — exact whenever truncated_buckets (a new audited output "
    "column) is 0, which holds for every organic corpus measured and "
    "is violated only by mega-cluster densities where the uncapped "
    "count was the registry's last unbounded quadratic (54.5 s at "
    "x32, VERDICT r11).",
)
def lsh_band_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape (r10 rewrite, r12 cap): every config's bands
    partition the SAME 16 hashes into consecutive runs, so candidate
    sets are NESTED — a pair agreeing on some (b, r) band agrees on
    each of that band's single hashes, hence is a (16, 1) candidate.
    The plan therefore runs ONE bucket self-join (the (16, 1) one,
    which dominated anyway) and folds the matching hash indices into
    a per-pair bitmask with a map-side-combinable bit_or; all four
    configs' memberships are then pure bitwise predicates on that
    mask inside one aggregate — replacing four self-joins + four
    pair-distincts (the r09 form shuffled each near-dup pair up to
    30x across the config ladder). Since r12 the join's left side is
    leader-filtered past _PLAN_CAP (the _capped_band_pairs
    discipline), so per-bucket pair volume is bounded at B-1 rows and
    the planner survives any cluster density; the trade — counts
    inside capped buckets undercount to the leader star — is
    disclosed per run by truncated_buckets (0 on organic corpora:
    the planner is byte-identical to the exact mode there, pinned by
    test_r12_operators). Sampled twin for production planning:
    lsh_band_planner_sampled (uncapped by design — its s^2
    extrapolation requires all-pairs within the sample)."""
    d = _t(spark, sf_dir, "documents")["documents"]
    return _planner_frame(_planner_pair_counts(d, cap=_PLAN_CAP))


def _planner_pair_counts(d: DataFrame, cap: int | None = None) -> DataFrame:
    """One row of exact distinct candidate-pair counts (n_{b}x{r} per
    config) plus a truncated_buckets audit, over an arbitrary
    documents frame — the r10 single-join bitmask plan, extracted r11
    so the sampled planner shares it.

    With ``cap`` set (the exact planner since r12, VERDICT r11 item
    1 of "What's wrong"), each (j, h) single-hash bucket larger than
    the cap degrades to leader-star emission before the join — the
    same pre-join filter as ``_capped_band_pairs`` — so the pair
    volume is linear in corpus size at any planted density and the
    counts become CAPPED-EXACT lower bounds, with the number of
    capped buckets disclosed in ``truncated_buckets``. With ``cap``
    None (the sampled planner, whose s^2 extrapolation requires
    uncapped all-pairs within the sample), the join is the r11 form
    and truncated_buckets is constant 0."""
    # shiftleft(1, j) silently wraps past bit 63 — the bitmask fold is
    # only correct while every hash index fits a signed long (ADVICE
    # r10: enforce the invariant where it matters).
    assert _PLAN_H <= 63, "jmask bitmask fold requires _PLAN_H <= 63"
    sh = _shingled(d).select("doc_id", F.explode("shingles").alias("s"))
    mh = sh.groupBy("doc_id").agg(
        *[
            F.min(md5_hash60(F.concat(F.lit(f"{j}|"), F.col("s")))).alias(f"h{j}")
            for j in range(_PLAN_H)
        ]
    ).transform(maybe_local_checkpoint, eager=False)  # one signature pass, 3 consumers
    long = mh.select(
        "doc_id",
        F.posexplode(
            F.array(*[F.col(f"h{j}") for j in range(_PLAN_H)])
        ).alias("j", "h"),
    )
    if cap is None:
        left = long.select(F.col("doc_id").alias("da"), "j", "h")
        audit = None
    else:
        # the bucket stats come from one window over (j, h), the same
        # key the join shuffles on, so Catalyst reuses the exchange
        long = maybe_local_checkpoint(long, eager=False)  # left + right + audit
        wb = W.partitionBy("j", "h")
        sized = long.withColumn("bn", F.count(F.lit(1)).over(wb)).withColumn(
            "leader", F.min("doc_id").over(wb)
        )
        left = sized.filter(
            (F.col("bn") <= cap) | (F.col("doc_id") == F.col("leader"))
        ).select(F.col("doc_id").alias("da"), "j", "h")
        audit = (
            long.groupBy("j", "h")
            .agg(F.count(F.lit(1)).alias("bn"))
            .agg(
                F.coalesce(F.sum((F.col("bn") > cap).cast("long")), F.lit(0))
                .cast("long")
                .alias("truncated_buckets")
            )
        )
    # the (j, h)-keyed self-join emits one row per pair per MATCHING
    # single hash, so folding j into a bitmask (map-side-combinable
    # bit_or) captures exactly which of the 16 minhashes agree — and
    # every config's membership is a pure bitwise predicate on that
    # mask; no signature columns ever cross a shuffle. Under the cap a
    # pair's mask carries only the buckets it SURVIVED in (leader-star
    # past the cap), so config membership is evaluated on the bounded
    # candidate set — capped-exact by construction.
    paired = (
        left.join(long.select(F.col("doc_id").alias("db"), "j", "h"), ["j", "h"])
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), j)")
            ).alias("jmask")
        )
    )

    def member(b: int, r: int) -> "F.Column":
        m = None
        for band in range(b):
            band_mask = ((1 << r) - 1) << (band * r)
            hit = (
                F.col("jmask").bitwiseAND(F.lit(band_mask)) == F.lit(band_mask)
            )
            m = hit if m is None else (m | hit)
        return m

    counts = paired.agg(
        *[
            F.coalesce(F.sum(member(b, r).cast("long")), F.lit(0))
            .cast("long")
            .alias(f"n_{b}x{r}")
            for b, r in _PLAN_CONFIGS
        ]
    )
    if audit is None:
        return counts.withColumn(
            "truncated_buckets", F.lit(0).cast("long")
        )
    return counts.crossJoin(F.broadcast(audit))


def _planner_frame(one: DataFrame) -> DataFrame:
    """Explode the 1-row count frame into the planner's per-config
    rows (exact mode — counts pass through unscaled; the constant
    truncated_buckets audit rides on every row, like stop_shingles
    in the fuzzy-decon output)."""
    return one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("bands"),
                        F.lit(r).alias("rows_per_band"),
                        F.col(f"n_{b}x{r}").alias("n_candidate_pairs"),
                        F.lit(_detect_ppm(1, 2, b, r))
                        .cast("long")
                        .alias("p_detect_50_ppm"),
                        F.lit(_detect_ppm(4, 5, b, r))
                        .cast("long")
                        .alias("p_detect_80_ppm"),
                        F.col("truncated_buckets"),
                    )
                    for b, r in _PLAN_CONFIGS
                ]
            )
        ).alias("c")
    ).select("c.*")


_PLAN_SAMPLE_MOD = 8  # deterministic 1-in-8 doc sample => pairs /64


def _sampled_planner_oracle() -> str:
    """DuckDB mirror of lsh_band_planner_sampled, generated from
    _PLAN_CONFIGS (the exact planner's hand-written oracle predates
    the generator; both produce the same CTE shapes)."""
    skey = md5_hash60_sql("concat('plansample|', CAST(doc_id AS VARCHAR))")
    hkey = md5_hash60_sql("concat(CAST(seeds.j AS VARCHAR), '|', s)")
    ctes = [
        f"""sampled AS (
      SELECT doc_id, text FROM documents
      WHERE {skey} % {_PLAN_SAMPLE_MOD} = 0)""",
        """words AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
      FROM sampled)""",
        """sh AS (
      SELECT DISTINCT doc_id,
             w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      FROM words, UNNEST(range(1, greatest(len(w) - 1, 1))) AS t(i))""",
        f"""hashed AS (
      SELECT doc_id, seeds.j AS j, {hkey} AS h
      FROM sh, UNNEST(range(0, {_PLAN_H})) AS seeds(j))""",
        "mh AS (\n      SELECT doc_id,\n"
        + ",\n".join(
            f"             MIN(CASE WHEN j = {j} THEN h END) AS h{j}"
            for j in range(_PLAN_H)
        )
        + "\n      FROM (SELECT doc_id, j, MIN(h) AS h FROM hashed GROUP BY doc_id, j)"
        "\n      GROUP BY doc_id)",
    ]
    for b, r in _PLAN_CONFIGS:
        keys = [
            " || '|' || ".join(
                f"CAST(h{band * r + k} AS VARCHAR)" for k in range(r)
            )
            for band in range(b)
        ]
        union = "\n      UNION ALL ".join(
            f"SELECT doc_id, {band} AS band, {key} AS key FROM mh"
            for band, key in enumerate(keys)
        )
        ctes.append(f"k{b}x{r} AS (\n      {union})")
        ctes.append(
            f"""c{b}x{r} AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT DISTINCT a.doc_id AS da, x.doc_id AS db
        FROM k{b}x{r} a JOIN k{b}x{r} x
          ON a.band = x.band AND a.key = x.key AND a.doc_id < x.doc_id))"""
        )
    scale = _PLAN_SAMPLE_MOD * _PLAN_SAMPLE_MOD
    selects = "\n    UNION ALL ".join(
        f"""SELECT {b} AS bands, {r} AS rows_per_band,
           (SELECT n FROM c{b}x{r}) AS n_candidate_pairs_sampled,
           CAST((SELECT n FROM c{b}x{r}) * {scale} AS BIGINT) AS n_candidate_pairs_est,
           CAST({1_000_000 // _PLAN_SAMPLE_MOD} AS BIGINT) AS sample_ppm,
           CAST({_detect_ppm(1, 2, b, r)} AS BIGINT) AS p_detect_50_ppm,
           CAST({_detect_ppm(4, 5, b, r)} AS BIGINT) AS p_detect_80_ppm"""
        for b, r in _PLAN_CONFIGS
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + selects


@query(
    "lsh_band_planner_sampled",
    oracle=_sampled_planner_oracle(),
    doc="lsh_band_planner's SAMPLE mode (VERDICT r10 item 2) — the "
    "form a 100 TB corpus actually plans on: the exact distinct "
    "candidate-pair counts the planner measures are inherently "
    "quadratic in cluster density (that IS the measured quantity), "
    f"so this variant plans on a deterministic 1-in-{_PLAN_SAMPLE_MOD} "
    "hash sample of documents (md5 of 'plansample|doc_id' mod "
    f"{_PLAN_SAMPLE_MOD} — reproducible across engines and runs, no "
    "RNG) and extrapolates: for a uniform doc sample at rate 1/s, "
    "pair counts scale by s^2, so n_candidate_pairs_est = sampled "
    f"count x {_PLAN_SAMPLE_MOD * _PLAN_SAMPLE_MOD} in exact integer "
    "arithmetic; sample_ppm rides in the output so the decision "
    "artifact records what it was computed from. Runs alongside (not "
    "replacing) the exact planner: exact for audits at test scale, "
    "sampled for production planning where the exact mode's "
    "output-bound quadratic term is the known hotspot (54.5 s at x32 "
    "in SCALING.md r10).",
)
def lsh_band_planner_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: identical to lsh_band_planner's single-join
    bitmask plan, but every stage downstream of the sample filter —
    shingling, the 16-hash signature aggregate, the (j, h) self-join,
    and the pair bitmask fold — sees 1/s of the docs and ~1/s^2 of
    the candidate pairs, bounding the planner's quadratic term by the
    sampling rate no matter how dense the planted clusters are. The
    sample predicate is a pushed-down hash filter on doc_id (no
    shuffle, no RNG state); extrapolation is a constant integer
    multiply on the 4-row result."""
    d = _t(spark, sf_dir, "documents")["documents"]
    skey = md5_hash60(F.concat(F.lit("plansample|"), F.col("doc_id").cast("string")))
    one = _planner_pair_counts(d.filter(skey % _PLAN_SAMPLE_MOD == 0))
    scale = _PLAN_SAMPLE_MOD * _PLAN_SAMPLE_MOD
    return one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("bands"),
                        F.lit(r).alias("rows_per_band"),
                        F.col(f"n_{b}x{r}").alias("n_candidate_pairs_sampled"),
                        (F.col(f"n_{b}x{r}") * F.lit(scale))
                        .cast("long")
                        .alias("n_candidate_pairs_est"),
                        F.lit(1_000_000 // _PLAN_SAMPLE_MOD)
                        .cast("long")
                        .alias("sample_ppm"),
                        F.lit(_detect_ppm(1, 2, b, r))
                        .cast("long")
                        .alias("p_detect_50_ppm"),
                        F.lit(_detect_ppm(4, 5, b, r))
                        .cast("long")
                        .alias("p_detect_80_ppm"),
                    )
                    for b, r in _PLAN_CONFIGS
                ]
            )
        ).alias("c")
    ).select("c.*")
