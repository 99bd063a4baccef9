"""Corpus-curation operators: sampling, chunking, scrubbing, packing.

The second half of the training-data surface (SURVEY.md §2 addendum):
after dedup/quality (operators.dedup, operators.text) decide WHICH
documents survive, these decide HOW the surviving corpus is shaped
into a training set — sampled per stratum, capped per domain, split
into model-window chunks, scrubbed of PII, and packed into fixed
token budgets.

Design rules shared by every operator here:

- **Determinism is part of the contract.** Sampling uses md5-prefix
  thresholds (identical hex in Spark and DuckDB), never ``rand()``;
  top-k always carries a total-order tiebreak; running sums use the
  peer-inclusive RANGE frame both engines default to. A corpus
  re-ingested incrementally must give every document the same fate on
  every run.
- **Narrow before wide.** Every operator projects the columns it
  needs before any explode/join/shuffle, so at 100 TB the scan serves
  a pruned ReadSchema and the shuffle moves only key + payload.
- **JVM-side unless impossible.** Only sequence_pack (inherently
  sequential first-fit) leaves codegen, and it does so via an
  Arrow-batched ``applyInPandas`` over bounded hash buckets.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from dungbeetle_spark.functions.numeric import dsum
from dungbeetle_spark.functions.texts import md5_hash60, md5_hash60_sql, word_count
from dungbeetle_spark.operators.ranks import global_ntile
from dungbeetle_spark.planmode import maybe_local_checkpoint
from dungbeetle_spark.queries import _t, query
from dungbeetle_spark.sources.catalog import fan_out

# -- stratified_sample ------------------------------------------------------

# Per-language keep rates expressed as md5-prefix hex thresholds over
# a 16-bit space: 'en' keeps 60% (0x9999/0x10000), every other
# language 30% (0x4ccc/0x10000). Hex-string comparison == numeric
# comparison because both sides are fixed-width lowercase hex.
_EN_THRESHOLD = "9999"
_OTHER_THRESHOLD = "4ccc"


@query(
    "stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
          < CASE WHEN lang = 'en' THEN '{_EN_THRESHOLD}' ELSE '{_OTHER_THRESHOLD}' END
    """,
    doc="Deterministic per-language stratified sampling via md5-prefix "
    "thresholds (en 60%, rest 30%) — no rand(), so a document's fate "
    "is stable across re-ingestion. Pure filter: pushes to the scan, "
    "no shuffle at any scale.",
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum downsampling, the language-rebalancing step of an
    LLM data mix (cf. sampling weights in data-mixture papers).

    Scale: a WHERE over md5(doc_id) — embarrassingly parallel, zero
    shuffle, and the md5 is computed on an 8-byte key, not the text.
    Changing the mix = changing two hex literals, not re-hashing.
    """
    d = _t(spark, sf_dir, "documents")["documents"]
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    threshold = F.when(F.col("lang") == "en", F.lit(_EN_THRESHOLD)).otherwise(
        F.lit(_OTHER_THRESHOLD)
    )
    return d.filter(bucket < threshold).select("doc_id", "lang", "source")


# -- doc_chunking -----------------------------------------------------------

_CHUNK_SIZE = 64  # tokens per chunk (model-window slice)
_CHUNK_STRIDE = 48  # overlap = size - stride = 16 tokens


@query(
    "doc_chunking",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
        FROM documents
    )
    SELECT doc_id,
           s // {_CHUNK_STRIDE} AS chunk_id,
           len(toks[s + 1 : s + {_CHUNK_SIZE}]) AS chunk_tokens,
           array_to_string(toks[s + 1 : s + {_CHUNK_SIZE}], ' ') AS chunk_text
    FROM t, unnest(range(0, greatest(len(toks), 1), {_CHUNK_STRIDE})) AS u(s)
    """,
    doc=f"Overlapping fixed-window chunking ({_CHUNK_SIZE}-token "
    f"windows, stride {_CHUNK_STRIDE}) — the context-window slicing "
    "step before tokenization. Scan-parallel flat-map, no shuffle.",
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document into overlapping token windows.

    Spark shape: tokenize → ``explode(sequence(...))`` of window
    starts → ``slice``. All JVM-side array functions inside one
    whole-stage-codegen span; the explode multiplies rows ~n_tokens/
    stride but never leaves the partition, so at 100 TB this is pure
    map-side work feeding the tokenizer downstream.

    The start grid is ``range(0, max(n,1), stride)`` so an empty
    document still yields one (empty) chunk row — chunk accounting
    stays total over the corpus.
    """
    d = _t(spark, sf_dir, "documents")["documents"]
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("toks"), F.lit(1)) - 1,
        F.lit(_CHUNK_STRIDE),
    )
    chunk = F.slice(F.col("toks"), F.col("s") + 1, _CHUNK_SIZE)
    return (
        d.select("doc_id", toks.alias("toks"))
        .select("doc_id", "toks", F.explode(starts).alias("s"))
        .select(
            "doc_id",
            (F.col("s") / _CHUNK_STRIDE).cast("long").alias("chunk_id"),
            F.size(chunk).cast("long").alias("chunk_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


# -- heavy_hitters ----------------------------------------------------------

_HH_MIN_COUNT = 20
_HH_TOP_K = 100


@query(
    "heavy_hitters",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(list_filter(
                   string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''
               )) AS token
        FROM documents
    )
    SELECT token,
           COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM tok
    GROUP BY token
    HAVING COUNT(*) >= {_HH_MIN_COUNT}
    ORDER BY n_occurrences DESC, token
    LIMIT {_HH_TOP_K}
    """,
    doc=f"Exact corpus heavy hitters: top {_HH_TOP_K} tokens with "
    f"≥{_HH_MIN_COUNT} occurrences, ranked (count DESC, token ASC) — "
    "the exact baseline a CountMin/SpaceSaving sketch would "
    "approximate at 100 TB.",
)
def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global token frequency leaders.

    Scale: explode multiplies rows, but the groupBy over tokens gets a
    map-side partial aggregate, so the shuffle carries one (token,
    count) pair per distinct token per partition — bounded by
    vocabulary, not corpus size. The total order (count DESC, token
    ASC) makes the LIMIT deterministic; Catalyst plans it as
    TakeOrderedAndProject (no global sort materialization).
    """
    d = _t(spark, sf_dir, "documents")["documents"]
    token = F.explode(
        F.filter(F.split(F.lower(F.col("text")), r"[^a-z0-9]+"), lambda x: x != "")
    ).alias("token")
    return (
        d.select("doc_id", token)
        .groupBy("token")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_occurrences") >= _HH_MIN_COUNT)
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(_HH_TOP_K)
    )


# -- domain_quota_sample ----------------------------------------------------

_DOMAIN_QUOTA = 10


@query(
    "domain_quota_sample",
    oracle=f"""
    SELECT doc_id, source
    FROM (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
        FROM documents
    )
    WHERE rk <= {_DOMAIN_QUOTA}
    """,
    doc=f"Per-domain quota capping (≤{_DOMAIN_QUOTA} docs per source, "
    "keep lowest doc_id) — the anti-domination guard that stops one "
    "crawl domain from flooding the mix. Only over-quota domains are "
    "ever window-ranked; the under-quota majority bypasses the "
    "shuffle entirely via a broadcast anti-join.",
)
def domain_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap documents per source domain.

    Scale plan (the oracle states WHAT — rank-within-source — but the
    physical plan must not rank the whole corpus): pre-aggregate
    per-source counts (map-side combined, output bounded by the
    domain count, not the corpus), broadcast the tiny over-quota
    domain list, window-rank ONLY those domains' rows, and union the
    untouched majority back via a broadcast anti-join. The skewed
    domains this operator exists to suppress are exactly the skewed
    shuffle keys — so the under-quota majority never shuffles at all,
    and the window's input is capped at the few genuinely heavy
    domains. Both branches scan only (doc_id, source), never text.
    """
    d = _t(spark, sf_dir, "documents")["documents"]
    return domain_quota_frame(d.select("doc_id", "source"), _DOMAIN_QUOTA)


def domain_quota_frame(d: DataFrame, quota: int) -> DataFrame:
    """Quota-cap any (doc_id, source) frame (split out for planted
    tests and plan assertions)."""
    over = (
        d.groupBy("source")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > quota)
        .select("source")
    )
    rk = F.row_number().over(W.partitionBy("source").orderBy("doc_id"))
    capped = (
        d.join(F.broadcast(over), "source")
        .withColumn("rk", rk)
        .filter(F.col("rk") <= quota)
        .select("doc_id", "source")
    )
    untouched = d.join(F.broadcast(over), "source", "left_anti").select(
        "doc_id", "source"
    )
    return untouched.unionByName(capped)


# -- pii_scrub_stats --------------------------------------------------------

# RE2-and-Java-compatible patterns (no lookaround, no backrefs) so the
# Spark build and the DuckDB oracle scan with the same semantics.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_URL_RE = r"https?://[^\s]+"


@query(
    "pii_scrub_stats",
    oracle=f"""
    WITH contaminated AS (
        SELECT source,
               text
               || CASE WHEN doc_id % 3 = 0
                       THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com now'
                       ELSE '' END
               || CASE WHEN doc_id % 5 = 0
                       THEN ' see https://example.com/d/' || CAST(doc_id AS VARCHAR) || ' page'
                       ELSE '' END AS text
        FROM documents
    ),
    scrubbed AS (
        SELECT source,
               len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
               len(regexp_extract_all(text, '{_URL_RE}')) AS n_urls,
               length(regexp_replace(
                   regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                   '{_URL_RE}', '<URL>', 'g')) AS redacted_len
        FROM contaminated
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_emails + n_urls > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
           CAST(SUM(n_emails) AS BIGINT) AS total_emails,
           CAST(SUM(n_urls) AS BIGINT) AS total_urls,
           CAST(SUM(redacted_len) AS BIGINT) AS redacted_chars
    FROM scrubbed
    GROUP BY source
    """,
    doc="PII scrubbing audit per source: email/URL hit counts and "
    "post-redaction sizes. Regexes are RE2∩Java compatible so Spark "
    "and the oracle scan identically. The fixture corpus contains no "
    "PII, so deterministic emails/URLs are synthesized from doc_id "
    "(doc_id%3 → email, doc_id%5 → URL) before scanning — the same "
    "seeding trick multimodal uses for media payloads. Map-side regex "
    "+ tiny per-source aggregate. Oracle SUMs are CAST AS BIGINT so "
    "DuckDB's HUGEINT doesn't diverge from Spark's long in the "
    "driver's type-sensitive value hash.",
)
def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redaction accounting for the scrub stage of an ingest pipeline.

    Scale: the regex work is per-row JVM codegen (the expensive part,
    embarrassingly parallel); the aggregate ships 5 longs per source
    per partition after map-side combine. Email replacement runs
    before URL replacement in BOTH engines — identical composition,
    identical counts.
    """
    d = _t(spark, sf_dir, "documents")["documents"]
    doc_id_str = F.col("doc_id").cast("string")
    text = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" contact u"), doc_id_str, F.lit("@example.com now")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" see https://example.com/d/"), doc_id_str, F.lit(" page")
            ),
        ).otherwise(F.lit("")),
    )
    return scrub_stats_frame(d.select("source", text.alias("text")))


def scrub_stats_frame(d: DataFrame) -> DataFrame:
    """Per-source scrub accounting over any (source, text) frame —
    split out so planted-corpus tests can exercise the regex
    extraction/redaction semantics on known PII directly."""
    text = F.col("text")
    per_doc = d.select(
        "source",
        F.regexp_count(text, F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(text, F.lit(_URL_RE)).alias("n_urls"),
        F.length(
            F.regexp_replace(
                F.regexp_replace(text, _EMAIL_RE, "<EMAIL>"), _URL_RE, "<URL>"
            )
        ).alias("redacted_len"),
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.when(F.col("n_emails") + F.col("n_urls") > 0, 1).otherwise(0)
        ).cast("long").alias("docs_with_pii"),
        F.sum("n_emails").cast("long").alias("total_emails"),
        F.sum("n_urls").cast("long").alias("total_urls"),
        F.sum("redacted_len").cast("long").alias("redacted_chars"),
    )


# -- sequence_pack ----------------------------------------------------------

_PACK_BUDGET = 512  # token budget per packed sequence
# Sequential-FFD shard sizing: each shard is one Python task, so shard
# count bounds parallelism and shard size bounds task memory/runtime.
# ~5k (doc_id, n_tokens) pairs keeps the O(docs × bins) first-fit scan
# in the low milliseconds per shard while the shard count grows
# linearly with the corpus.
_PACK_TARGET_DOCS_PER_SHARD = 5_000


def pack_shard_count(n_docs: int) -> int:
    """Shards for FFD packing: enough that no shard exceeds the target
    doc budget. Grows with the data — 16 hardcoded shards would make
    16 sequential Python tasks the long pole of a 100 TB run. Derived
    from n_docs ONLY (not cluster parallelism) so bucket assignment —
    and therefore packing output — is identical on a laptop and a
    1000-executor cluster, honoring the module's determinism contract;
    at any corpus size where throughput matters the count already
    exceeds the core count by orders of magnitude."""
    import math

    return max(math.ceil(n_docs / _PACK_TARGET_DOCS_PER_SHARD), 1)


def _doc_rows(spark: SparkSession, sf_dir: str) -> int:
    from dungbeetle_spark.sources.catalog import parquet_row_count

    return parquet_row_count(spark, sf_dir, "documents")


def _pack_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
    """First-fit-decreasing within one bucket (plain Python over an
    Arrow batch). Sort (tokens DESC, doc_id ASC) then drop each doc in
    the first bin with room; docs longer than the budget get a
    singleton bin. Deterministic given the sort."""
    pdf = pdf.sort_values(["n_tokens", "doc_id"], ascending=[False, True])
    bins: list[dict] = []  # {"left": int, "docs": int, "tokens": int}
    for tok in pdf["n_tokens"]:
        placed = None
        for i, b in enumerate(bins):
            if b["left"] >= tok:
                placed = i
                break
        if placed is None:
            bins.append({"left": _PACK_BUDGET, "docs": 0, "tokens": 0})
            placed = len(bins) - 1
        b = bins[placed]
        b["left"] -= int(tok)
        b["docs"] += 1
        b["tokens"] += int(tok)
    bucket = int(pdf["bucket"].iloc[0]) if len(pdf) else 0
    out = pd.DataFrame(
        {
            "bucket": bucket,
            "bin_id": range(len(bins)),
            "n_docs": [b["docs"] for b in bins],
            "total_tokens": [b["tokens"] for b in bins],
        }
    )
    return out


@query(
    "sequence_pack",
    oracle=rf"""
    WITH RECURSIVE
    params AS (
      SELECT CAST(ceil(COUNT(*) / {_PACK_TARGET_DOCS_PER_SHARD}.0) AS BIGINT)
               AS n_shards
      FROM documents),
    docs AS (
      SELECT CAST({md5_hash60_sql("CAST(doc_id AS VARCHAR)")}
                  % (SELECT n_shards FROM params) AS INT) AS bucket,
             doc_id,
             CAST(CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+'))
                  END AS BIGINT) AS tok
      FROM documents),
    ranked AS (
      SELECT bucket, doc_id, tok,
             row_number() OVER (PARTITION BY bucket
                                ORDER BY tok DESC, doc_id ASC) AS rn
      FROM docs),
    counts AS (SELECT bucket, COUNT(*) AS n FROM ranked GROUP BY bucket),
    pack AS (
      SELECT bucket, CAST(0 AS BIGINT) AS rn,
             CAST([] AS BIGINT[]) AS lefts,
             CAST([] AS BIGINT[]) AS ndocs,
             CAST([] AS BIGINT[]) AS toks
      FROM counts
      UNION ALL
      SELECT p.bucket, p.rn + 1,
             CASE WHEN fit.idx IS NULL
                  THEN list_append(p.lefts, {_PACK_BUDGET} - r.tok)
                  ELSE list_transform(p.lefts, (x, i) ->
                       CASE WHEN i = fit.idx THEN x - r.tok ELSE x END) END,
             CASE WHEN fit.idx IS NULL
                  THEN list_append(p.ndocs, CAST(1 AS BIGINT))
                  ELSE list_transform(p.ndocs, (x, i) ->
                       CASE WHEN i = fit.idx THEN x + 1 ELSE x END) END,
             CASE WHEN fit.idx IS NULL
                  THEN list_append(p.toks, r.tok)
                  ELSE list_transform(p.toks, (x, i) ->
                       CASE WHEN i = fit.idx THEN x + r.tok ELSE x END) END
      FROM pack p
      JOIN ranked r ON r.bucket = p.bucket AND r.rn = p.rn + 1
      CROSS JOIN LATERAL (
        SELECT list_filter(list_transform(p.lefts,
                  (x, i) -> CASE WHEN x >= r.tok THEN i ELSE NULL END),
                  y -> y IS NOT NULL)[1] AS idx
      ) AS fit
    ),
    finished AS (
      SELECT p.bucket, p.ndocs, p.toks
      FROM pack p JOIN counts c ON c.bucket = p.bucket AND p.rn = c.n)
    SELECT bucket, CAST(i - 1 AS BIGINT) AS bin_id,
           ndocs[i] AS n_docs, toks[i] AS total_tokens
    FROM finished, UNNEST(range(1, len(ndocs) + 1)) AS u(i)
    """,
    doc=f"Sequence packing: first-fit-decreasing docs into "
    f"{_PACK_BUDGET}-token training sequences, parallelized over "
    "corpus-sized hash shards via Arrow applyInPandas. Oracle-backed "
    "since r05 (VERDICT r04 item 3): FFD is sequential per shard but "
    "still deterministic SQL — the DuckDB oracle replays the exact "
    "first-fit recurrence in a recursive CTE whose state is the list "
    "of open-bin capacities, over the same (tok DESC, doc_id ASC) "
    "order and the same md5-derived shard assignment.",
)
def sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed token budgets (the batch-efficiency
    step before training: minimize padding by combining short docs).

    Spark shape: token counts are computed JVM-side; only (bucket,
    doc_id, n_tokens) reaches Python — 20 bytes/doc over Arrow, never
    the text. Packing runs per hash bucket in ``applyInPandas``:
    first-fit-decreasing is inherently sequential, so the operator
    makes the sequential unit an explicit bounded shard whose COUNT
    scales with the corpus (footer row count / target shard size —
    ``pack_shard_count``, a function of the data alone so output is
    machine-independent), so at 100 TB packing stays a sea of bounded
    parallel tasks instead of 16 giant sequential ones. Cross-bucket
    packing quality loss vs global FFD is bounded and the shards are
    embarrassingly parallel.
    """
    d = _t(spark, sf_dir, "documents")["documents"]
    n_shards = pack_shard_count(_doc_rows(spark, sf_dir))
    # md5_hash60, not xxhash64, for the shard key: same uniformity, but
    # the DuckDB oracle can recompute the assignment (non-negative, so
    # pmod == %). Shard choice affects which bins exist, so the hash is
    # part of the operator's deterministic contract.
    counted = d.select(
        (F.pmod(md5_hash60(F.col("doc_id").cast("string")), F.lit(n_shards)))
        .cast("int")
        .alias("bucket"),
        "doc_id",
        word_count("text").cast("long").alias("n_tokens"),
    )
    return (
        counted.groupBy("bucket")
        .applyInPandas(
            _pack_bucket,
            "bucket int, bin_id long, n_docs long, total_tokens long",
        )
    )


# -- interval_overlap -------------------------------------------------------


@query(
    "interval_overlap",
    oracle="""
    WITH deltas AS (
        SELECT user_id, ts AS t, 1 AS delta FROM events
        UNION ALL
        SELECT user_id,
               ts + CAST(floor(value) AS INT) * INTERVAL 1 SECOND AS t,
               -1 AS delta
        FROM events
    ),
    running AS (
        SELECT user_id,
               SUM(delta) OVER (PARTITION BY user_id ORDER BY t, delta) AS live
        FROM deltas
    )
    SELECT user_id, CAST(MAX(live) AS INT) AS max_concurrent
    FROM running
    GROUP BY user_id
    """,
    doc="Max concurrent intervals per user via sweep-line: each event "
    "spans [ts, ts+floor(value) sec]; +1/-1 deltas, peer-inclusive "
    "running sum, max. Ends sort before starts at the same instant "
    "(delta ASC), so touching intervals don't count as overlapping.",
)
def interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line concurrency: the classic interval-overlap aggregate
    (sessions-online, resource-contention) without a range self-join.

    Scale: the naive formulation is an O(n²) interval self-join; the
    sweep is one union (map-side), one shuffle on user_id, and a
    partition-local running sum. Determinism: the running sum uses the
    default peer-inclusive RANGE frame (identical in Spark and
    DuckDB), so equal (t, delta) rows share a value and the per-user
    MAX is total-order independent.
    """
    e = _t(spark, sf_dir, "events")["events"]
    starts = e.select("user_id", F.col("ts").alias("t"), F.lit(1).alias("delta"))
    ends = e.select(
        "user_id",
        F.timestamp_add(
            "SECOND", F.floor(F.col("value")).cast("int"), F.col("ts")
        ).alias("t"),
        F.lit(-1).alias("delta"),
    )
    w = W.partitionBy("user_id").orderBy("t", "delta")
    return (
        starts.unionAll(ends)
        .select("user_id", F.sum("delta").over(w).alias("live"))
        .groupBy("user_id")
        .agg(F.max("live").cast("int").alias("max_concurrent"))
    )


# -- gap_fill_daily ---------------------------------------------------------


@query(
    "gap_fill_daily",
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
        FROM events GROUP BY user_id, CAST(ts AS DATE)
    ),
    spans AS (
        SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id
    ),
    cal AS (
        SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        FROM spans
    )
    SELECT c.user_id, c.day,
           d.day_value AS day_value,
           last_value(d.day_value IGNORE NULLS) OVER (
               PARTITION BY c.user_id ORDER BY c.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value,
           (d.user_id IS NULL) AS is_gap
    FROM cal c LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day
    """,
    doc="Daily gap-fill per user: dense calendar between each user's "
    "first and last active day, forward-filling missing days "
    "(last-observation-carried-forward) — the time-series "
    "regularization step before windowed feature extraction.",
)
def gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densify a sparse per-user daily series.

    Spark shape: daily decimal-exact aggregate → per-user span →
    ``explode(sequence(d0, d1))`` calendar → left join back → ``last(
    ignorenulls)`` over a ROWS frame. Two shuffles total (daily agg,
    then calendar/daily co-shuffle on user_id+day; the span agg reuses
    the daily exchange). The explode bounds output at users × span
    days — linear in the dense series a downstream feature job needs
    anyway.
    """
    e = _t(spark, sf_dir, "events")["events"]
    daily = e.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(dsum("value").alias("day_value"))
    spans = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    cal = spans.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("day"),
    )
    dd = daily.select(
        F.col("user_id").alias("d_user"),
        F.col("day").alias("d_day"),
        "day_value",
    )
    ff = F.last("day_value", ignorenulls=True).over(
        W.partitionBy("user_id").orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    )
    joined = cal.join(
        dd, (cal.user_id == dd.d_user) & (cal.day == dd.d_day), "left"
    )
    return joined.select(
        "user_id",
        "day",
        F.col("day_value"),
        ff.alias("filled_value"),
        F.col("d_user").isNull().alias("is_gap"),
    )


# ---------------------------------------------------------------------------
# curriculum ordering — rarity-scored difficulty stages
# ---------------------------------------------------------------------------

_CURR_STAGES = 4


@query(
    "curriculum_buckets",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
      FROM documents),
    words AS (
      SELECT doc_id, t[i] AS w
      FROM toks, unnest(range(1, len(t) + 1)) AS u(i)),
    wc AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w),
    doc AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(1000000000 // wc.c) // COUNT(*) AS BIGINT) AS difficulty
      FROM words JOIN wc USING (w)
      GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(doc.n_tokens, 0) AS n_tokens,
           COALESCE(doc.difficulty, 0) AS difficulty,
           CAST(NTILE({_CURR_STAGES}) OVER (
                  ORDER BY COALESCE(doc.difficulty, 0), d.doc_id)
                AS BIGINT) AS stage
    FROM documents d LEFT JOIN doc USING (doc_id)
    """,
    doc=f"Curriculum ordering: each document scored by mean token "
    "rarity (1e9 // corpus token-count, integer — the log-free "
    "constant-numerator IDF; a corpus-total numerator orders "
    "identically but costs an extra aggregate pass), then split into "
    f"{_CURR_STAGES} equal NTILE difficulty stages, easy → hard. The "
    "ordering a curriculum-learning schedule feeds to training: stage "
    "1 is common-vocabulary text, stage 4 the rarest. Fully "
    "deterministic (ties break on doc_id); all arithmetic integer.",
)
def curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two keyed corpus shuffles, both unavoidable: token counts (the
    same vocabulary build as tfidf) and the per-doc rollup; the
    constant-numerator rarity keeps the plan to exactly these (a
    corpus-total numerator added a third corpus evaluation for its
    scalar — ordering is identical without it).

    The stage assignment is exact NTILE semantics WITHOUT the global
    window (VERDICT r06 item 3 — the r06 plan pulled every doc row
    through one Exchange SinglePartition task): pareto_revenue_share's
    prefix-sum construction. repartitionByRange on (difficulty,
    doc_id) gives each task a contiguous rank range (checkpointed —
    spark_partition_id() feeds two consumers and must not re-sample);
    row_number windows BY pid; per-partition counts (|partitions|
    rows) cumsum to rank offsets and broadcast back; the closed-form
    NTILE bucket formula (first N%k buckets take one extra row) maps
    global rank → stage. Bit-equal to the oracle's NTILE because the
    (difficulty, doc_id) order key is unique."""
    d = _t(spark, sf_dir, "documents")["documents"]
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"[^a-z0-9]+"), lambda x: x != ""
    )
    words = fan_out(d.select("doc_id", "text")).select(
        "doc_id", F.explode(toks).alias("w")
    )
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    doc = (
        words.join(wc, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.expr("sum(1000000000 div c) div count(*)").alias("difficulty"),
        )
    )
    ranked = (
        d.select("doc_id")
        .join(doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("difficulty", F.lit(0).cast("long")).alias("difficulty"),
        )
        # global_ntile's repartitionByRange samples its input in a
        # separate job before the shuffle; without this barrier that
        # sampling re-executes the whole token pipeline (explode + two
        # shuffles) a second time. Lazy: materializes inside the first
        # job that touches it, then both the sampler and the shuffle
        # read the stored blocks.
        .transform(maybe_local_checkpoint, eager=False)
    )
    n_parts = max(spark.sparkContext.defaultParallelism, 8)
    return global_ntile(
        ranked,
        [F.asc("difficulty"), F.asc("doc_id")],
        _CURR_STAGES,
        "stage",
        n_parts,
    ).select("doc_id", "n_tokens", "difficulty", "stage")


@query(
    "integrity_audit",
    oracle="""
    SELECT 'orders.o_custkey->customer' AS constraint_name,
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_rows,
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE o.o_custkey IS NOT NULL
                   AND NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT) AS n_orphans,
           CAST((SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)
                AS BIGINT) AS n_nulls
    UNION ALL
    SELECT 'lineitem.l_orderkey->orders',
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE l.l_orderkey IS NOT NULL
                   AND NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NULL)
                AS BIGINT)
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE l.l_partkey IS NOT NULL
                   AND NOT EXISTS (SELECT 1 FROM part p
                                   WHERE p.p_partkey = l.l_partkey))
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem WHERE l_partkey IS NULL)
                AS BIGINT)
    """,
    doc="Referential-integrity audit: for each fact->dimension foreign "
    "key, the row count, the orphan count (fact keys with no matching "
    "dimension row, via anti-join), and the null-key count -- the "
    "data-contract check a warehouse runs after every load, before "
    "letting joins silently drop rows. Exact integer counts.",
)
def integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: per check, one anti-join keyed on the FK for the
    orphan count (dimension key columns broadcast when they fit;
    lineitem->orders shuffles once) plus a scan-only aggregate for
    row/null counts -- both collapse map-side to one row and
    cross-join. Fully declarative (no driver-side count() loop; the
    three one-row audits union into one plan), every scan pruned to
    the key column, and immune to duplicated dimension keys (a left
    join would double-count matched fact rows)."""
    t = _t(spark, sf_dir, "orders", "lineitem", "customer", "part")

    def audit(fact: DataFrame, fk: str, dim: DataFrame, pk: str, name: str) -> DataFrame:
        # row/null counts come from the fact table ALONE: counting
        # after a left join would inflate n_rows whenever a dimension
        # key is duplicated -- exactly the corruption this audit
        # exists to surface. Orphans ride a separate anti-join (also
        # duplication-proof); the two one-row aggregates cross-join.
        base = fact.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col(fk).isNull(), 1).otherwise(0)).cast("long").alias(
                "n_nulls"
            ),
        )
        orphans = (
            fact.select(fk)
            .filter(F.col(fk).isNotNull())
            .join(dim.select(pk), fact[fk] == dim[pk], "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
        )
        return base.crossJoin(orphans).select(
            F.lit(name).alias("constraint_name"), "n_rows", "n_orphans", "n_nulls"
        )

    rows = [
        audit(t["orders"], "o_custkey", t["customer"], "c_custkey",
              "orders.o_custkey->customer"),
        audit(t["lineitem"], "l_orderkey", t["orders"], "o_orderkey",
              "lineitem.l_orderkey->orders"),
        audit(t["lineitem"], "l_partkey", t["part"], "p_partkey",
              "lineitem.l_partkey->part"),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# -- url_canonicalize ---------------------------------------------------------

# Mini public-suffix list for registrable-domain extraction: the two
# multi-label suffixes the synthesized hosts use. A production run
# swaps this alternation for the full PSL compiled into one regex (or
# a broadcast longest-suffix-match table) — the plan shape (pure
# map-side string expressions, one rollup shuffle) is unchanged.
_MULTI_LABEL_SUFFIX_RE = r"[.](co[.]uk|github[.]io)$"


@query(
    "url_canonicalize",
    oracle=r"""
    WITH raw AS (
      SELECT doc_id,
        (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END)
        || '://'
        || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.'
                 WHEN doc_id % 3 = 1 THEN 'www.' ELSE '' END)
        || (CASE WHEN doc_id % 7 = 1 THEN 'blog.'
                 WHEN doc_id % 7 = 2 THEN 'shop.' ELSE '' END)
        || 'site' || CAST(doc_id % 40 AS VARCHAR)
        || (CASE doc_id % 5 WHEN 0 THEN '.com' WHEN 1 THEN '.org'
                 WHEN 2 THEN '.co.uk' WHEN 3 THEN '.github.io'
                 ELSE '.net' END)
        || (CASE WHEN doc_id % 4 = 0
                 THEN (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END)
                 WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END)
        || '/p/' || CAST(doc_id % 10 AS VARCHAR)
        || (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END)
        || (CASE WHEN doc_id % 3 = 0
                 THEN '?utm_source=feed&id=' || CAST(doc_id % 100 AS VARCHAR)
                      || '&utm_campaign=x'
                 WHEN doc_id % 3 = 1
                 THEN '?id=' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END)
        || (CASE WHEN doc_id % 5 = 0 THEN '#sec2' ELSE '' END) AS url
      FROM documents
    ),
    parts AS (
      SELECT doc_id, url,
        lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
        lower(string_split(
            regexp_extract(url, '^[A-Za-z]+://([^/?#]*)', 1), ':')[1]) AS host,
        COALESCE(string_split(
            regexp_extract(url, '^[A-Za-z]+://([^/?#]*)', 1), ':')[2], '')
          AS port,
        regexp_extract(url, '^[A-Za-z]+://[^/?#]*([^?#]*)', 1) AS path,
        regexp_extract(url, '\?([^#]*)', 1) AS q
      FROM raw
    ),
    canon AS (
      SELECT doc_id, url, scheme,
        regexp_replace(host, '^www\.', '') AS host_c,
        CASE WHEN (scheme = 'http' AND port = '80')
                  OR (scheme = 'https' AND port = '443')
             THEN '' ELSE port END AS port_c,
        CASE WHEN regexp_replace(path, '/+$', '') = '' THEN '/'
             ELSE regexp_replace(path, '/+$', '') END AS path_c,
        array_to_string(list_filter(string_split(q, '&'),
            x -> NOT starts_with(x, 'utm_') AND x <> ''), '&') AS q_c,
        contains(q, 'utm_') AS tracked
      FROM parts
    ),
    built AS (
      SELECT doc_id, url, host_c, tracked,
        scheme || '://' || host_c
        || (CASE WHEN port_c <> '' THEN ':' || port_c ELSE '' END)
        || path_c
        || (CASE WHEN q_c <> '' THEN '?' || q_c ELSE '' END) AS canonical,
        (CASE WHEN regexp_matches(host_c, '[.](co[.]uk|github[.]io)$')
              THEN 3 ELSE 2 END) AS k,
        string_split(host_c, '.') AS labels
      FROM canon
    ),
    reg AS (
      SELECT url, canonical, host_c, tracked,
        array_to_string(
            list_slice(labels, len(labels) - k + 1, len(labels)), '.')
          AS registrable_domain
      FROM built
    )
    SELECT registrable_domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT host_c) AS BIGINT) AS n_hosts,
           CAST(SUM(CASE WHEN url <> canonical THEN 1 ELSE 0 END) AS BIGINT)
             AS n_changed,
           CAST(SUM(CASE WHEN tracked THEN 1 ELSE 0 END) AS BIGINT)
             AS n_tracked,
           MIN(canonical) AS sample_canonical
    FROM reg GROUP BY 1
    """,
    doc="URL canonicalization + registrable-domain rollup (VERDICT r07 "
    "item 6a) — the normalization every crawl pipeline runs before "
    "URL-keyed dedup. Deterministic messy URLs are synthesized from "
    "doc_id (scheme case, www. prefixes, subdomains, default and "
    "explicit ports, trailing slashes, utm_* tracking params, "
    "fragments), then canonicalized: lowercase scheme+host, strip "
    "www. and default ports, trim trailing path slashes (root stays "
    "'/'), drop utm_* params preserving the rest in order, drop the "
    "fragment. Registrable domain = last 2 host labels, or 3 when the "
    "host ends in a multi-label public suffix (mini-PSL: co.uk, "
    "github.io). Per domain: doc/host counts, how many URLs changed "
    "under canonicalization, how many carried tracking params, and "
    "MIN(canonical) pinning exact canonical strings in the hash.",
)
def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: pure JVM string expressions (regexp_extract /
    regexp_replace / split / array filter) inside one whole-stage
    codegen over the scan — zero Python, zero explode — and ONE
    shuffle, the registrable-domain rollup, whose key space is the
    bounded domain set. At 100 TB the URL column replaces the
    synthesis block and nothing else changes; a hot domain in the
    rollup is a classic AQE skew-split case, not a plan problem."""
    d = _t(spark, sf_dir, "documents")["documents"]
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 2 == 0, "HTTPS").otherwise("http"),
        F.lit("://"),
        F.when(did % 3 == 0, "WWW.").when(did % 3 == 1, "www.").otherwise(""),
        F.when(did % 7 == 1, "blog.").when(did % 7 == 2, "shop.").otherwise(""),
        F.concat(F.lit("site"), (did % 40).cast("string")),
        F.element_at(
            F.array(*[F.lit(s) for s in
                      [".com", ".org", ".co.uk", ".github.io", ".net"]]),
            (did % 5).cast("int") + 1,
        ),
        F.when(did % 4 == 0, F.when(did % 2 == 0, ":443").otherwise(":80"))
        .when(did % 4 == 1, ":8080")
        .otherwise(""),
        F.concat(F.lit("/p/"), (did % 10).cast("string")),
        F.when(did % 6 == 0, "/").otherwise(""),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit("?utm_source=feed&id="),
                (did % 100).cast("string"),
                F.lit("&utm_campaign=x"),
            ),
        )
        .when(did % 3 == 1, F.concat(F.lit("?id="), (did % 100).cast("string")))
        .otherwise(""),
        F.when(did % 5 == 0, "#sec2").otherwise(""),
    )
    raw = fan_out(d.select("doc_id")).select("doc_id", url.alias("url"))
    hostport = F.regexp_extract("url", r"^[A-Za-z]+://([^/?#]*)", 1)
    parts = raw.select(
        "url",
        F.lower(F.regexp_extract("url", r"^([A-Za-z]+)://", 1)).alias("scheme"),
        F.lower(F.get(F.split(hostport, ":"), 0)).alias("host"),
        F.coalesce(F.get(F.split(hostport, ":"), 1), F.lit("")).alias("port"),
        F.regexp_extract("url", r"^[A-Za-z]+://[^/?#]*([^?#]*)", 1).alias("path"),
        F.regexp_extract("url", r"\?([^#]*)", 1).alias("q"),
    )
    canon = parts.select(
        "url",
        "scheme",
        F.regexp_replace("host", r"^www\.", "").alias("host_c"),
        F.when(
            ((F.col("scheme") == "http") & (F.col("port") == "80"))
            | ((F.col("scheme") == "https") & (F.col("port") == "443")),
            "",
        )
        .otherwise(F.col("port"))
        .alias("port_c"),
        F.when(F.regexp_replace("path", r"/+$", "") == "", "/")
        .otherwise(F.regexp_replace("path", r"/+$", ""))
        .alias("path_c"),
        F.array_join(
            F.filter(
                F.split("q", "&"),
                lambda x: (~x.startswith("utm_")) & (x != ""),
            ),
            "&",
        ).alias("q_c"),
        F.col("q").contains("utm_").alias("tracked"),
    )
    labels = F.split("host_c", r"\.")
    k = F.when(F.col("host_c").rlike(_MULTI_LABEL_SUFFIX_RE), 3).otherwise(2)
    built = canon.select(
        "url",
        "host_c",
        "tracked",
        F.concat(
            F.col("scheme"),
            F.lit("://"),
            F.col("host_c"),
            F.when(F.col("port_c") != "", F.concat(F.lit(":"), F.col("port_c")))
            .otherwise(""),
            F.col("path_c"),
            F.when(F.col("q_c") != "", F.concat(F.lit("?"), F.col("q_c")))
            .otherwise(""),
        ).alias("canonical"),
        F.array_join(
            F.slice(labels, F.size(labels) - k + 1, k), "."
        ).alias("registrable_domain"),
    )
    return built.groupBy("registrable_domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("host_c").alias("n_hosts"),
        F.sum(F.when(F.col("url") != F.col("canonical"), 1).otherwise(0)).alias(
            "n_changed"
        ),
        F.sum(F.when(F.col("tracked"), 1).otherwise(0)).alias("n_tracked"),
        F.min("canonical").alias("sample_canonical"),
    )


# -- shard_plan ---------------------------------------------------------------

_SHARD_TARGET_CHARS = 8192  # target payload per exported shard


@query(
    "shard_plan",
    oracle=f"""
    WITH c AS (
      SELECT doc_id, n_chars,
             COALESCE(SUM(n_chars) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM documents
    ),
    assign AS (
      SELECT doc_id, n_chars,
             CAST(cum_before // {_SHARD_TARGET_CHARS} AS BIGINT) AS shard_id
      FROM c
    )
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc,
           CAST(SUM(n_chars) AS BIGINT) >= {_SHARD_TARGET_CHARS}
             AS at_target
    FROM assign GROUP BY shard_id
    """,
    doc=f"Shard-export planner: assign documents to contiguous "
    f"~{_SHARD_TARGET_CHARS}-char shards by exclusive running size "
    "(shard = floor(bytes_before / target)) — the deterministic "
    "assignment a 100 TB corpus export needs so shard boundaries "
    "never depend on task scheduling, plus the per-shard manifest "
    "(doc count, payload, id range, at-target flag). Every shard's "
    "payload sits within one document's size of the target (a doc "
    "that overshoots a boundary donates the overshoot to the shard "
    "it starts), so balance error is bounded by max doc size, not "
    "corpus size. Integer-only — hash-exact cross-engine.",
)
def shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the global running size uses ranks.global_cumsum —
    the range-partitioned prefix-sum construction (local running sums
    per contiguous doc_id range, |partitions|-row offset table
    broadcast back), so NO single-partition exchange touches the
    doc-scale frame (the naive SUM OVER (ORDER BY doc_id) compiles to
    Exchange SinglePartition — the exact scale-killer class VERDICT
    r06 flagged in curriculum_buckets). The shard rollup then groups
    on the derived shard id: one more keyed shuffle, bounded output
    rows (|corpus|/target shards)."""
    from dungbeetle_spark.operators.ranks import global_cumsum

    d = _t(spark, sf_dir, "documents")["documents"].select("doc_id", "n_chars")
    n_parts = max(spark.sparkContext.defaultParallelism, 8)
    assigned = global_cumsum(
        d, [F.col("doc_id")], "n_chars", "cum_before", n_parts,
        exclusive=True,
    ).withColumn(
        "shard_id", F.expr(f"cum_before DIV {_SHARD_TARGET_CHARS}")
    )
    return assigned.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        (F.sum("n_chars") >= _SHARD_TARGET_CHARS).alias("at_target"),
    )


# -- length_matched_controls --------------------------------------------------

_CTRL_EVAL_MOD = 37  # same eval membership as decontamination


@query(
    "length_matched_controls",
    oracle=f"""
    WITH u AS (
      SELECT doc_id, source, n_chars,
             CASE WHEN doc_id % {_CTRL_EVAL_MOD} = 0 THEN 1 ELSE 0 END
               AS is_eval
      FROM documents
    ),
    seq AS (
      SELECT *,
             last_value(CASE WHEN is_eval = 0 THEN doc_id END IGNORE NULLS)
               OVER (PARTITION BY source ORDER BY n_chars, is_eval, doc_id
                     ROWS UNBOUNDED PRECEDING) AS prev_id,
             last_value(CASE WHEN is_eval = 0 THEN n_chars END IGNORE NULLS)
               OVER (PARTITION BY source ORDER BY n_chars, is_eval, doc_id
                     ROWS UNBOUNDED PRECEDING) AS prev_len,
             first_value(CASE WHEN is_eval = 0 THEN doc_id END IGNORE NULLS)
               OVER (PARTITION BY source ORDER BY n_chars, is_eval, doc_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS next_id,
             first_value(CASE WHEN is_eval = 0 THEN n_chars END IGNORE NULLS)
               OVER (PARTITION BY source ORDER BY n_chars, is_eval, doc_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS next_len
      FROM u
    )
    SELECT doc_id AS eval_doc, source, n_chars AS eval_len,
           CASE WHEN next_id IS NULL THEN prev_id
                WHEN prev_id IS NULL THEN next_id
                WHEN (n_chars - prev_len) <= (next_len - n_chars)
                  THEN prev_id
                ELSE next_id END AS control_doc,
           CASE WHEN next_id IS NULL THEN n_chars - prev_len
                WHEN prev_id IS NULL THEN next_len - n_chars
                WHEN (n_chars - prev_len) <= (next_len - n_chars)
                  THEN n_chars - prev_len
                ELSE next_len - n_chars END AS len_gap
    FROM seq WHERE is_eval = 1
    """,
    doc="Length-matched control sampling: for every eval-split "
    f"document (doc_id%{_CTRL_EVAL_MOD}==0, the decontamination "
    "membership), pick the nearest-length NON-eval document from the "
    "same source — the standard control-group construction for "
    "contamination and memorization analyses, where the control must "
    "match the eval doc's length distribution. Nearest on either "
    "side via one sorted pass (no join): carry the last candidate "
    "backward and the first candidate forward with IGNORE NULLS "
    "window folds, then pick the closer (ties prefer the shorter "
    "candidate; all orderings carry doc_id tiebreaks). Exact "
    "integers throughout.",
)
def length_matched_controls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: ONE shuffle — the source-keyed sort window; both
    directional carries and the final pick run in the same sorted
    pass, so the whole operator is an as-of join on a non-time axis
    expressed without materializing candidate pairs. The forward
    carry runs as last(ignorenulls) over the REVERSED total order
    with a running [unboundedPreceding, 0] frame — semantically
    identical to first() over [0, unboundedFollowing], but that frame
    is re-aggregated from scratch per row in WindowExec (quadratic in
    partition size: the r09 honest-materialization sweep measured the
    old shape superlinear at exponent 1.17, 22 s at x32 vs 0.45 s for
    this one; at 100 TB per-source partitions it is a scale-killer).
    Running frames advance incrementally, so both carries are
    O(n log n) sort + O(n) pass. Per-source data skew is the only
    hotspot class (a giant source sorts in one task's range chain) —
    the same profile as every source-keyed window here."""
    d = _t(spark, sf_dir, "documents")["documents"]
    u = fan_out(d.select("doc_id", "source", "n_chars")).withColumn(
        "is_eval",
        F.when(F.col("doc_id") % _CTRL_EVAL_MOD == 0, 1).otherwise(0),
    )
    order = [F.col("n_chars"), F.col("is_eval"), F.col("doc_id")]
    back = W.partitionBy("source").orderBy(*order).rowsBetween(
        W.unboundedPreceding, 0
    )
    fwd_rev = W.partitionBy("source").orderBy(
        F.desc("n_chars"), F.desc("is_eval"), F.desc("doc_id")
    ).rowsBetween(W.unboundedPreceding, 0)
    cand_id = F.when(F.col("is_eval") == 0, F.col("doc_id"))
    cand_len = F.when(F.col("is_eval") == 0, F.col("n_chars"))
    seq = u.select(
        "doc_id",
        "source",
        "n_chars",
        "is_eval",
        F.last(cand_id, ignorenulls=True).over(back).alias("prev_id"),
        F.last(cand_len, ignorenulls=True).over(back).alias("prev_len"),
        F.last(cand_id, ignorenulls=True).over(fwd_rev).alias("next_id"),
        F.last(cand_len, ignorenulls=True).over(fwd_rev).alias("next_len"),
    )
    prev_gap = F.col("n_chars") - F.col("prev_len")
    next_gap = F.col("next_len") - F.col("n_chars")
    pick_prev = prev_gap <= next_gap
    return seq.filter(F.col("is_eval") == 1).select(
        F.col("doc_id").alias("eval_doc"),
        "source",
        F.col("n_chars").alias("eval_len"),
        F.when(F.col("next_id").isNull(), F.col("prev_id"))
        .when(F.col("prev_id").isNull(), F.col("next_id"))
        .when(pick_prev, F.col("prev_id"))
        .otherwise(F.col("next_id"))
        .alias("control_doc"),
        F.when(F.col("next_id").isNull(), prev_gap)
        .when(F.col("prev_id").isNull(), next_gap)
        .when(pick_prev, prev_gap)
        .otherwise(next_gap)
        .alias("len_gap"),
    )


# -- boilerplate_lines --------------------------------------------------------

# Fixture gates for the synthesized line structure (FIXTURES.md):
# coprime with the 20-way source assignment (doc_id % 20) so each gate
# selects a ~uniform fraction WITHIN every source — a mod-2 or mod-4
# gate would be all-or-nothing per source.
_BP_SUB_MOD = 3  # "subscribe" line: ~1/3 of each source (boilerplate)
_BP_PARTNER_MOD = 7  # "partner" line: ~1/7 of each source (below threshold)


@query(
    "boilerplate_lines",
    oracle=f"""
    WITH seeded AS (
      SELECT doc_id, source,
             text || chr(10) || 'copyright ' || source
                  || ' all rights reserved'
                  || CASE WHEN doc_id % {_BP_SUB_MOD} = 0
                       THEN chr(10) || 'subscribe to the ' || source
                            || ' newsletter' ELSE '' END
                  || CASE WHEN doc_id % {_BP_PARTNER_MOD} = 0
                       THEN chr(10) || 'visit our partner site today'
                       ELSE '' END
                  || chr(10) || 'promo code '
                  || CAST(doc_id AS VARCHAR) AS t
      FROM documents
    ),
    doc_lines AS (
      SELECT source,
             unnest(list_distinct(list_filter(
               list_transform(string_split(t, chr(10)),
                 x -> trim(regexp_replace(lower(x), '\\s+', ' ', 'g'))),
               x -> x <> ''))) AS line
      FROM seeded
    ),
    per_line AS (
      SELECT source, line, COUNT(*) AS cnt_docs
      FROM doc_lines GROUP BY 1, 2
    ),
    src AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1)
    SELECT p.source,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_lines,
           CAST(COUNT(*) FILTER (WHERE cnt_docs * 4 >= n_docs)
                AS BIGINT) AS n_boilerplate_lines,
           CAST(COALESCE(SUM(cnt_docs)
                  FILTER (WHERE cnt_docs * 4 >= n_docs), 0)
                AS BIGINT) AS boilerplate_occurrences,
           CAST(SUM(cnt_docs) AS BIGINT) AS total_occurrences,
           CAST(CAST(COALESCE(SUM(cnt_docs * length(line))
                       FILTER (WHERE cnt_docs * 4 >= n_docs), 0)
                     AS HUGEINT) * 1000000
                // CAST(SUM(cnt_docs * length(line)) AS HUGEINT)
                AS BIGINT) AS boilerplate_char_ppm
    FROM per_line p JOIN src USING (source)
    GROUP BY p.source
    """,
    doc="Line-frequency boilerplate detection (the CCNet / web-corpus "
    "cleaning pass): split each document into lines, normalize "
    "(lower, squash whitespace), dedup per doc, and flag any line "
    "appearing in >=25% of its source's documents as boilerplate. "
    "The fixture appends a per-source copyright footer (every doc), "
    f"a subscribe line (doc_id%{_BP_SUB_MOD}==0, ~33% — flagged), a "
    f"partner plug (doc_id%{_BP_PARTNER_MOD}==0, ~14% — correctly "
    "below threshold), and a unique promo line (never flagged); the "
    "original text is one unique content line. Output per source: "
    "distinct/boilerplate line counts, occurrence counts, and the "
    "removable-character share in exact integer ppm.",
)
def boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: per-doc line dedup is MAP-SIDE (array_distinct on
    the per-doc line array — no doc-keyed shuffle), so the only
    corpus-scale exchange is the (source, line)-keyed count, which is
    exactly the shuffle a 100 TB CCNet pass must pay and benefits
    from map-side partial aggregation. The per-source doc-count frame
    is |sources| rows and broadcast; the final per-source rollup
    aggregates the already line-distinct frame onto |sources| keys
    with map-side partials. Threshold math is integer (cnt*4 >=
    n_docs), ppm via the exact DECIMAL DIV idiom."""
    d = _t(spark, sf_dir, "documents")["documents"]
    seeded = F.concat(
        F.col("text"),
        F.lit("\ncopyright "),
        F.col("source"),
        F.lit(" all rights reserved"),
        F.when(
            F.col("doc_id") % _BP_SUB_MOD == 0,
            F.concat(
                F.lit("\nsubscribe to the "),
                F.col("source"),
                F.lit(" newsletter"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % _BP_PARTNER_MOD == 0,
            F.lit("\nvisit our partner site today"),
        ).otherwise(F.lit("")),
        F.lit("\npromo code "),
        F.col("doc_id").cast("string"),
    )
    lines_arr = F.array_distinct(
        F.filter(
            F.transform(
                F.split(seeded, "\n"),
                lambda x: F.trim(F.regexp_replace(F.lower(x), r"\s+", " ")),
            ),
            lambda x: x != "",
        )
    )
    per_line = (
        fan_out(d.select("doc_id", "source", "text"))
        .select("source", F.explode(lines_arr).alias("line"))
        .groupBy("source", "line")
        .agg(F.count("*").alias("cnt_docs"))
    )
    src = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    flagged = F.col("cnt_docs") * 4 >= F.col("n_docs")
    line_chars = F.col("cnt_docs") * F.length("line")
    return (
        per_line.join(F.broadcast(src), "source")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_distinct_lines"),
            F.count(F.when(flagged, 1))
            .cast("long")
            .alias("n_boilerplate_lines"),
            F.coalesce(F.sum(F.when(flagged, F.col("cnt_docs"))), F.lit(0))
            .cast("long")
            .alias("boilerplate_occurrences"),
            F.sum("cnt_docs").cast("long").alias("total_occurrences"),
            F.expr(
                "CAST(CAST(COALESCE(SUM(CASE WHEN cnt_docs * 4 >= n_docs"
                " THEN cnt_docs * length(line) END), 0) AS DECIMAL(38,0))"
                " * 1000000 DIV CAST(SUM(cnt_docs * length(line))"
                " AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("boilerplate_char_ppm"),
        )
    )


# -- context_window_waste -----------------------------------------------------

_CTX_LADDER = (32, 128, 512)


@query(
    "context_window_waste",
    oracle=f"""
    WITH per_doc AS (
      SELECT source,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
               AS nt
      FROM documents
    ),
    laddered AS (
      SELECT source, nt, L
      FROM per_doc, unnest([{", ".join(str(x) for x in _CTX_LADDER)}])
           AS u(L)
    )
    SELECT source, CAST(L AS BIGINT) AS window_len,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE nt > L) AS BIGINT)
             AS docs_over_limit,
           CAST(CAST(SUM(CASE WHEN nt > L THEN nt - L ELSE 0 END)
                     AS HUGEINT) * 1000000
                // CAST(SUM(nt) AS HUGEINT) AS BIGINT)
             AS truncated_token_ppm,
           CAST(CAST(SUM(L - least(nt, L)) AS HUGEINT) * 1000000
                // CAST(COUNT(*) * L AS HUGEINT) AS BIGINT)
             AS padding_ppm,
           CAST((SUM(nt) + L - 1) // L AS BIGINT) AS windows_concat
    FROM laddered GROUP BY source, L
    """,
    doc="Context-window packing-waste ladder: for each source and "
    f"window length in {_CTX_LADDER}, audit the three packing "
    "strategies a training pipeline chooses between — truncation "
    "(tokens lost beyond L, as ppm of the corpus), one-doc-per-"
    "window padding (pad tokens as ppm of window capacity), and "
    "concat-and-chunk (window count = ceil(total/L), utilization "
    "~100% at the cost of cross-doc attention). Token = whitespace "
    "token (token_count's ws measure). The output is the cost table "
    "that picks the window length and strategy for a data mix.",
)
def context_window_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the ladder is a 3-element literal array exploded
    MAP-SIDE (no join — each doc row fans to |ladder| rows in the
    same task), and the single shuffle is the
    |sources|x|ladder|-key rollup with map-side partials. All
    counters are integer sums; ratios use the DECIMAL DIV idiom
    against HUGEINT-// DuckDB twins."""
    d = fan_out(_t(spark, sf_dir, "documents")["documents"])
    per_doc = d.select(
        "source", word_count("text").cast("long").alias("nt")
    ).select(
        "source",
        "nt",
        F.explode(
            F.array(*[F.lit(x) for x in _CTX_LADDER])
        ).alias("L"),
    )
    nt, L = F.col("nt"), F.col("L")
    return per_doc.groupBy("source", "L").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.count(F.when(nt > L, 1)).cast("long").alias("docs_over_limit"),
        F.expr(
            "CAST(CAST(SUM(CASE WHEN nt > L THEN nt - L ELSE 0 END)"
            " AS DECIMAL(38,0)) * 1000000"
            " DIV CAST(SUM(nt) AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("truncated_token_ppm"),
        F.expr(
            "CAST(CAST(SUM(L - LEAST(nt, L)) AS DECIMAL(38,0)) * 1000000"
            " DIV CAST(COUNT(*) * L AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("padding_ppm"),
        F.expr(
            "CAST((SUM(nt) + L - 1) DIV L AS BIGINT)"
        ).alias("windows_concat"),
    ).select(
        "source",
        F.col("L").cast("long").alias("window_len"),
        "n_docs",
        "docs_over_limit",
        "truncated_token_ppm",
        "padding_ppm",
        "windows_concat",
    )


# -- shard_interleave_audit ---------------------------------------------------

_ILV_SHARDS = 64  # hash-range shards; production scales this with corpus size
_ILV_SHIFT = 2**60 // _ILV_SHARDS  # order keys are 60-bit md5 prefixes


def ilv_okey() -> "Column":
    """The reproducible shuffle key (md5 of ``'shuffle|' || doc_id``)
    — the ONE Spark-side definition shared by the interleave audit,
    the export digest chain (pipeline._export_frame), and the delta
    family's no-text shard derivation (fate_delta._with_shard); its
    SQL twin is the md5_hash60_sql rendering every oracle splices.
    Shard assignment is ``okey DIV _ILV_SHIFT`` everywhere."""
    return md5_hash60(
        F.concat(F.lit("shuffle|"), F.col("doc_id").cast("string"))
    )


@query(
    "shard_interleave_audit",
    oracle=f"""
    WITH ord AS (
      SELECT doc_id, source,
             {md5_hash60_sql("concat('shuffle|', CAST(doc_id AS VARCHAR))")}
               AS okey
      FROM documents
    ),
    seq AS (
      SELECT doc_id, source, okey,
             okey // {_ILV_SHIFT} AS shard_id,
             LAG(source) OVER (PARTITION BY okey // {_ILV_SHIFT}
                               ORDER BY okey, doc_id) AS prev_src
      FROM ord
    ),
    runs AS (
      SELECT *,
             SUM(CASE WHEN prev_src IS NULL OR source <> prev_src
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY shard_id ORDER BY okey, doc_id
                     ROWS UNBOUNDED PRECEDING) AS run_id
      FROM seq
    ),
    run_len AS (
      SELECT shard_id, run_id, COUNT(*) AS len
      FROM runs GROUP BY 1, 2
    ),
    src_n AS (
      SELECT shard_id, source, COUNT(*) AS n_s
      FROM seq GROUP BY 1, 2
    ),
    per_shard AS (
      SELECT shard_id,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN source = prev_src THEN 1 ELSE 0 END)
                  AS BIGINT) AS same_adj
      FROM seq GROUP BY 1
    ),
    expected AS (
      SELECT shard_id, SUM(n_s * (n_s - 1)) AS pairs_same
      FROM src_n GROUP BY 1
    )
    SELECT p.shard_id, p.n_docs, p.same_adj,
           p.same_adj * 1000000 // (p.n_docs - 1) AS obs_same_ppm,
           CAST(e.pairs_same * 1000000 // (p.n_docs * (p.n_docs - 1))
             AS BIGINT) AS exp_same_ppm,
           CAST(p.same_adj * 1000000 // (p.n_docs - 1)
             - e.pairs_same * 1000000 // (p.n_docs * (p.n_docs - 1))
             AS BIGINT) AS excess_ppm,
           CAST((SELECT MAX(len) FROM run_len r
                 WHERE r.shard_id = p.shard_id) AS BIGINT) AS max_run
    FROM per_shard p JOIN expected e USING (shard_id)
    WHERE p.n_docs >= 2
    """,
    doc="Interleave-quality audit of the planned training order: docs "
    "are sequenced by the deterministic md5 shuffle key (the standard "
    "reproducible corpus shuffle), cut into hash-range shards, and "
    "each shard reports its observed adjacent same-source rate "
    "against the EXACT random-permutation expectation "
    "sum(n_s*(n_s-1))/(n*(n-1)) plus the longest same-source run — "
    "the numbers that catch source clumping (loss-spike fuel) before "
    "a 100 TB export ships. Integer ppm floor-division everywhere, "
    "so both engines agree to the digit.",
)
def shard_interleave_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the shuffle key is a map-side md5 projection; all
    three passes (adjacency lag, run segmentation, per-source counts)
    window or group PARTITIONED BY shard_id — embarrassingly
    shard-parallel, no global ordering anywhere (shard count is a
    parameter that production scales with corpus size, keeping
    per-shard frames bounded). Output is |shards| rows."""
    d = _t(spark, sf_dir, "documents")["documents"].select("doc_id", "source")
    okey = ilv_okey()
    seq = d.select(
        "doc_id",
        "source",
        okey.alias("okey"),
    ).withColumn("shard_id", F.expr(f"okey DIV {_ILV_SHIFT}"))
    w = W.partitionBy("shard_id").orderBy("okey", "doc_id")
    seq = maybe_local_checkpoint(
        seq.withColumn("prev_src", F.lag("source").over(w)), eager=False
    )  # three consumers: adjacency rollup, run segmentation, source counts
    runs = seq.withColumn(
        "run_id",
        F.sum(
            F.when(
                F.col("prev_src").isNull() | (F.col("source") != F.col("prev_src")),
                1,
            ).otherwise(0)
        ).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    max_run = (
        runs.groupBy("shard_id", "run_id")
        .agg(F.count(F.lit(1)).alias("len"))
        .groupBy("shard_id")
        .agg(F.max("len").alias("max_run"))
    )
    expected = (
        seq.groupBy("shard_id", "source")
        .agg(F.count(F.lit(1)).alias("n_s"))
        .groupBy("shard_id")
        .agg(F.sum(F.expr("n_s * (n_s - 1)")).alias("pairs_same"))
    )
    per_shard = seq.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("source") == F.col("prev_src"), 1).otherwise(0)
        ).alias("same_adj"),
    )
    return (
        per_shard.join(expected, "shard_id")
        .join(max_run, "shard_id")
        .filter(F.col("n_docs") >= 2)
        .select(
            "shard_id",
            "n_docs",
            "same_adj",
            F.expr("same_adj * 1000000 DIV (n_docs - 1)").alias("obs_same_ppm"),
            F.expr("pairs_same * 1000000 DIV (n_docs * (n_docs - 1))").alias(
                "exp_same_ppm"
            ),
            F.expr(
                "same_adj * 1000000 DIV (n_docs - 1)"
                " - pairs_same * 1000000 DIV (n_docs * (n_docs - 1))"
            ).alias("excess_ppm"),
            "max_run",
        )
    )
