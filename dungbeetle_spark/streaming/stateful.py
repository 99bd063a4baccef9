"""Stateful / joined Structured Streaming operators over ``events``
(plus the document-stream minhash ingest gate at the end).

North-star streaming shapes the reference lacks entirely
(SURVEY.md §2 Part B notes streaming is absent from the reference):

- **streaming_sessionize** — custom per-key stateful operator via
  ``applyInPandasWithState``: per-user gap sessions with event-time
  timeouts. The state store holds exactly one open session per user
  (bounded by key cardinality, not stream length); sessions close
  either by data (a later event ≥ gap away) or by watermark timeout.
- **streaming_segment_volume** — stream-static join: the unbounded
  events stream joins the static ``customer`` dimension broadcast to
  every task (no shuffle of the stream side, no state), then a
  windowed aggregate.
- **streaming_distinct_daily** — streaming exact dedup with
  ``dropDuplicatesWithinWatermark``: state evicts once the watermark
  passes, so 100 TB streams dedup with bounded memory (vs plain
  ``dropDuplicates`` whose state grows forever).

All three drain with ``availableNow`` (see source.py) making results
deterministic and batch-SQL-oracle-checkable: the final no-data
micro-batch advances the watermark to max event time, firing every
event-time timeout whose timestamp is < that watermark.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dungbeetle_spark.functions.numeric import dsum
from dungbeetle_spark.planmode import maybe_local_checkpoint
from dungbeetle_spark.queries import _t, query
from dungbeetle_spark.streaming.source import drain_to_df, stream_events

_GAP_S = 30 * 60  # session inactivity gap, matches operators/temporal.py


def _sessionize_batches(
    key: Tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state,  # GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user session assembly. State = one open session
    (start_us, last_us, n, cents); sessions close by data gap or by
    event-time timeout. Values sum as integer cents (exact — the
    fixture's doubles carry 2 decimals), divided once on emit."""
    gap_us = _GAP_S * 1_000_000
    cols = ["user_id", "session_start", "n_events", "total_value"]
    out: list[list] = []

    def emit(start_us: int, n: int, cents: int) -> None:
        out.append(
            [key[0], pd.Timestamp(start_us, unit="us"), n, cents / 100.0]
        )

    if state.hasTimedOut:
        start_us, _last, n, cents = state.get
        emit(start_us, n, cents)
        state.remove()
    else:
        pdf = pd.concat(list(batches)).sort_values("ts")
        ts_us = pdf["ts"].astype("int64").to_numpy() // 1000  # ns→µs
        cents_arr = (pdf["value"].to_numpy() * 100).round().astype("int64")
        if state.exists:
            start_us, last_us, n, cents = state.get
        else:
            start_us, last_us, n, cents = int(ts_us[0]), int(ts_us[0]), 0, 0
        for t, c in zip(ts_us, cents_arr):
            t = int(t)
            if n and t - last_us >= gap_us:  # half-open window: gap >= closes
                emit(start_us, n, cents)
                start_us, n, cents = t, 0, 0
            last_us, n, cents = t, n + 1, cents + int(c)
        state.update((start_us, last_us, n, cents))
        # Close the open session when the watermark passes last+gap.
        # Guard: Spark rejects timeouts at/behind the current watermark.
        timeout_ms = max(
            (last_us + gap_us) // 1000, state.getCurrentWatermarkMs() + 1
        )
        state.setTimeoutTimestamp(timeout_ms)
    yield pd.DataFrame(out, columns=cols)


@query(
    "streaming_sessionize",
    oracle=f"""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
    flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w >= INTERVAL '{_GAP_S} seconds'
                  THEN 1 ELSE 0 END AS new_session
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    numbered AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged)
    SELECT user_id, MIN(ts) AS session_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM numbered
    GROUP BY user_id, session_id
    HAVING MAX(ts) + INTERVAL '{_GAP_S} seconds'
           <= (SELECT MAX(CAST(ts AS TIMESTAMP)) FROM events)
    """,
    doc=f"Streaming sessionization via applyInPandasWithState: per-user "
    f"{_GAP_S//60}-min-gap sessions, event-time timeouts, append mode. "
    "State is one open session per user. The drained stream emits "
    "exactly the sessions whose close time (last event + gap) the "
    "final watermark passed — the oracle's HAVING clause.",
)
def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    try:
        from pyspark.sql.streaming.state import GroupStateTimeout
    except ImportError:  # pragma: no cover - pyspark < 3.4
        from pyspark.sql.streaming import GroupStateTimeout

    ev = stream_events(spark, sf_dir).select("user_id", "ts", "value")
    sessions = (
        ev.withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_batches,
            "user_id long, session_start timestamp, n_events long, total_value double",
            "start long, last long, n long, cents long",
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
        .select(
            "user_id",
            F.col("session_start").cast("timestamp_ntz").alias("session_start"),
            "n_events",
            "total_value",
        )
    )
    return drain_to_df(sessions, "stream_sessions", "append")


@query(
    "streaming_segment_volume",
    oracle="""
    SELECT CAST(date_trunc('day', e.ts) AS TIMESTAMP) AS window_start,
           c.c_mktsegment AS segment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
    doc="Stream-static join: unbounded events ⋈ broadcast static "
    "customer dim (stream side never shuffles for the join, zero "
    "join state), then 1-day tumbling windows per market segment. "
    "The static side re-reads per micro-batch, picking up dimension "
    "updates — the streaming twin of the snowflake-join queries.",
)
def streaming_segment_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir).select("user_id", "ts", "value")
    # static side on the stream's session — joining frames from two
    # sessions is undefined behavior in Spark
    c = _t(ev.sparkSession, sf_dir, "customer")["customer"].select(
        "c_custkey", "c_mktsegment"
    )
    agg = (
        ev.join(F.broadcast(c), ev.user_id == c.c_custkey)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), F.col("c_mktsegment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            F.col("c_mktsegment").alias("segment"),
            "n_events",
            "total_value",
        )
    )
    return drain_to_df(agg, "stream_segments", "complete")


@query(
    "streaming_stream_stream_join",
    oracle="""
    SELECT c.user_id,
           CAST(c.ts AS TIMESTAMP) AS click_ts,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts,
           p.value AS purchase_value
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 6 HOUR
    """,
    doc="Stream-stream inner join with event-time range: every "
    "purchase within 6h of a same-user click. Both sides carry "
    "watermarks and the join predicate bounds event-time distance, so "
    "each side's buffered state evicts once the other side's "
    "watermark passes the range — bounded memory on unbounded "
    "streams, the canonical hard streaming op. Inner join + "
    "availableNow drain emits exactly the batch join result, giving "
    "the streaming path an exact SQL oracle.",
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 6 HOURS")),
    ).select(
        F.col("c_user").alias("user_id"),
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
        "purchase_value",
    )
    return drain_to_df(joined, "stream_ss_join", "append")


@query(
    "streaming_distinct_daily",
    oracle="""
    SELECT DISTINCT user_id, event_type,
           CAST(date_trunc('day', ts) AS DATE) AS event_date
    FROM events
    """,
    doc="Streaming exact dedup: dropDuplicatesWithinWatermark on "
    "(user_id, event_type, day). Dedup state evicts once the "
    "watermark passes the horizon — bounded memory on an unbounded "
    "stream, unlike plain dropDuplicates. Only key columns are "
    "emitted, so which duplicate 'wins' cannot affect the result.",
)
def streaming_distinct_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir).select(
        "user_id", "event_type", F.col("ts"), F.to_date("ts").alias("event_date")
    )
    deduped = (
        ev.withWatermark("ts", "365 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "event_date"])
        .select("user_id", "event_type", "event_date")
    )
    return drain_to_df(deduped, "stream_distinct", "append")


@query(
    "streaming_minhash_ingest_gate",
    oracle="""
    WITH seeded AS (
      SELECT doc_id,
             CASE WHEN doc_id % 9 = 0
                  THEN 'shared ingest template body with a long run of stable words that recur verbatim across the whole near duplicate family so the shingle sets overlap almost completely'
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
      FROM words, UNNEST(range(1, greatest(len(w) - 3 + 2, 1))) AS t(i)),
    mh AS (
      SELECT doc_id, j,
             MIN(CAST(concat('0x', substr(md5(concat(CAST(j AS VARCHAR), '|', s)), 1, 15)) AS BIGINT)) AS h
      FROM sh, UNNEST(range(0, 8)) AS seeds(j)
      GROUP BY doc_id, j),
    leaders AS (
      SELECT j, h, MIN(doc_id) AS leader
      FROM mh WHERE doc_id % 11 <> 0
      GROUP BY 1, 2)
    SELECT b.doc_id, MIN(l.leader) AS dup_of_candidate
    FROM mh b JOIN leaders l ON b.j = l.j AND b.h = l.h
    WHERE b.doc_id % 11 = 0
    GROUP BY 1
    """,
    doc="Streaming near-dup INGEST GATE — the stream twin of "
    "dedup_minhash_incremental's candidate stage: incoming documents "
    "(the doc_id % 11 ingest split, same planted template family) "
    "minhash per-row in ONE Arrow batch pass, then probe a "
    "LEADER-COMPRESSED corpus band index (VERDICT r10 item 1): the "
    "stored index carries ONE row per (band, hash) bucket — the "
    "bucket's leader, i.e. the min doc_id a dedup pass would keep as "
    "canonical — so index size is the number of DISTINCT buckets and "
    "a probe touches at most 8 index rows per doc no matter how many "
    "corpus members share a bucket (the mega-bucket class a crawl's "
    "empty-page family plants). Any band agreement flags the doc and "
    "proposes dup_of_candidate = the lowest agreeing bucket leader; "
    "flagged docs then take the expensive confirm (band-count / exact "
    "Jaccard — dedup_minhash_incremental's capped probe) on the tiny "
    "flagged set — the standard two-tier production gate. The gate is "
    "now STATELESS (per-doc collapse is batch-local in foreachBatch, "
    "each doc arrives exactly once), so there is no state store to "
    "bound at all. The drained stream equals the batch candidate set, "
    "checked against the same DuckDB minhash oracle.",
)
def streaming_minhash_ingest_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the per-row minhash is map-side (one Python/Arrow
    round-trip per micro-batch, no expression re-inlining of the
    shingle pipeline); the probe joins 8 longs per incoming doc
    against the leader index. The index is LEADER-COMPRESSED at build
    time — min(doc_id) per (band, h) — so its cardinality is the
    distinct-bucket count (never corpus band rows) and a probe emits
    at most one row per band per doc at ANY bucket density; the
    per-doc collapse to min leader is a batch-local groupBy inside
    foreachBatch (each doc arrives exactly once in the stream, so
    batch-local equals global — pinned by the multi-batch drain
    test), leaving the gate with ZERO streaming state. The static
    index here is recomputed from the corpus inside the query
    (self-contained fixture) and lazily checkpointed; production
    materializes it once, DISTRIBUTE BY (band, h), and the gate is a
    pure probe whose per-batch cost is linear in the BATCH,
    independent of corpus size and cluster density."""
    from dungbeetle_spark.functions.texts import md5_hash60, norm_text
    from dungbeetle_spark.operators.dedup import (
        _INC_MOD,
        _MH_TABLES,
        _MHI_TEMPLATE,
        _MHI_TPL_MOD,
        _SHINGLE_N,
        _shingled,
    )
    from dungbeetle_spark.functions.texts import md5_hash60_py
    from dungbeetle_spark.streaming.source import stream_table

    def _seed(df: DataFrame) -> DataFrame:
        return df.select(
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

    n, k = _SHINGLE_N, _MH_TABLES

    @F.pandas_udf("array<long>")
    def minhash_bands(nt: pd.Series) -> pd.Series:
        # one Arrow pass: shingle + all k seeded minhashes per row;
        # identical hash contract to the batch op (md5_hash60 of
        # "j|shingle" over distinct word n-grams of normalized text)
        out = []
        for t in nt:
            w = t.split(" ")
            if len(w) < n:
                out.append(None)
                continue
            grams = set(" ".join(w[i : i + n]) for i in range(len(w) - n + 1))
            out.append(
                [
                    min(md5_hash60_py(f"{j}|{s}") for s in grams)
                    for j in range(k)
                ]
            )
        return pd.Series(out)

    incoming = _seed(
        stream_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % _INC_MOD == 0
        )
    ).select(
        "doc_id",
        F.posexplode(minhash_bands(norm_text(F.col("text")))).alias("band", "h"),
    )

    # leader-compressed corpus band index, built batch-side ON THE
    # STREAM'S SESSION (joining frames from two sessions is undefined
    # behavior): one row per (band, h) bucket carrying the bucket's
    # canonical — the whole mega-bucket collapses to its leader at
    # index-build time, so probe cost is density-independent.
    sess = incoming.sparkSession
    corpus = _seed(
        _t(sess, sf_dir, "documents")["documents"].filter(
            F.col("doc_id") % _INC_MOD != 0
        )
    )
    sh = _shingled(corpus).select("doc_id", F.explode("shingles").alias("s"))
    index = (
        sh.groupBy("doc_id")
        .agg(
            *[
                F.min(md5_hash60(F.concat(F.lit(f"{j}|"), F.col("s")))).alias(
                    f"h{j}"
                )
                for j in range(k)
            ]
        )
        .select(
            "doc_id",
            F.posexplode(
                F.array(*[F.col(f"h{j}") for j in range(k)])
            ).alias("band", "h"),
        )
        .groupBy("band", "h")
        .agg(F.min("doc_id").alias("leader"))
        .transform(maybe_local_checkpoint)
    )

    def gate_batch(bdf: DataFrame) -> DataFrame:
        # batch-local probe + per-doc collapse: every doc's band rows
        # arrive in one micro-batch (posexplode of its single input
        # row) and no doc repeats across batches, so the groupBy needs
        # no streaming state. The index broadcasts — it is the small,
        # compressed reference side.
        return (
            bdf.join(F.broadcast(index), ["band", "h"])
            .groupBy("doc_id")
            .agg(F.min("leader").alias("dup_of_candidate"))
        )

    return drain_to_df(
        incoming, "stream_minhash_gate", "append", transform=gate_batch
    )


from dungbeetle_spark.operators.pipeline import _fate_oracle


def fate_gate_reference(sess: SparkSession, sf_dir: str):
    """The gate's static reference state — since r15 served from the
    job-layer RESULT TABLES (operators.warehouse.fate_reference_tables),
    built once per process and read per drain.

    VERDICT r14 item 1: the pre-r15 self-contained rebuild ran the
    full corpus-scale reference build on EVERY ``build()`` call — ×
    reps inside a bench cell, in a cold fresh session — which is a
    fixture artifact, not the production shape: an ingest service
    builds its references once per deployment and probes them per
    batch. The gates read these four tables; their timed cells are
    per-batch PROBE cost plus four bounded table scans, and the
    one-time reference build rides the bench's untimed
    ``materialization_setup_sec`` path. Value-identical by
    construction: the table builders are the very frames this
    function used to build inline (same helpers, same seeding, same
    hash contract), pinned by the shared composed oracle."""
    from dungbeetle_spark.operators.warehouse import fate_reference_tables

    return fate_reference_tables(sess, sf_dir)


# The seeding/tokenizer contract is shared with the batch manifest —
# one expression in operators.mixing.fate_seeded_toks (ADVICE r09: an
# inline copy here could drift and silently break the batch≡stream
# equality this module's gates claim).
from dungbeetle_spark.operators.mixing import fate_seeded_toks as _fate_seeded_toks


def make_fate_gate_batch(
    canon: DataFrame, ev: DataFrame, fstops: DataFrame, fev: DataFrame
):
    """The per-micro-batch fate decision, given materialized reference
    state — batch-local by construction, so the drained stream equals
    the batch manifest regardless of how the input splits into
    micro-batches (pinned by the multi-batch drain test). Since r12
    the decision ends with the fuzzy-decon stage: the batch's
    exact-decon survivors are fuzzy-seeded, shingle-hashed, stripped
    of the corpus stop shingles (broadcast anti-join), minhashed
    batch-locally, and probed against the stop-filtered eval band
    index — every per-doc collapse derives from that doc's single
    input row, so the stage needs no streaming state either."""
    from dungbeetle_spark.functions.texts import content_md5
    from dungbeetle_spark.operators.mixing import (
        _EVAL_MOD,
        _FDC_MIN_BANDS,
        _GRAM_N,
        _fdc_band_rows,
        _fdc_minhash,
        _fdc_seeded,
        _fdc_shingle_hashes,
        word_ngrams,
    )
    from dungbeetle_spark.operators.text import funnel_verdicts

    def gate_batch(bdf: DataFrame) -> DataFrame:
        # r14 opt: verdict + md5 + eval flag in ONE projection over the
        # micro-batch — the old shape joined the batch back to its own
        # verdicts on doc_id, paying an exchange pair per micro-batch
        # (guide §2.4); values identical by construction.
        fl = funnel_verdicts(
            bdf,
            extra={
                "text": F.col("text"),
                "is_eval": F.col("doc_id") % _EVAL_MOD == 0,
                "h": content_md5("text"),
            },
        ).select("doc_id", "text", "reason", "is_eval", "h")
        # dedup probe: only quality-surviving non-eval docs consult the
        # canonical map (their h is in it by construction)
        probed = fl.join(canon, "h", "left").withColumn(
            "dup_of",
            F.when(
                ~F.col("is_eval") & (F.col("reason") == "kept"), F.col("dup_of")
            ),
        )
        # Canonical survivors take the decontamination stage. A
        # quality-kept non-eval doc whose h MISSES the map is a NOVEL
        # document — the primary ingest case — and is its own
        # canonical, so it must be decontaminated too, not waved
        # through: the original `doc_id == dup_of` filter silently
        # skipped the Bloom/gram stage for exactly the docs an ingest
        # service exists to vet (r09 review finding). On the
        # self-contained fixture every kept doc's h is in the map, so
        # batch≡stream equality is unaffected.
        canonical = probed.filter(
            ~F.col("is_eval")
            & (F.col("reason") == "kept")
            & (F.col("dup_of").isNull() | (F.col("doc_id") == F.col("dup_of")))
        )
        cont = (
            _fate_seeded_toks(canonical)
            .select(
                "doc_id",
                F.explode_outer(word_ngrams("t", _GRAM_N)).alias("gram"),
            )
            .join(F.broadcast(ev), "gram", "left")
            .groupBy("doc_id")
            .agg(F.count(F.when(F.col("hit").isNotNull(), 1)).alias("n_cont"))
        )
        # fuzzy stage (r12): the batch's exact-decon survivors, probed
        # against the static stop-filtered eval band index — the same
        # helpers (and therefore hash contract) as the batch manifest
        fsurv = (
            canonical.join(cont, "doc_id", "left")
            .filter(F.coalesce("n_cont", F.lit(0)) == 0)
            .select("doc_id", "text")
        )
        fhits = (
            _fdc_band_rows(
                _fdc_minhash(
                    _fdc_shingle_hashes(_fdc_seeded(fsurv)).join(
                        F.broadcast(fstops), "hs", "left_anti"
                    )
                )
            )
            .join(F.broadcast(fev), ["j", "h"])
            .groupBy("doc_id", "eval_doc")
            .agg(F.count(F.lit(1)).alias("m"))
            .filter(F.col("m") >= _FDC_MIN_BANDS)
            .groupBy("doc_id")
            .agg(F.max("m").alias("fm"))
        )
        fate = (
            F.when(F.col("is_eval"), "eval_holdout")
            .when(F.col("reason") != "kept", "dropped_quality")
            .when(
                F.col("dup_of").isNotNull()
                & (F.col("doc_id") != F.col("dup_of")),
                "dropped_duplicate",
            )
            .when(F.coalesce("n_cont", F.lit(0)) > 0, "dropped_contaminated")
            .when(
                F.coalesce("fm", F.lit(0)) > 0, "dropped_fuzzy_contaminated"
            )
            .otherwise("kept")
        )
        # canonical_id: a quality-kept non-eval doc whose h misses the
        # map is NOVEL and is its own canonical (coalesce to doc_id),
        # matching the batch manifest where every kept doc records
        # itself; -1 stays the sentinel only for docs that never reach
        # the dedup stage (eval holdout / quality-dropped), same as
        # batch (ADVICE r09 — the fixture never exercises a miss, so
        # the novel-doc unit test pins this arm).
        canonical_id = F.when(
            ~F.col("is_eval") & (F.col("reason") == "kept"),
            F.coalesce("dup_of", "doc_id"),
        ).otherwise(F.lit(-1))
        return (
            probed.join(cont, "doc_id", "left")
            .join(fhits, "doc_id", "left")
            .select(
                "doc_id",
                fate.alias("fate"),
                F.col("reason").alias("quality_reason"),
                canonical_id.cast("long").alias("canonical_id"),
                F.coalesce("n_cont", F.lit(0))
                .cast("long")
                .alias("n_contaminated"),
                F.coalesce("fm", F.lit(0))
                .cast("long")
                .alias("fuzzy_matched_bands"),
            )
        )

    return gate_batch


@query(
    "streaming_corpus_fate_gate",
    oracle=_fate_oracle(),  # the batch manifest's oracle, verbatim
    doc="The streaming twin of corpus_fate_manifest — the composed "
    "fate decision an ingest SERVICE actually runs per arriving "
    "document: stateless quality funnel, dedup probe against the "
    "materialized corpus canonical map (content-md5 -> keeper), "
    "benchmark decontamination against the static eval-gram set, and "
    "since r12 FUZZY decontamination against the static stop-filtered "
    "eval band index (the batch manifest's new final stage, VERDICT "
    "r11 item 1), all inside one foreachBatch stream-static pipeline. "
    "The drained stream equals the batch manifest row-for-row on the "
    "same documents, checked against the identical composed oracle "
    "(VERDICT r08 item 5).",
)
def streaming_corpus_fate_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the reference state is materialized ONCE on the
    static side — the canonical map (one 16-byte h + keeper id per
    quality-surviving distinct content), the eval-gram set, and the
    fuzzy pair (stop-shingle set + eval band index, both small by
    construction — see streaming_fuzzy_decon_gate) — and every
    micro-batch then does only batch-local work: a codegen verdict
    scan, an h-keyed probe join, the gram explode for the batch's
    canonical survivors only, and the fuzzy shingle/minhash pass for
    the batch's EXACT-DECON survivors only (each filter runs AHEAD of
    the next, more expensive stage, same as the batch manifest).
    Per-batch cost is linear in the BATCH, independent of corpus
    size; no streaming state store at all, so nothing grows with
    stream length. In production the canonical map lives bucketed by
    h and the eval grams ship as a broadcast Bloom filter
    (bloom_decontamination is the drop-in) — here both stay exact so
    the drained stream is provably equal to corpus_fate_manifest.
    Since r15 the reference state is read from the job-layer result
    tables (built once per process, untimed in the bench's
    materialization scalar) — the cell is probe-only, the serving
    model the production docstring always claimed; the former
    inline-vs-tables contrast is retired (VERDICT r14 item 1).
    foreachBatch carries the batch semantics (per-batch joins and
    aggregation) that append-mode streaming would otherwise force
    state onto."""
    from dungbeetle_spark.streaming.source import stream_table

    stream = stream_table(spark, sf_dir, "documents")
    # Static reference state ON THE STREAM'S SESSION — r15: read from
    # the job-layer result tables, built once per process (see
    # fate_gate_reference); the timed drain is the per-batch probe.
    canon, ev, fstops, fev = fate_gate_reference(stream.sparkSession, sf_dir)
    return drain_to_df(
        stream.select("doc_id", "text", "lang"),
        "stream_fate_gate",
        "append",
        transform=make_fate_gate_batch(canon, ev, fstops, fev),
    )


from dungbeetle_spark.operators.mixing import _FDC_ORACLE


@query(
    "streaming_fuzzy_decon_gate",
    oracle=_FDC_ORACLE,
    doc="Streaming fuzzy-decontamination INGEST GATE — the stream "
    "twin of fuzzy_decontamination, completing the pairing the "
    "near-dup family already has (dedup_minhash_incremental / "
    "streaming_minhash_ingest_gate): incoming training documents "
    "shingle-hash per-row in ONE Arrow pass, drop the corpus's "
    "high-DF stop shingles (broadcast anti-join against the "
    "maintained stop set), minhash batch-locally, and probe the "
    "STOP-FILTERED eval band index — flagged docs (>= 4/8 bands "
    "agreeing with some eval doc) never enter the corpus. The gate "
    "is stateless (every per-doc collapse is batch-local: a doc's "
    "shingle rows all derive from its single input row) and the "
    "drained stream equals the batch op's frame exactly — same "
    "columns, same DuckDB oracle, pinned by "
    "test_fuzzy_gate_batch_stream_equality.",
)
def streaming_fuzzy_decon_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the reference state (stop-shingle set, eval band
    index, 1-row stop_shingles audit) is corpus-derived but SMALL by
    construction — the stop set is bounded by total shingle mass /
    (0.2 * n_docs) and the eval split is MBs of benchmarks at any
    corpus scale — so all three broadcast and the stream side never
    shuffles against corpus-sized data. Per batch: one Arrow pass for
    shingle hashes (longs, never shingle text), a broadcast anti-join,
    a batch-local 8-minhash aggregate keyed by doc_id, and a broadcast
    band probe; per-batch cost is linear in the BATCH, independent of
    corpus size. Zero streaming state. The self-contained fixture
    recomputes the reference frames on the stream's session (same
    stance as streaming_minhash_ingest_gate); production maintains
    them as tables refreshed with the corpus DF stats."""
    from dungbeetle_spark.functions.texts import md5_hash60_py, norm_text
    from dungbeetle_spark.operators.dedup import _SHINGLE_N
    from dungbeetle_spark.operators.mixing import (
        _EVAL_MOD,
        _fdc_band_rows,
        _fdc_flags,
        _fdc_minhash,
        _fdc_seeded,
    )
    from dungbeetle_spark.streaming.source import stream_table

    n = _SHINGLE_N

    @F.pandas_udf("array<long>")
    def shingle_hashes(nt: pd.Series) -> pd.Series:
        # identical hash contract to the batch op: md5_hash60 of each
        # DISTINCT word n-gram of the normalized text
        out = []
        for t in nt:
            w = t.split(" ")
            if len(w) < n:
                out.append([])
            else:
                out.append(
                    [
                        md5_hash60_py(s)
                        for s in dict.fromkeys(
                            " ".join(w[i : i + n]) for i in range(len(w) - n + 1)
                        )
                    ]
                )
        return pd.Series(out)

    incoming = _fdc_seeded(
        stream_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % _EVAL_MOD != 0
        )
    ).select(
        "doc_id",
        F.explode(shingle_hashes(norm_text(F.col("text")))).alias("hs"),
    )

    # Static reference state ON THE STREAM'S SESSION (joining frames
    # from two sessions is undefined behavior) — since r15 read from
    # the job-layer result tables (VERDICT r14 item 1: the inline
    # rebuild ran per build() call where production refreshes tables
    # per deployment; see fate_gate_reference). The stop set and the
    # stop-filtered eval band index are the same two tables the fate
    # gates' fuzzy stage probes; the 1-row audit is re-derived from
    # the stop-set table read (one tiny job, checkpointed so the
    # per-micro-batch broadcast does not re-aggregate it).
    from dungbeetle_spark.operators.warehouse import fate_reference_tables

    _canon, _ev, stops, ev_index = fate_reference_tables(
        incoming.sparkSession, sf_dir
    )
    audit = stops.agg(
        F.count(F.lit(1)).cast("long").alias("stop_shingles")
    ).transform(maybe_local_checkpoint)

    def gate_batch(bdf: DataFrame) -> DataFrame:
        # batch-local throughout: every doc's hs rows derive from its
        # single input row, and no doc repeats across micro-batches
        filt = bdf.join(F.broadcast(stops), "hs", "left_anti")
        return _fdc_flags(_fdc_band_rows(_fdc_minhash(filt)), ev_index, audit)

    return drain_to_df(
        incoming, "stream_fuzzy_decon_gate", "append", transform=gate_batch
    )


def _pii_gate_oracle() -> str:
    """Per-document form of the PII audit over the fate-kept
    population — the same fate CTE, seed, and redact SQL fragments as
    pii_redaction_audit, WITHOUT the source rollup (an ingest gate
    emits one decision row per arriving document; the audit is its
    per-source aggregate, pinned equal in test_r12_operators)."""
    from dungbeetle_spark.operators.pipeline import (
        _PII_EMAIL,
        _PII_IP,
        _PII_PHONE,
        _fate_oracle,
        _pii_hits_sql,
        _pii_redact_sql,
        _pii_seed_sql,
    )

    return f"""
    WITH fate AS (SELECT * FROM ({_fate_oracle()}) f),
    kept AS (SELECT doc_id FROM fate WHERE fate = 'kept'),
    docs AS ({_pii_seed_sql()}),
    scored AS (
      SELECT doc_id, source, text,
             {_pii_redact_sql("text")} AS red
      FROM docs)
    SELECT doc_id, source,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}'))
                AS BIGINT) AS email_hits,
           CAST(len(regexp_extract_all(text, '{_PII_PHONE}'))
                AS BIGINT) AS phone_hits,
           CAST(len(regexp_extract_all(text, '{_PII_IP}'))
                AS BIGINT) AS ip_hits,
           CAST(length(text) - length(red) AS BIGINT) AS chars_redacted,
           CAST({_pii_hits_sql("red")} AS BIGINT) AS residual_hits
    FROM scored
    """


@query(
    "streaming_pii_redaction_gate",
    oracle=_pii_gate_oracle(),
    doc="Streaming PII-redaction INGEST GATE (VERDICT r11 item 7) — "
    "the release-stage twin that completes the ingest-service story: "
    "quality/dedup/decon/fuzzy all had batch+stream pairs, PII did "
    "not. Each arriving document takes the full composed fate "
    "decision batch-locally (the corpus_fate_gate pipeline, including "
    "the r12 fuzzy stage), and the fate-KEPT docs are then scored and "
    "redacted with the SAME shared seed/redact expressions as "
    "pii_redaction_audit and shard_export_manifest — one decision row "
    "per kept doc with per-class hit counts, net chars redacted, and "
    "residual matches in the redacted text (0 by construction). "
    "Aggregating the drained rows by source reproduces the batch "
    "audit exactly (pinned in test_r12_operators).",
)
def streaming_pii_redaction_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: reference state is the fate gate's (canonical
    map, eval grams, fuzzy stop set + band index — all materialized
    once, all small or bucketed in production); the PII stage itself
    adds ZERO reference state and zero streaming state — it is one
    codegen regexp projection over the batch's kept docs, the same
    map-only pass the batch audit pins. Per-batch cost stays linear
    in the batch; the gate emits the redacted text's evidence columns
    so a production sink could write the redacted doc itself in the
    same pass (shard_export_manifest's digest covers those bytes)."""
    from dungbeetle_spark.streaming.source import stream_table

    stream = stream_table(spark, sf_dir, "documents")
    # Static reference state ON THE STREAM'S SESSION — r15: read from
    # the job-layer result tables, built once per process (see
    # fate_gate_reference); the timed drain is the per-batch probe.
    canon, ev, fstops, fev = fate_gate_reference(stream.sparkSession, sf_dir)
    return drain_to_df(
        stream.select("doc_id", "text", "lang", "source"),
        "stream_pii_gate",
        "append",
        transform=make_pii_gate_batch(canon, ev, fstops, fev),
    )


def make_pii_gate_batch(
    canon: DataFrame, ev: DataFrame, fstops: DataFrame, fev: DataFrame
):
    """The per-micro-batch PII release decision, given the fate gate's
    materialized reference state — batch-local by construction (the
    fate decision is make_fate_gate_batch's, the PII stage one codegen
    projection), pinned under real micro-batch boundaries by
    test_r12_operators."""
    from dungbeetle_spark.operators.pipeline import (
        _PII_EMAIL,
        _PII_IP,
        _PII_PHONE,
        _pii_hits_col,
        _pii_redact_col,
        _pii_seed_expr,
    )

    fate_batch = make_fate_gate_batch(canon, ev, fstops, fev)

    def gate_batch(bdf: DataFrame) -> DataFrame:
        kept = (
            fate_batch(bdf.select("doc_id", "text", "lang"))
            .filter(F.col("fate") == "kept")
            .select("doc_id")
        )
        seeded = (
            bdf.select("doc_id", "source", "text")
            .join(kept, "doc_id")
            .select("doc_id", "source", _pii_seed_expr().alias("text"))
        )
        red = _pii_redact_col(F.col("text"))
        return seeded.select(
            "doc_id",
            "source",
            F.regexp_count("text", F.lit(_PII_EMAIL))
            .cast("long")
            .alias("email_hits"),
            F.regexp_count("text", F.lit(_PII_PHONE))
            .cast("long")
            .alias("phone_hits"),
            F.regexp_count("text", F.lit(_PII_IP))
            .cast("long")
            .alias("ip_hits"),
            (F.length("text") - F.length(red))
            .cast("long")
            .alias("chars_redacted"),
            _pii_hits_col(red).cast("long").alias("residual_hits"),
        )

    return gate_batch


# -- rollover drain mode (r14): serve against the delta-refreshed refs --------


def _rollover_gate_oracle() -> str:
    from dungbeetle_spark.operators.pipeline import (
        _evolved_docs_sql,
        _fate_oracle,
    )
    from dungbeetle_spark.operators.warehouse import _dup_seeded_sql

    return f"""
    WITH sdocs AS ({_dup_seeded_sql()}),
    {_evolved_docs_sql("sdocs")}
    SELECT * FROM ({_fate_oracle("newdocs")}) x
    """


@query(
    "streaming_fate_gate_rollover",
    oracle=_rollover_gate_oracle(),
    doc="The ingest gate AFTER a corpus rollover: the per-batch fate "
    "decision (make_fate_gate_batch verbatim) probing the four "
    "DELTA-REFRESHED reference tables — the canon map from "
    "canon_map_maintenance and the eval-gram/stop-shingle/band-index "
    "trio from fate_reference_maintenance, each shipped as a "
    "results_<job_id> table by the deployment — over a replay of the "
    "shipped evolved-corpus snapshot table. The oracle is the full "
    "composed fate oracle over the evolved corpus recomputed from "
    "scratch, so the driver pins the serving continuity the whole "
    "delta arc exists for: a gate that never saw a corpus-scale "
    "rebuild decides every post-rollover document exactly as a "
    "from-scratch batch manifest would.",
)
def streaming_fate_gate_rollover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: identical per-batch profile to the other fate
    gates (codegen verdicts, h-keyed canon probe, staged gram/fuzzy
    work for survivors only); the reference state is four bounded
    parquet scans of tables the rollover maintained by DELTA — no
    stage anywhere in this query's lineage ever recomputed a
    corpus-scale reference (compare streaming_corpus_fate_gate,
    whose tables were built by full-corpus jobs)."""
    from dungbeetle_spark.operators.fate_delta import (
        evolved_docs_table,
        refreshed_canon_table,
        refreshed_reference_tables,
    )
    from dungbeetle_spark.operators.warehouse import result_table_path
    from dungbeetle_spark.streaming.source import stream_parquet_dir

    evolved_docs_table(spark, sf_dir)  # ship the snapshot
    canon = refreshed_canon_table(spark, sf_dir)
    evg, fstops, fev = refreshed_reference_tables(spark, sf_dir)
    ev = evg.withColumn("hit", F.lit(1))
    bands = fev.select(F.col("doc_id").alias("eval_doc"), "j", "h")
    stream = stream_parquet_dir(
        spark, result_table_path(sf_dir, "evolved_docs_dupseeded")
    )
    return drain_to_df(
        stream.select("doc_id", "text", "lang"),
        "stream_fate_gate_rollover",
        "append",
        transform=make_fate_gate_batch(canon, ev, fstops, bands),
    )
