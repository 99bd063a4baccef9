"""Dataset-assembly operators: decontamination, sketching, mixing.

The last mile of a training-data pipeline (SURVEY.md §2 addendum):
after dedup/quality/curation decide which documents exist, these
assemble the actual training mix — scrub benchmark contamination,
summarize token distributions (exactly and by mergeable sketch), and
hit per-language mixture targets deterministically.

Shared design rules (same contract as operators/curation.py):

- **Determinism is the contract.** Sampling uses md5-prefix integer
  thresholds (identical in Spark and DuckDB), never ``rand()``; hash
  buckets derive from md5 so the oracle can reproduce them bit-for-bit.
- **Broadcast the small side.** Benchmark gram sets and per-language
  rate tables are KBs at any corpus scale — they broadcast; the corpus
  itself never shuffles for membership checks.
- **JVM-side only.** Every operator here is pure column expressions
  inside whole-stage codegen; zero Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from dungbeetle_spark.functions.texts import md5_hash60, md5_hash60_sql, norm_text
from dungbeetle_spark.planmode import maybe_local_checkpoint
from dungbeetle_spark.queries import _t, query
from dungbeetle_spark.sources.catalog import fan_out


def word_ngrams(token_array, n: int):
    """Distinct word n-grams of a token-array column, as one JVM
    expression, built as a zip_with fold over n shifted slices.

    NOT ``transform(sequence(...), i -> slice(t, i, n))``: higher-order
    lambdas evaluate interpreted per ELEMENT, and after Catalyst's
    projection collapse a ``t`` that aliases a tokenize expression is
    inlined INTO the lambda body — the whole-document regex split then
    re-runs once per gram position, O(len^2) per doc. Here ``t`` is
    referenced only in the zip_with ARGUMENTS (evaluated once per row
    per shift) and the lambdas touch nothing but their element
    variables: measured ~5x on the sf0.1 token-bigram pass, output
    byte-identical (r11). Short inputs yield an EMPTY array via the
    ``greatest(..., 0)`` slice-length guard (matching DuckDB's empty
    ``range()``), preserving the old ``when(size >= n)`` contract."""
    t = F.col(token_array) if isinstance(token_array, str) else token_array
    m = F.greatest(F.size(t) - (n - 1), F.lit(0))
    g = F.slice(t, 1, m)
    for k in range(1, n):
        g = F.zip_with(
            g, F.slice(t, k + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.array_distinct(g)

# -- decontamination --------------------------------------------------------

# Eval-set membership: doc_id % 37 == 0 stands in for "this document is
# in a benchmark" (~2.7% of the corpus). Deterministic benchmark
# passages are injected so the overlap machinery is exercised on
# guaranteed hits (the corpus itself has few natural cross-split
# n-gram collisions — same seeding trick as pii_scrub_stats).
_EVAL_MOD = 37
_PLANT_MOD = 10
_GRAM_N = 5


def fate_seeded_toks(df: DataFrame) -> DataFrame:
    """(doc_id, text, ...) → (doc_id, t: array<string>): the
    benchmark-passage seeding + tokenizer contract, in ONE place.

    decontamination, bloom_decontamination, corpus_fate_manifest and
    the streaming fate gate all depend on this exact expression; the
    batch≡stream equality streaming_corpus_fate_gate claims holds only
    while every consumer tokenizes identically, so the expression
    lives here once instead of four inline copies (ADVICE r09). The
    DuckDB oracles carry the same contract as the seeded/toks CTEs."""
    seeded = F.concat(
        F.col("text"),
        F.when(
            (F.col("doc_id") % _EVAL_MOD == 0)
            | (F.col("doc_id") % _PLANT_MOD == 0),
            F.concat(
                F.lit(" benchmark passage k"),
                (F.col("doc_id") % 5).cast("string"),
                F.lit(" alpha beta gamma delta epsilon zeta eta"),
            ),
        ).otherwise(F.lit("")),
    )
    return df.select(
        "doc_id",
        F.filter(
            F.split(F.lower(seeded), r"[^a-z0-9]+"), lambda x: x != ""
        ).alias("t"),
    )


@query(
    "decontamination",
    oracle=f"""
    WITH seeded AS (
        SELECT doc_id,
               text || CASE WHEN doc_id % {_EVAL_MOD} = 0 OR doc_id % {_PLANT_MOD} = 0
                            THEN ' benchmark passage k' || CAST(doc_id % 5 AS VARCHAR)
                                 || ' alpha beta gamma delta epsilon zeta eta'
                            ELSE '' END AS text
        FROM documents
    ),
    toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS t
        FROM seeded
    ),
    grams AS (
        SELECT DISTINCT doc_id, array_to_string(t[i : i + {_GRAM_N - 1}], ' ') AS gram
        FROM toks, unnest(range(1, greatest(len(t) - {_GRAM_N - 1}, 0) + 1)) AS u(i)
    ),
    ev AS (SELECT DISTINCT gram FROM grams WHERE doc_id % {_EVAL_MOD} = 0),
    agg AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN gram IN (SELECT gram FROM ev)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
        FROM grams
        WHERE doc_id % {_EVAL_MOD} <> 0
        GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(a.n_grams, 0) AS n_grams,
           COALESCE(a.n_contaminated, 0) AS n_contaminated,
           COALESCE(a.n_contaminated, 0) > 0 AS is_contaminated
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    WHERE d.doc_id % {_EVAL_MOD} <> 0
    """,
    doc=f"Benchmark decontamination audit: per training document, how "
    f"many of its distinct word {_GRAM_N}-grams also occur in the "
    "held-out eval split (doc_id%37==0; deterministic benchmark "
    "passages planted on both sides so hits are guaranteed non-zero). "
    "Eval gram set broadcasts — the corpus never shuffles for the "
    "membership check.",
)
def decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set overlap detection — the scrub that keeps benchmark
    text out of the training mix.

    Scale shape: the eval side of any real decontamination run is MBs
    (benchmarks) against TBs of corpus, so the distinct eval-gram set
    is built once and **broadcast**; each training document's grams
    are checked map-side. The only shuffle is the per-doc aggregate
    (doc_id-keyed, uniform). n-gramming is JVM ``transform`` over a
    token array inside codegen; no Python anywhere.
    """
    d = _t(spark, sf_dir, "documents")["documents"]
    # fan_out before the gram construction: tokenize + slice + join is
    # the CPU-bound step, and the local single-row-group fixture would
    # otherwise run it on one task (no-op on a real multi-split scan).
    per_doc = fate_seeded_toks(fan_out(d.select("doc_id", "text"))).select(
        "doc_id", F.explode_outer(word_ngrams("t", _GRAM_N)).alias("gram")
    )
    ev = (
        per_doc.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select("gram")
        .where(F.col("gram").isNotNull())
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train = per_doc.filter(F.col("doc_id") % _EVAL_MOD != 0)
    return (
        train.join(F.broadcast(ev), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.col("gram")).alias("n_grams"),
            F.count(F.when(F.col("hit").isNotNull(), 1)).alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_contaminated",
            (F.col("n_contaminated") > 0).alias("is_contaminated"),
        )
    )


# -- bloom_decontamination --------------------------------------------------

# Bloom parameters: m = 2^17 bits stored as 32-bit words in BIGINTs
# (bit 31 is the widest shift either engine needs — no sign-bit games),
# k = 4 md5-derived probe positions per gram. At the sf0.01 eval-gram
# load (~2.5k grams) the per-gram false-positive rate is ~6e-6; the
# fixture filter is CONSTANT-sized by design, so growing the corpus
# raises the measured n_false_pos — which is the point of emitting it.
_BLOOM_M = 131072
_BLOOM_K = 4
_BLOOM_WORD = 32


@query(
    "bloom_decontamination",
    oracle=f"""
    WITH seeded AS (
        SELECT doc_id,
               text || CASE WHEN doc_id % {_EVAL_MOD} = 0 OR doc_id % {_PLANT_MOD} = 0
                            THEN ' benchmark passage k' || CAST(doc_id % 5 AS VARCHAR)
                                 || ' alpha beta gamma delta epsilon zeta eta'
                            ELSE '' END AS text
        FROM documents
    ),
    toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS t
        FROM seeded
    ),
    grams AS (
        SELECT DISTINCT doc_id, array_to_string(t[i : i + {_GRAM_N - 1}], ' ') AS gram
        FROM toks, unnest(range(1, greatest(len(t) - {_GRAM_N - 1}, 0) + 1)) AS u(i)
    ),
    ev AS (SELECT DISTINCT gram FROM grams WHERE doc_id % {_EVAL_MOD} = 0),
    bits AS (
        SELECT DISTINCT
               {md5_hash60_sql(f"CAST(j AS VARCHAR) || ':' || gram")} % {_BLOOM_M} AS pos
        FROM ev, unnest(range(0, {_BLOOM_K})) AS s(j)
    ),
    blocks AS (
        SELECT pos // {_BLOOM_WORD} AS block,
               CAST(bit_or(1::BIGINT << CAST(pos % {_BLOOM_WORD} AS INTEGER))
                    AS BIGINT) AS word
        FROM bits GROUP BY 1
    ),
    train AS (SELECT doc_id, gram FROM grams WHERE doc_id % {_EVAL_MOD} <> 0),
    probes AS (
        SELECT t.doc_id, t.gram,
               {md5_hash60_sql(f"CAST(j AS VARCHAR) || ':' || gram")} % {_BLOOM_M} AS pos
        FROM train t, unnest(range(0, {_BLOOM_K})) AS s(j)
    ),
    phit AS (
        SELECT p.doc_id, p.gram,
               bool_and((COALESCE(b.word, 0)
                         & (1::BIGINT << CAST(p.pos % {_BLOOM_WORD} AS INTEGER)))
                        <> 0) AS bloom_hit
        FROM probes p
        LEFT JOIN blocks b ON b.block = p.pos // {_BLOOM_WORD}
        GROUP BY 1, 2
    ),
    agg AS (
        SELECT g.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN ph.bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_bloom_hits,
               CAST(SUM(CASE WHEN g.gram IN (SELECT gram FROM ev)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_hits
        FROM train g JOIN phit ph ON ph.doc_id = g.doc_id AND ph.gram = g.gram
        GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(a.n_grams, 0) AS n_grams,
           COALESCE(a.n_bloom_hits, 0) AS n_bloom_hits,
           COALESCE(a.n_exact_hits, 0) AS n_exact_hits,
           COALESCE(a.n_bloom_hits, 0) - COALESCE(a.n_exact_hits, 0)
             AS n_false_pos,
           COALESCE(a.n_bloom_hits, 0) > 0 AS bloom_contaminated,
           COALESCE(a.n_exact_hits, 0) > 0 AS is_contaminated,
           COALESCE(a.n_bloom_hits, 0) >= COALESCE(a.n_exact_hits, 0)
             AS no_false_negatives
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    WHERE d.doc_id % {_EVAL_MOD} <> 0
    """,
    doc=f"Bloom-filter decontamination: the eval {_GRAM_N}-gram set "
    f"compiles into a {_BLOOM_M}-bit Bloom filter ({_BLOOM_K} "
    "md5-derived probes per gram, 32-bit words in BIGINT blocks); "
    "every training document's grams are membership-tested against "
    "the filter AND against the exact eval set, emitting per doc the "
    "bloom hit count, the exact hit count, the false-positive "
    "surplus, both contamination flags, and the structural "
    "no-false-negatives guarantee (bloom ⊇ exact — the checked-"
    "sketch discipline: the oracle recomputes every bit of the "
    "filter, so the probabilistic structure is verified exactly).",
)
def bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontamination shape that survives an eval set too large
    to broadcast as raw grams: the filter is CONSTANT-sized (2^17
    bits = 16 KB here) no matter how many benchmarks feed it, and
    rides to every task as ONE broadcast map row — at
    100 TB the corpus-side probe is a pure map-side projection
    ({_BLOOM_K} md5s + {_BLOOM_K} map lookups per gram, all JVM
    codegen, no explode and no per-gram re-aggregation), so the only
    corpus-scale shuffle is the per-doc count rollup. The exact-twin
    join stays only to measure the false-positive surplus; a
    production run drops it and keeps the filter's one-sided
    guarantee. Filter build: |eval grams| × {_BLOOM_K} positions →
    ≤{_BLOOM_M // _BLOOM_WORD} (block, word) rows bit_or-folded with
    map-side partials — the mergeable-sketch property, as SQL."""
    d = _t(spark, sf_dir, "documents")["documents"]
    per_doc = fate_seeded_toks(fan_out(d.select("doc_id", "text"))).select(
        "doc_id", F.explode_outer(word_ngrams("t", _GRAM_N)).alias("gram")
    )

    def _pos(j: int, gram) -> "F.Column":
        return md5_hash60(
            F.concat(F.lit(f"{j}:"), gram)
        ) % _BLOOM_M

    ev = (
        per_doc.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select("gram")
        .where(F.col("gram").isNotNull())
        .distinct()
    )
    bits = ev.select(
        F.explode(
            F.array(*[_pos(j, F.col("gram")) for j in range(_BLOOM_K)])
        ).alias("pos")
    )
    blocks = bits.groupBy(
        F.expr(f"pos DIV {_BLOOM_WORD}").alias("block")
    ).agg(
        F.bit_or(
            F.expr(f"shiftleft(1L, CAST(pos % {_BLOOM_WORD} AS INT))")
        ).alias("word")
    )
    # the whole filter as ONE map row (≤4096 entries, ~64 KB):
    # broadcast-crossed into the corpus so probing is a projection.
    fm = blocks.groupBy().agg(
        F.map_from_entries(F.collect_list(F.struct("block", "word"))).alias("fm")
    )
    train = per_doc.filter(F.col("doc_id") % _EVAL_MOD != 0)
    ev_flag = ev.withColumn("hit", F.lit(1))
    probed = train.crossJoin(F.broadcast(fm))
    # _BLOOM_WORD = 32 = 2^5: block/bit split stays in integer bitwise
    # ops (pos >> 5, pos & 31) — no float division anywhere. The k
    # probe positions materialize as columns so SQL shiftleft can take
    # the bit index as an expression (the PySpark wrapper only accepts
    # a literal shift).
    for j in range(_BLOOM_K):
        probed = probed.withColumn(f"_p{j}", _pos(j, F.col("gram")))
    hits = [
        F.expr(
            f"(coalesce(element_at(fm, shiftright(_p{j}, 5)), 0L)"
            f" & shiftleft(1L, CAST((_p{j} & {_BLOOM_WORD - 1}) AS INT))) != 0L"
        )
        for j in range(_BLOOM_K)
    ]
    bloom_hit = hits[0]
    for h in hits[1:]:
        bloom_hit = bloom_hit & h
    return (
        probed.join(F.broadcast(ev_flag), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.col("gram")).alias("n_grams"),
            F.count(
                F.when(F.col("gram").isNotNull() & bloom_hit, 1)
            ).alias("n_bloom_hits"),
            F.count(F.when(F.col("hit").isNotNull(), 1)).alias("n_exact_hits"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_bloom_hits",
            "n_exact_hits",
            (F.col("n_bloom_hits") - F.col("n_exact_hits")).alias("n_false_pos"),
            (F.col("n_bloom_hits") > 0).alias("bloom_contaminated"),
            (F.col("n_exact_hits") > 0).alias("is_contaminated"),
            (F.col("n_bloom_hits") >= F.col("n_exact_hits")).alias(
                "no_false_negatives"
            ),
        )
    )


# -- epoch_ngram_novelty -----------------------------------------------------

_EPOCHS = 3  # doc_id % 3 stands in for the training-epoch / snapshot id


@query(
    "epoch_ngram_novelty",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id % {_EPOCHS} AS epoch,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS t
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT epoch, array_to_string(t[i : i + {_GRAM_N - 1}], ' ') AS gram
        FROM toks, unnest(range(1, greatest(len(t) - {_GRAM_N - 1}, 0) + 1)) AS u(i)
    ),
    bounds AS (SELECT unnest([1, 2]) AS b),
    bits AS (
        SELECT bo.b,
               {md5_hash60_sql(f"CAST(j AS VARCHAR) || ':' || gram")} % {_BLOOM_M} AS pos
        FROM bounds bo
        JOIN grams g ON g.epoch < bo.b
        CROSS JOIN unnest(range(0, {_BLOOM_K})) AS s(j)
    ),
    blocks AS (
        SELECT b, pos // {_BLOOM_WORD} AS block,
               CAST(bit_or(1::BIGINT << CAST(pos % {_BLOOM_WORD} AS INTEGER))
                    AS BIGINT) AS word
        FROM bits GROUP BY 1, 2
    ),
    probes AS (
        SELECT g.epoch, g.gram,
               {md5_hash60_sql(f"CAST(j AS VARCHAR) || ':' || gram")} % {_BLOOM_M} AS pos
        FROM grams g, unnest(range(0, {_BLOOM_K})) AS s(j)
        WHERE g.epoch > 0
    ),
    phit AS (
        SELECT p.epoch, p.gram,
               bool_and((COALESCE(b.word, 0)
                         & (1::BIGINT << CAST(p.pos % {_BLOOM_WORD} AS INTEGER)))
                        <> 0) AS bloom_seen
        FROM probes p
        LEFT JOIN blocks b ON b.b = p.epoch AND b.block = p.pos // {_BLOOM_WORD}
        GROUP BY 1, 2
    ),
    prior AS (
        SELECT DISTINCT bo.b AS epoch, g.gram
        FROM bounds bo JOIN grams g ON g.epoch < bo.b
    ),
    later AS (
        SELECT ph.epoch,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN pr.gram IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel_exact,
               CAST(SUM(CASE WHEN NOT ph.bloom_seen THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel_bloom
        FROM phit ph
        LEFT JOIN prior pr ON pr.epoch = ph.epoch AND pr.gram = ph.gram
        GROUP BY 1
    ),
    first AS (
        SELECT CAST(0 AS BIGINT) AS epoch,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(COUNT(*) AS BIGINT) AS n_novel_exact,
               CAST(COUNT(*) AS BIGINT) AS n_novel_bloom
        FROM grams WHERE epoch = 0
    ),
    uni AS (SELECT * FROM first UNION ALL SELECT * FROM later)
    SELECT epoch, n_grams, n_novel_exact, n_novel_bloom,
           n_novel_exact * 1000000 // n_grams AS novel_ppm,
           n_novel_bloom <= n_novel_exact AS bloom_one_sided
    FROM uni
    """,
    doc=f"Cross-epoch n-gram novelty (VERDICT r07 item 6b): how much of "
    f"each training epoch's distinct {_GRAM_N}-gram set is NEW versus "
    "everything already trained on (epoch = doc_id % 3 stands in for "
    "the snapshot id). Prior-epoch membership is the bloom_"
    "decontamination machinery verbatim: the union of earlier epochs' "
    f"grams compiles into one {_BLOOM_M}-bit Bloom filter per epoch "
    "boundary, probes are map-side, and the exact anti-join twin "
    "measures the filter's one-sided error (a Bloom false positive "
    "can only UNDERCOUNT novelty, pinned by bloom_one_sided = TRUE). "
    "Integer ppm output — hash-exact cross-engine.",
)
def epoch_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the per-epoch distinct-gram frame is built ONCE
    (one corpus scan + one distinct shuffle) and lazily checkpointed —
    five consumers (two filter builds, two probe sides, the epoch-0
    baseline) branch from it inside one action, so Catalyst cannot
    re-execute the explode+distinct per consumer. Each boundary's
    filter is constant-sized (16 KB) regardless of how many epochs of
    corpus feed it and rides to the probe side as ONE broadcast map
    row; at 100 TB the novelty probe is map-side JVM projection over
    the (epoch, gram) frame, and ONLY the exact-twin join (kept to
    measure the FP surplus, droppable in production) touches the
    prior gram set directly. Output is |epochs| rows."""
    d = _t(spark, sf_dir, "documents")["documents"]
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"[^a-z0-9]+"), lambda x: x != ""
    )
    grams = (
        fan_out(d.select("doc_id", "text"))
        .select((F.col("doc_id") % _EPOCHS).alias("epoch"), toks.alias("t"))
        .select("epoch", F.explode(word_ngrams("t", _GRAM_N)).alias("gram"))
        .distinct()
        .transform(maybe_local_checkpoint, eager=False)
    )

    def _pos(j: int) -> "F.Column":
        return md5_hash60(F.concat(F.lit(f"{j}:"), F.col("gram"))) % _BLOOM_M

    rows = []
    for b in (1, 2):
        prior = grams.filter(F.col("epoch") < b)
        bits = prior.select(
            F.explode(F.array(*[_pos(j) for j in range(_BLOOM_K)])).alias("pos")
        )
        fm = (
            bits.groupBy(F.expr(f"pos DIV {_BLOOM_WORD}").alias("block"))
            .agg(
                F.bit_or(
                    F.expr(f"shiftleft(1L, CAST(pos % {_BLOOM_WORD} AS INT))")
                ).alias("word")
            )
            .groupBy()
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("block", "word"))
                ).alias("fm")
            )
        )
        probe = grams.filter(F.col("epoch") == b).crossJoin(F.broadcast(fm))
        for j in range(_BLOOM_K):
            probe = probe.withColumn(f"_p{j}", _pos(j))
        seen = F.expr(
            f"(coalesce(element_at(fm, shiftright(_p0, 5)), 0L)"
            f" & shiftleft(1L, CAST((_p0 & {_BLOOM_WORD - 1}) AS INT))) != 0L"
        )
        for j in range(1, _BLOOM_K):
            seen = seen & F.expr(
                f"(coalesce(element_at(fm, shiftright(_p{j}, 5)), 0L)"
                f" & shiftleft(1L, CAST((_p{j} & {_BLOOM_WORD - 1}) AS INT))) != 0L"
            )
        prior_g = prior.select("gram").distinct().withColumn("seen_x", F.lit(1))
        rows.append(
            probe.withColumn("bloom_seen", seen)
            .join(F.broadcast(prior_g), "gram", "left")
            .groupBy()
            .agg(
                F.lit(b).cast("long").alias("epoch"),
                F.count(F.lit(1)).alias("n_grams"),
                F.sum(
                    F.when(F.col("seen_x").isNull(), 1).otherwise(0)
                ).alias("n_novel_exact"),
                F.sum(
                    F.when(~F.col("bloom_seen"), 1).otherwise(0)
                ).alias("n_novel_bloom"),
            )
            .select("epoch", "n_grams", "n_novel_exact", "n_novel_bloom")
        )
    first = (
        grams.filter(F.col("epoch") == 0)
        .groupBy()
        .agg(
            F.lit(0).cast("long").alias("epoch"),
            F.count(F.lit(1)).alias("n_grams"),
            F.count(F.lit(1)).alias("n_novel_exact"),
            F.count(F.lit(1)).alias("n_novel_bloom"),
        )
        .select("epoch", "n_grams", "n_novel_exact", "n_novel_bloom")
    )
    uni = first
    for r in rows:
        uni = uni.unionByName(r)
    return uni.select(
        "epoch",
        "n_grams",
        "n_novel_exact",
        "n_novel_bloom",
        F.expr("n_novel_exact * 1000000 div n_grams").alias("novel_ppm"),
        (F.col("n_novel_bloom") <= F.col("n_novel_exact")).alias(
            "bloom_one_sided"
        ),
    )


# -- countmin_sketch --------------------------------------------------------

_CMS_DEPTH = 4
_CMS_WIDTH = 1024


@query(
    "countmin_sketch",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(list_filter(
                   string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''
               )) AS token
        FROM documents
    ),
    cells AS (
        SELECT d,
               ('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || token), 1, 8))::BIGINT
                   % {_CMS_WIDTH} AS bucket
        FROM tok, unnest([0, 1, 2, 3]) AS u(d)
    )
    SELECT CAST(d AS INT) AS depth, CAST(bucket AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM cells
    GROUP BY d, bucket
    """,
    doc=f"CountMin sketch of corpus token frequencies ({_CMS_DEPTH}×"
    f"{_CMS_WIDTH}, md5-derived rows so DuckDB reproduces every cell): "
    "the mergeable bounded-memory summary that answers point frequency "
    "queries at 100 TB where exact heavy_hitters would need the full "
    "vocabulary. Shuffle bounded by sketch size, not corpus size.",
)
def countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the CMS as a relational aggregate.

    Each token contributes one count to one bucket per depth; the
    groupBy(depth, bucket) gets a map-side partial aggregate, so the
    shuffle moves at most depth×width cells per partition regardless
    of corpus size — the textbook mergeable-sketch property, expressed
    as plain SQL. Point estimates (min over depths of the hashed
    cell) are checked against exact counts in tests — CMS never
    underestimates, and overestimates are bounded by N/width.
    """
    d = _t(spark, sf_dir, "documents")["documents"]
    token = F.explode(
        F.filter(F.split(F.lower(F.col("text")), r"[^a-z0-9]+"), lambda x: x != "")
    ).alias("token")
    depth = F.explode(F.array(*[F.lit(i) for i in range(_CMS_DEPTH)])).alias("d")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("d").cast("string"), F.lit(":"), F.col("token"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _CMS_WIDTH
    )
    return (
        fan_out(d.select("doc_id", "text"))
        .select(token)
        .select("token", depth)
        .select(F.col("d").cast("int").alias("depth"), bucket.cast("int").alias("bucket"))
        .groupBy("depth", "bucket")
        .agg(F.count("*").alias("n"))
    )


def cms_estimate(sketch: DataFrame, tokens: DataFrame) -> DataFrame:
    """Point-query the sketch: for each (token) row, min over depths of
    the matching cell — the CMS read path (used by the accuracy test;
    at scale this joins a broadcast token list against the sketch)."""
    probes = tokens.select(
        "token",
        F.explode(F.array(*[F.lit(i) for i in range(_CMS_DEPTH)])).alias("depth"),
    ).select(
        "token",
        F.col("depth").cast("int").alias("depth"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("depth").cast("string"), F.lit(":"), F.col("token")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _CMS_WIDTH
        )
        .cast("int")
        .alias("bucket"),
    )
    return (
        probes.join(F.broadcast(sketch), ["depth", "bucket"], "left")
        .groupBy("token")
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).alias("est"))
    )


# -- dataset_mix_weighted ---------------------------------------------------

# Target language shares of the output mix. The binding language (the
# one whose corpus runs out first relative to its share) is kept
# whole; every other language downsamples deterministically to match.
_MIX_SHARES = {"en": 0.30, "zh": 0.25, "es": 0.20, "de": 0.15, "fr": 0.10}
_MIX_CASE = " ".join(
    f"WHEN '{lang}' THEN {share}" for lang, share in _MIX_SHARES.items()
)


@query(
    "dataset_mix_weighted",
    oracle=f"""
    WITH counts AS (
        SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n,
               CASE lang {_MIX_CASE} END AS share
        FROM documents GROUP BY lang
    ),
    k AS (SELECT MIN(n / share) AS k FROM counts WHERE share IS NOT NULL),
    rates AS (
        SELECT lang,
               CAST(floor(least(k.k * share / n, 1.0) * 65536) AS BIGINT) AS thr
        FROM counts, k WHERE share IS NOT NULL
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN rates r ON d.lang = r.lang
    WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::BIGINT < r.thr
    """,
    doc="Deterministic weighted language mixing: per-language keep "
    "rates computed FROM the data to hit target shares (en .30 / zh "
    ".25 / es .20 / de .15 / fr .10), scaled so the binding language "
    "is kept whole; membership via md5-prefix integer thresholds — "
    "re-ingestion never flips a document's fate. Tiny rate table "
    "broadcasts; the corpus is filtered scan-parallel.",
)
def dataset_mix_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture construction — the 'data recipe' step of LLM training.

    Scale: per-language counts are one map-side-combined aggregate
    (output = #languages rows); the rate table is a broadcast join;
    the keep decision is a pure per-row filter on md5(doc_id). No
    corpus shuffle at any size. The identical expression tree runs in
    DuckDB, so thresholds match bit-for-bit.
    """
    d = _t(spark, sf_dir, "documents")["documents"]
    share = None
    for lang, s in _MIX_SHARES.items():
        share = (
            F.when(F.col("lang") == lang, F.lit(s))
            if share is None
            else share.when(F.col("lang") == lang, F.lit(s))
        )
    counts = (
        d.groupBy("lang")
        .agg(F.count("*").cast("double").alias("n"))
        .withColumn("share", share)
        .filter(F.col("share").isNotNull())
    )
    k = counts.select(F.min(F.col("n") / F.col("share")).alias("k"))
    rates = counts.crossJoin(F.broadcast(k)).select(
        "lang",
        F.floor(
            F.least(F.col("k") * F.col("share") / F.col("n"), F.lit(1.0)) * 65536
        )
        .cast("long")
        .alias("thr"),
    )
    prefix = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("long")
    return (
        d.select("doc_id", "lang")
        .join(F.broadcast(rates), "lang")
        .filter(prefix < F.col("thr"))
        .select("doc_id", "lang")
    )


# -- dataset_mix_temperature ------------------------------------------------


@query(
    "dataset_mix_temperature",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source,
               CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                    x -> x <> '')) AS BIGINT) AS n_tok
        FROM documents
    ),
    counts AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               CAST(floor(sqrt(CAST(SUM(n_tok) AS DOUBLE))) AS BIGINT) AS w
        FROM toks GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
               CAST(SUM(w) AS BIGINT) AS tot_w,
               MIN(CAST(n_tokens AS DOUBLE) / w) AS k
        FROM counts
    ),
    rates AS (
        SELECT c.source, c.n_docs, c.n_tokens,
               c.n_tokens * 1000000 // t.tot_tokens AS natural_ppm,
               c.w * 1000000 // t.tot_w AS temp_ppm,
               CAST(floor(least(t.k * c.w / c.n_tokens, 1.0) * 65536)
                    AS BIGINT) AS thr
        FROM counts c, tot t
    )
    SELECT r.source, r.n_docs, r.n_tokens, r.natural_ppm, r.temp_ppm, r.thr,
           CAST(COUNT(*) FILTER (WHERE
                ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::BIGINT
                < r.thr) AS BIGINT) AS n_sampled
    FROM rates r JOIN documents d ON d.source = r.source
    GROUP BY 1, 2, 3, 4, 5, 6
    """,
    doc="Temperature-scaled source mixing (T=2, the multilingual-LM "
    "standard): per-source sampling weights ∝ sqrt(token count) — "
    "floor(sqrt()) keeps every weight an exact int64, so shares are "
    "exact ppm via integer DIV and the whole audit is bit-stable "
    "cross-engine. Emits per source: doc/token counts, the natural "
    "share, the temperature share, the 16-bit md5 keep threshold "
    "(binding source kept whole, same construction as "
    "dataset_mix_weighted), and the realized sampled-doc count. "
    "Downsampling only — the repeat/epoch side of the recipe lives "
    "in source_epoch_allocation.",
)
def dataset_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: token counting is a map-side projection folded
    into ONE source-keyed aggregate (|sources| output rows); the
    weight/threshold table is catalog-sized and broadcasts back onto
    the corpus for the membership count — the second corpus pass is a
    scan + broadcast join + filtered count, no corpus shuffle
    anywhere (the only exchanges carry |sources| rows). At 100 TB
    both passes are embarrassingly parallel scans; the md5-threshold
    membership means re-ingestion never flips a document's fate."""
    d = _t(spark, sf_dir, "documents")["documents"]
    n_tok = F.size(
        F.filter(F.split(F.lower(F.col("text")), r"[^a-z0-9]+"), lambda x: x != "")
    ).cast("long")
    counts = (
        fan_out(d.select("doc_id", "source", "text"))
        .select("source", n_tok.alias("n_tok"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
        .withColumn(
            "w", F.floor(F.sqrt(F.col("n_tokens").cast("double"))).cast("long")
        )
    )
    tot = counts.select(
        F.sum("n_tokens").alias("tot_tokens"),
        F.sum("w").alias("tot_w"),
        F.min(F.col("n_tokens").cast("double") / F.col("w")).alias("k"),
    )
    rates = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr("n_tokens * 1000000 DIV tot_tokens").alias("natural_ppm"),
        F.expr("w * 1000000 DIV tot_w").alias("temp_ppm"),
        F.floor(
            F.least(F.col("k") * F.col("w") / F.col("n_tokens"), F.lit(1.0))
            * 65536
        )
        .cast("long")
        .alias("thr"),
    )
    prefix = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("long")
    return (
        d.select("doc_id", "source")
        .join(F.broadcast(rates), "source")
        .groupBy("source", "n_docs", "n_tokens", "natural_ppm", "temp_ppm", "thr")
        .agg(
            F.count(F.when(prefix < F.col("thr"), 1)).alias("n_sampled")
        )
    )


# -- token_length_histogram -------------------------------------------------


@query(
    "token_length_histogram",
    oracle="""
    WITH counted AS (
        SELECT lang,
               len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
                   AS n_tokens
        FROM documents
    )
    SELECT lang,
           CAST(floor(log2(n_tokens + 1)) AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
    FROM counted
    GROUP BY lang, bucket
    """,
    doc="Per-language log2-bucketed histogram of document token "
    "lengths — the length-distribution audit run before choosing "
    "chunking/packing budgets. Pure two-key aggregate, map-side "
    "combined; output bounded by langs × ~16 buckets.",
)
def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length distribution summary (scan-parallel, no Python)."""
    from dungbeetle_spark.functions.texts import word_count

    d = _t(spark, sf_dir, "documents")["documents"]
    n = word_count("text")
    return (
        d.select("lang", n.alias("n_tokens"))
        .groupBy(
            "lang",
            F.floor(F.log2(F.col("n_tokens") + 1)).cast("int").alias("bucket"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_tokens").cast("long").alias("min_tokens"),
            F.max("n_tokens").cast("long").alias("max_tokens"),
        )
    )


# -- DSIR-style hashed importance weights -----------------------------------

_DSIR_B = 256  # hashed feature buckets
_DSIR_TARGET_LANG = "en"  # the fixture's "target distribution" split
_DSIR_SCALE = 1_000_000  # importance ratios in integer micros


@query(
    "dsir_importance_weights",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
      FROM documents),
    grams AS (
      SELECT doc_id, lang,
             {md5_hash60_sql("t[i] || ' ' || t[i+1]")} % {_DSIR_B} AS b
      FROM toks, unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS u(i)),
    r AS (SELECT b, COUNT(*) AS r_cnt FROM grams GROUP BY b),
    tc AS (SELECT b, COUNT(*) AS t_cnt FROM grams
           WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY b),
    tot AS (SELECT (SELECT COUNT(*) FROM grams) AS r_tot,
                   (SELECT COUNT(*) FROM grams
                    WHERE lang = '{_DSIR_TARGET_LANG}') AS t_tot),
    w AS (
      SELECT r.b,
             ((COALESCE(tc.t_cnt, 0) + 1) * (tot.r_tot + {_DSIR_B})
              * {_DSIR_SCALE})
               // ((tot.t_tot + {_DSIR_B}) * (r.r_cnt + 1)) AS w_micros
      FROM r LEFT JOIN tc USING (b) CROSS JOIN tot),
    doc AS (
      SELECT g.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(w.w_micros) // COUNT(*) AS BIGINT) AS mean_w_micros
      FROM grams g JOIN w USING (b) GROUP BY g.doc_id)
    SELECT d.doc_id, d.lang,
           COALESCE(doc.n_bigrams, 0) AS n_bigrams,
           COALESCE(doc.mean_w_micros, 0) AS mean_w_micros,
           COALESCE(doc.mean_w_micros, 0) >= {_DSIR_SCALE} AS selected
    FROM documents d LEFT JOIN doc USING (doc_id)
    """,
    doc=f"DSIR-style data selection (Xie et al. 2023, Data Selection "
    "via Importance Resampling): documents scored by hashed-bigram "
    f"importance — bigrams hash into {_DSIR_B} buckets, each bucket's "
    "weight is the add-one-smoothed ratio of its probability under "
    f"the target split (lang='{_DSIR_TARGET_LANG}') vs the raw corpus, "
    "and a document's score is the mean bucket weight over its bigram "
    "occurrences. Linear-domain variant: the paper sums log-ratios, "
    "but ln() is libm-dependent — mean-of-ratios keeps every value "
    "exact integer micros, bit-identical cross-engine (ranking is "
    "order-isomorphic for the selection cut). selected = score above "
    "corpus-neutral (ratio ≥ 1).",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the bucket-weight table is ≤256 rows at ANY corpus
    size — built with two map-side-combined aggregates (256-key
    shuffles of partial counts) and **broadcast** back for the
    per-gram scoring join; the corpus shuffles once, keyed on doc_id,
    for the final mean. Bigramming is JVM transform inside codegen;
    no Python anywhere. Integer products stay under 2^63 for corpora
    up to ~1e12 bigram occurrences; past that, widen the weight
    arithmetic to decimal(38,0) (same expressions)."""
    from dungbeetle_spark.functions.texts import md5_hash60

    d = _t(spark, sf_dir, "documents")["documents"]
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"[^a-z0-9]+"), lambda x: x != ""
    )
    tdf = fan_out(d.select("doc_id", "lang", "text")).select(
        "doc_id", "lang", toks.alias("t")
    )
    # zip_with over shifted slices, not transform(sequence, element_at):
    # the lambda must not reference the aliased tokenize (projection
    # collapse inlines it, re-running the split per ELEMENT — see
    # word_ngrams). The slice-length guard also subsumes the old
    # size >= 2 branch: short docs yield empty arrays naturally.
    m1 = F.greatest(F.size("t") - 1, F.lit(0))
    gram = F.zip_with(
        F.slice("t", 1, m1),
        F.slice("t", 2, m1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    grams = tdf.select(
        "doc_id",
        "lang",
        F.explode(gram).alias("g"),
    ).select("doc_id", "lang", (md5_hash60(F.col("g")) % _DSIR_B).alias("b"))
    # Raw + target bucket counts in ONE conditional aggregate (a
    # separate r/tc/tot trio re-evaluated the tokenize+explode subtree
    # per consumer — 4 corpus passes; this is 2: counts + scoring).
    # The totals re-aggregate the ≤256-row count table, never the
    # corpus (same re-aggregation rule as q11/q15).
    counts = grams.groupBy("b").agg(
        F.count(F.lit(1)).alias("r_cnt"),
        F.count(F.when(F.col("lang") == _DSIR_TARGET_LANG, 1)).alias("t_cnt"),
    )
    tot = counts.agg(
        F.sum("r_cnt").alias("r_tot"), F.sum("t_cnt").alias("t_tot")
    )
    w = (
        counts.join(F.broadcast(tot))
        .select(
            "b",
            F.expr(
                f"((t_cnt + 1) * (r_tot + {_DSIR_B})"
                f" * {_DSIR_SCALE})"
                f" div ((t_tot + {_DSIR_B}) * (r_cnt + 1))"
            ).alias("w_micros"),
        )
    )
    doc = (
        grams.join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.expr("sum(w_micros) div count(*)").alias("mean_w_micros"),
        )
    )
    return (
        d.select("doc_id", "lang")
        .join(doc, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("mean_w_micros", F.lit(0).cast("long")).alias(
                "mean_w_micros"
            ),
            (F.coalesce("mean_w_micros", F.lit(0).cast("long")) >= _DSIR_SCALE).alias(
                "selected"
            ),
        )
    )


@query(
    "bitmap_distinct_users",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    """,
    doc="EXACT distinct counting by mergeable bitmaps: user ids map to "
    "(bucket, bit) positions, each (event_type, bucket) group ORs its "
    "bits into one bitmap, and per-type distinct = sum of per-bucket "
    "popcounts. Same answer as COUNT(DISTINCT) but built from a "
    "commutative mergeable aggregate -- the third point on the "
    "distinct-counting triangle next to naive COUNT(DISTINCT) "
    "(exact, but shuffles every raw id) and HLL sketch_user_stats "
    "(bounded memory, approximate).",
)
def bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the first aggregate partial-combines map-side into
    fixed 4KB bitmaps per (type, id-bucket) -- the shuffle carries
    |types| x |occupied buckets| bitmaps instead of one row per raw
    id, and re-bucketing by id range means the same machinery serves
    incremental refresh (OR the new day's bitmaps in) and per-segment
    rollup (OR across segments) without rescanning ids. The popcount
    re-aggregate runs over that tiny bitmap table. n_events rides the
    same first pass and sums in the second."""
    e = _t(spark, sf_dir, "events")["events"]
    per_bucket = (
        e.select("event_type", "user_id")
        .groupBy(
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
        )
        .agg(
            F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("bm"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return per_bucket.groupBy("event_type").agg(
        F.expr("CAST(sum(bitmap_count(bm)) AS BIGINT)").alias("n_users"),
        F.sum("n").alias("n_events"),
    )


@query(
    "source_lang_drift",
    oracle="""
    WITH cell AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY 1, 2),
    tot AS (
      SELECT source, lang, n,
             SUM(n) OVER (PARTITION BY source) AS src_tot,
             SUM(n) OVER (PARTITION BY lang) AS lang_tot,
             SUM(n) OVER () AS grand
      FROM cell)
    SELECT source, lang, n,
           CAST(n * 1000000 // grand AS BIGINT) AS observed_ppm,
           CAST(src_tot * lang_tot * 1000000 // (grand * grand) AS BIGINT)
             AS expected_ppm,
           CAST(n * 1000000 // grand
                - src_tot * lang_tot * 1000000 // (grand * grand)
                AS BIGINT) AS drift_ppm
    FROM tot
    """,
    doc="Dataset-composition drift audit: the (source x lang) "
    "contingency table with each cell's observed corpus share vs the "
    "independence expectation (row share x column share), both in "
    "integer ppm (floor division -- exact cross-engine). Large "
    "|drift_ppm| cells are where a crawl source over/under-delivers "
    "a language vs the corpus mix -- the signal dataset-mixing "
    "weights (dataset_mix_weighted) exist to correct.",
)
def source_lang_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one aggregate shuffle reduces the corpus to
    |sources| x |langs| cells; the three marginal windows run over
    that tiny table, never the corpus. ppm numerators stay in int64
    up to ~9e12 rows (n * 1e6) and ~3e9 rows for the expectation
    (src_tot * lang_tot * 1e6 over two marginals); beyond that widen
    the expectation to DECIMAL(38,0)."""
    d = _t(spark, sf_dir, "documents")["documents"]
    cell = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    tot = cell.select(
        "source",
        "lang",
        "n",
        F.sum("n").over(W.partitionBy("source")).alias("src_tot"),
        F.sum("n").over(W.partitionBy("lang")).alias("lang_tot"),
        F.sum("n").over(W.partitionBy()).alias("grand"),
    )
    return tot.select(
        "source",
        "lang",
        "n",
        F.expr("CAST(n * 1000000 DIV grand AS BIGINT)").alias("observed_ppm"),
        F.expr(
            "CAST(src_tot * lang_tot * 1000000 DIV (grand * grand) AS BIGINT)"
        ).alias("expected_ppm"),
        F.expr(
            "CAST(n * 1000000 DIV grand"
            " - src_tot * lang_tot * 1000000 DIV (grand * grand) AS BIGINT)"
        ).alias("drift_ppm"),
    )


_EPOCH_BUDGET_X = 2  # token budget = 2x the corpus (the over-sample room)
_EPOCH_CAP_MILLI = 3_000  # never repeat a source more than 3 epochs


@query(
    "source_epoch_allocation",
    oracle=f"""
    WITH src AS (
      SELECT source,
             CAST(SUM(len(string_split(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')))
               AS BIGINT) AS tokens
      FROM documents WHERE trim(text) <> '' GROUP BY source),
    tot AS (
      SELECT source, tokens,
             CAST(SUM(tokens) OVER () AS BIGINT) AS corpus_tokens,
             CAST(COUNT(*) OVER () AS BIGINT) AS n_sources
      FROM src),
    alloc AS (
      SELECT source, tokens, corpus_tokens,
             CAST(tokens * 1000000 // corpus_tokens AS BIGINT)
               AS corpus_share_ppm,
             least(
               (corpus_tokens * {_EPOCH_BUDGET_X} // n_sources) * 1000
                 // tokens,
               {_EPOCH_CAP_MILLI}) AS epochs_milli
      FROM tot)
    SELECT source, tokens, corpus_share_ppm,
           CAST(epochs_milli AS BIGINT) AS epochs_milli,
           epochs_milli = {_EPOCH_CAP_MILLI} AS capped,
           CAST(tokens * epochs_milli // 1000 AS BIGINT)
             AS allocated_tokens
    FROM alloc
    """,
    doc=f"Training-mix epoch allocation under a token budget: given a "
    f"budget of {_EPOCH_BUDGET_X}x the corpus's whitespace tokens "
    "split EQUALLY across sources (the uniform-domain rebalancing "
    "that stops one crawl from dominating, cf. The Pile's per-set "
    "epoch table), each source's repeat factor in milli-epochs = "
    "its equal share DIV its own tokens, capped at "
    f"{_EPOCH_CAP_MILLI} milli-epochs (the 'repeating data more than "
    "~3x hurts' rule from data-constrained scaling studies, "
    "Muennighoff et al. 2023). Small sources cap; large ones "
    "under-sample. All floor-division integer algebra -- the exact "
    "per-source sampling table a training dataloader consumes.",
)
def source_epoch_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: per-source token sums partial-combine map-side to
    |sources| rows; the budget windows run over that tiny frame (the
    benign-global-window class — |sources| is a catalog, not data).
    One fact-scale scan total."""
    d = _t(spark, sf_dir, "documents")["documents"]
    toks = F.size(F.split(norm_text(F.col("text")), " "))
    src = (
        d.filter(F.trim(F.col("text")) != "")
        .groupBy("source")
        .agg(F.sum(toks.cast("long")).alias("tokens"))
    )
    tot = src.select(
        "source",
        "tokens",
        F.sum("tokens").over(W.partitionBy()).alias("corpus_tokens"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("n_sources"),
    )
    alloc = tot.select(
        "source",
        "tokens",
        F.expr("CAST(tokens * 1000000 DIV corpus_tokens AS BIGINT)").alias(
            "corpus_share_ppm"
        ),
        F.least(
            F.expr(
                f"(corpus_tokens * {_EPOCH_BUDGET_X} DIV n_sources) * 1000 "
                "DIV tokens"
            ),
            F.lit(_EPOCH_CAP_MILLI).cast("long"),
        ).alias("epochs_milli"),
    )
    return alloc.select(
        "source",
        "tokens",
        "corpus_share_ppm",
        F.col("epochs_milli").cast("long").alias("epochs_milli"),
        (F.col("epochs_milli") == _EPOCH_CAP_MILLI).alias("capped"),
        F.expr("CAST(tokens * epochs_milli DIV 1000 AS BIGINT)").alias(
            "allocated_tokens"
        ),
    )

# -- token Gini by source ---------------------------------------------------


@query(
    "token_gini_by_source",
    oracle="""
    WITH src AS (
      SELECT source,
             CAST(SUM(len(string_split(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')))
               AS BIGINT) AS tokens
      FROM documents WHERE trim(text) <> '' GROUP BY source),
    ranked AS (
      SELECT source, tokens,
             CAST(ROW_NUMBER() OVER (ORDER BY tokens, source) AS BIGINT)
               AS rk,
             CAST(SUM(tokens) OVER (ORDER BY tokens, source
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
      FROM src),
    tot AS (
      SELECT source, tokens, rk, cum,
             CAST(COUNT(*) OVER () AS BIGINT) AS n,
             CAST(SUM(tokens) OVER () AS BIGINT) AS s0,
             CAST(SUM(rk * tokens) OVER () AS BIGINT) AS s1
      FROM ranked)
    SELECT source, tokens,
           CAST(CAST(cum AS HUGEINT) * 1000000 // s0 AS BIGINT)
             AS cum_share_ppm,
           CAST((2 * CAST(s1 AS HUGEINT) - (n + 1) * CAST(s0 AS HUGEINT))
                * 1000000 // (CAST(n AS HUGEINT) * s0) AS BIGINT)
             AS gini_ppm
    FROM tot
    """,
    doc="Token-inequality audit: the Gini coefficient of whitespace "
    "tokens across sources (exact integer ppm, the standard "
    "2*sum(i*x_i)/(n*sum x) - (n+1)/n form over the ascending-sorted "
    "source totals with a source-name tiebreak), plus each source's "
    "cumulative Lorenz share in ppm. The one-number answer to 'how "
    "dominated is this corpus by its largest crawls' that mix "
    "rebalancing (source_epoch_allocation) is the response to: "
    "gini_ppm ~ 0 is a uniform mix, ~ 1e6 is one source holding "
    "everything. 128-bit intermediates (DECIMAL(38,0) / HUGEINT) keep "
    "the ppm algebra exact at any corpus size.",
)
def token_gini_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: identical to source_epoch_allocation — ONE
    fact-scale scan partial-combines to |sources| rows; the rank /
    Lorenz / Gini windows all run over that catalog-sized frame (the
    benign-global-window class). Gini needs a total order over
    sources, which is only meaningful as a single frame; the frame is
    |sources|, never documents."""
    d = _t(spark, sf_dir, "documents")["documents"]
    toks = F.size(F.split(norm_text(F.col("text")), " "))
    src = (
        d.filter(F.trim(F.col("text")) != "")
        .groupBy("source")
        .agg(F.sum(toks.cast("long")).alias("tokens"))
    )
    w_ord = W.orderBy("tokens", "source")
    ranked = src.select(
        "source",
        "tokens",
        F.row_number().over(w_ord).cast("long").alias("rk"),
        F.sum("tokens")
        .over(w_ord.rowsBetween(W.unboundedPreceding, 0))
        .alias("cum"),
    )
    tot = ranked.select(
        "source",
        "tokens",
        "rk",
        "cum",
        F.count(F.lit(1)).over(W.partitionBy()).alias("n"),
        F.sum("tokens").over(W.partitionBy()).alias("s0"),
        F.sum(F.col("rk") * F.col("tokens"))
        .over(W.partitionBy())
        .alias("s1"),
    )
    return tot.select(
        "source",
        "tokens",
        F.expr(
            "CAST(CAST(cum AS DECIMAL(38,0)) * 1000000 DIV s0 AS BIGINT)"
        ).alias("cum_share_ppm"),
        F.expr(
            "CAST((2 * CAST(s1 AS DECIMAL(38,0))"
            " - CAST(n + 1 AS DECIMAL(38,0)) * s0) * 1000000"
            " DIV (CAST(n AS DECIMAL(38,0)) * s0) AS BIGINT)"
        ).alias("gini_ppm"),
    )


# -- contamination_attribution ------------------------------------------------


@query(
    "contamination_attribution",
    oracle=f"""
    WITH seeded AS (
        SELECT doc_id, source,
               text || CASE
                 WHEN doc_id % {_EVAL_MOD} = 0
                   THEN ' benchmark passage k' || CAST(doc_id % 5 AS VARCHAR)
                        || ' alpha beta gamma delta epsilon zeta eta'
                 WHEN doc_id % {_PLANT_MOD} = 0
                   THEN ' benchmark passage k'
                        || CAST((doc_id // {_PLANT_MOD}) % 5 AS VARCHAR)
                        || ' alpha beta gamma delta epsilon zeta eta'
                 ELSE '' END AS text
        FROM documents
    ),
    toks AS (
        SELECT doc_id, source,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS t
        FROM seeded
    ),
    grams AS (
        SELECT DISTINCT doc_id, source,
               array_to_string(t[i : i + {_GRAM_N - 1}], ' ') AS gram
        FROM toks,
             unnest(range(1, greatest(len(t) - {_GRAM_N - 1}, 0) + 1)) AS u(i)
    ),
    ev AS (
        SELECT gram, MIN(doc_id % 5) AS benchmark_id
        FROM grams WHERE doc_id % {_EVAL_MOD} = 0
        GROUP BY gram HAVING COUNT(DISTINCT doc_id % 5) = 1
    ),
    hits AS (
        SELECT e.benchmark_id, g.source, g.doc_id
        FROM grams g JOIN ev e USING (gram)
        WHERE g.doc_id % {_EVAL_MOD} <> 0
    )
    SELECT benchmark_id, source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_contaminated_docs
    FROM hits GROUP BY 1, 2
    """,
    doc="Contamination ATTRIBUTION: which benchmark leaked into which "
    "source — the question decontamination's per-doc report can't "
    "answer directly. Benchmark membership uses DISCRIMINATIVE "
    f"{_GRAM_N}-grams only (grams appearing in exactly one "
    "benchmark's eval set; shared grams like the common passage "
    "filler attribute to nobody), and the training-side plants spread "
    "across benchmarks ((doc_id DIV 10) % 5 — a fixture variant of "
    "the decontamination seeding, documented in FIXTURES.md) so "
    "every benchmark has attributable hits. Output: (benchmark, "
    "source) contaminated-doc counts.",
)
def contamination_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: same as decontamination — the discriminative
    gram→benchmark map is KBs at any corpus scale and broadcasts; the
    corpus side is one distinct-gram pass and a broadcast-join rollup
    keyed by (benchmark, source): bounded output, no corpus-side
    fact-fact join. The discriminative filter (HAVING one distinct
    benchmark) runs on the eval gram set only."""
    d = _t(spark, sf_dir, "documents")["documents"]
    plant = F.concat(
        F.lit(" benchmark passage k"),
        F.when(
            F.col("doc_id") % _EVAL_MOD == 0, (F.col("doc_id") % 5)
        )
        .otherwise(
            F.expr(f"(doc_id DIV {_PLANT_MOD}) % 5")
        )
        .cast("string"),
        F.lit(" alpha beta gamma delta epsilon zeta eta"),
    )
    seeded_text = F.concat(
        F.col("text"),
        F.when(
            (F.col("doc_id") % _EVAL_MOD == 0)
            | (F.col("doc_id") % _PLANT_MOD == 0),
            plant,
        ).otherwise(F.lit("")),
    )
    toks = F.filter(
        F.split(F.lower(seeded_text), r"[^a-z0-9]+"), lambda x: x != ""
    )
    grams = (
        fan_out(d.select("doc_id", "source", "text"))
        .select("doc_id", "source", toks.alias("t"))
        .select(
            "doc_id",
            "source",
            F.explode(word_ngrams("t", _GRAM_N)).alias("gram"),
        )
    )
    ev = (
        grams.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select((F.col("doc_id") % 5).alias("benchmark_id"), "gram")
        .distinct()
        .groupBy("gram")
        .agg(
            F.min("benchmark_id").alias("benchmark_id"),
            F.countDistinct("benchmark_id").alias("_nb"),
        )
        .filter(F.col("_nb") == 1)
        .select("gram", "benchmark_id")
    )
    hits = grams.filter(F.col("doc_id") % _EVAL_MOD != 0).join(
        F.broadcast(ev), "gram"
    )
    return hits.groupBy("benchmark_id", "source").agg(
        F.countDistinct("doc_id").alias("n_contaminated_docs")
    )


# ---------------------------------------------------------------------------
# per-source distributional distance (DoReMi-style domain KL audit)
# ---------------------------------------------------------------------------


@query(
    "kl_divergence_by_source",
    oracle="""
    WITH words AS (
      SELECT source, unnest(regexp_split_to_array(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))
                 || ' mark_' || source, ' ')) AS word
      FROM documents),
    sw AS (
      SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
      FROM words GROUP BY source, word),
    wt AS (SELECT word, CAST(SUM(c) AS BIGINT) AS cw FROM sw GROUP BY word),
    s AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ns,
                 CAST(COUNT(*) AS BIGINT) AS nd
          FROM sw GROUP BY source),
    n AS (SELECT CAST(SUM(ns) AS BIGINT) AS nn FROM s),
    contrib AS (
      SELECT sw.source, sw.word, s.ns, s.nd,
             sw.c * CAST((length(bin(sw.c * n.nn)) - 1)
                    - (length(bin(s.ns * wt.cw)) - 1) AS BIGINT) AS contrib
      FROM sw JOIN wt USING (word) JOIN s USING (source) CROSS JOIN n),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                   ORDER BY contrib DESC, word) AS rn
      FROM contrib)
    SELECT source,
           MAX(ns) AS n_tokens,
           MAX(nd) AS n_distinct_words,
           round(CAST(SUM(contrib) AS DOUBLE) / MAX(ns), 6) AS kl_bits,
           MAX(CASE WHEN rn = 1 THEN word END) AS top_word,
           MAX(CASE WHEN rn = 1 THEN contrib END) AS top_word_contrib
    FROM ranked GROUP BY source
    """,
    doc="Per-source distributional distance from the corpus unigram "
    "distribution — the DoReMi / domain-reweighting diagnostic: which "
    "sources' token distributions diverge most (and which single word "
    "drives it). KL(p_s || q) = Σ p log2(p/q) computed in the exact "
    "integer floor-log2 idiom of char_bigram_surprisal: each word's "
    "log2(p/q) = log2(c·N) − log2(ns·cw) floors to "
    "length(bin(·))−1 (an exact BIGINT), the count-weighted sum is an "
    "order-free integer aggregate, and only the final per-token "
    "normalization divides — so the oracle is hash-exact. The floored "
    "log makes this a banded KL estimate (±1 bit per term), which is "
    "the documented trade for cross-engine integer exactness.",
)
def kl_divergence_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: ONE corpus tokenize pass builds the (source, word)
    count frame (hash shuffle with map-side combine — the corpus's
    text never moves, only combined partials), lazily checkpointed and
    reused by all three consumers (corpus word totals, per-source
    totals, the scoring join). The scoring join is vocab-keyed
    (sw ⋈ wt on word) — vocabulary grain, not corpus grain; the
    per-source totals broadcast (|sources| rows) and the corpus total
    is the whitelisted 1-row crossJoin class. The top-word window
    partitions on source over the vocab frame (bounded by |vocab|,
    a diagnostic output, never corpus-scale rows). Integer-range note:
    the floor-log products c·N and ns·cw must stay under 2^63; past
    ~3e9 corpus tokens promote them to DECIMAL(38,0) with a
    floor(log2(CAST AS DOUBLE)) fallback — the algebra is unchanged."""
    d = _t(spark, sf_dir, "documents")["documents"]
    # In-query fixture (FIXTURES.md): the base corpus's ~31-word vocab
    # is near-uniform across sources, so every floored log collapses
    # to the same band; one planted per-source marker token per doc
    # gives each source a genuinely divergent term to surface.
    words = d.select(
        "source",
        F.explode(
            F.split(
                F.concat(norm_text("text"), F.lit(" mark_"), F.col("source")),
                " ",
            )
        ).alias("word"),
    )
    sw = (
        words.groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(maybe_local_checkpoint, eager=False)
    )
    wt = sw.groupBy("word").agg(F.sum("c").alias("cw"))
    s = sw.groupBy("source").agg(
        F.sum("c").alias("ns"), F.count(F.lit(1)).alias("nd")
    )
    n = s.agg(F.sum("ns").alias("nn"))
    ilog2 = lambda col: (F.length(F.expr(f"bin({col})")) - 1).cast("long")
    contrib_col = (
        F.col("c") * (ilog2("c * nn") - ilog2("ns * cw"))
    ).alias("contrib")
    contrib = (
        sw.join(wt, "word")
        .join(F.broadcast(s), "source")
        .crossJoin(F.broadcast(n))
        .select("source", "word", "ns", "nd", contrib_col)
    )
    rn = F.row_number().over(
        W.partitionBy("source").orderBy(F.desc("contrib"), F.asc("word"))
    )
    return (
        contrib.withColumn("rn", rn)
        .groupBy("source")
        .agg(
            F.max("ns").alias("n_tokens"),
            F.max("nd").alias("n_distinct_words"),
            F.round(
                F.sum("contrib").cast("double") / F.max("ns"), 6
            ).alias("kl_bits"),
            F.max(F.when(F.col("rn") == 1, F.col("word"))).alias("top_word"),
            F.max(F.when(F.col("rn") == 1, F.col("contrib"))).alias(
                "top_word_contrib"
            ),
        )
    )


# -- hll_register_sketch ------------------------------------------------------

_HLL_M = 256  # registers (b=8): std error 1.04/sqrt(m) ~ 6.5%
_HLL_WBITS = 52  # md5_hash60 leaves 52 bits after the register index
_HLL_RHO_MAX = _HLL_WBITS + 1  # rho when the remaining bits are all zero


def hll_partial(df: DataFrame) -> DataFrame:
    """Per-(day, register) max-rho partial sketch from a frame with
    (day STRING, user_id) columns — the map-side-combinable unit both
    the batch operator and the streaming MV merge build from. rho is
    the trailing-zero rank of the hash bits above the register index
    (bit_count((w & -w) - 1) + 1, uniform bits so rank distribution
    matches the textbook leading-zero form)."""
    hv = md5_hash60(F.col("user_id").cast("string"))
    return (
        df.select("day", hv.alias("hv"))
        .withColumn("register", (F.col("hv") % _HLL_M).cast("int"))
        .withColumn(
            "r",
            F.expr(
                f"CASE WHEN hv DIV {_HLL_M} = 0 THEN {_HLL_RHO_MAX}"
                f" ELSE bit_count(((hv DIV {_HLL_M}) & -(hv DIV {_HLL_M})) - 1) + 1"
                " END"
            ),
        )
        .groupBy(F.col("day").alias("scope"), "register")
        .agg(F.max("r").alias("rho"))
    )


def hll_fold(regs: DataFrame) -> DataFrame:
    """Fold a (scope, register, rho) register table — plus the 'ALL'
    max-merge across scopes — into per-scope integer sufficient
    statistics (occupied count, sum of 2^(53-rho), max rho)."""
    merged = regs.groupBy("register").agg(F.max("rho").alias("rho")).select(
        F.lit("ALL").alias("scope"), "register", "rho"
    )
    folded = (
        regs.unionByName(merged)
        .groupBy("scope")
        .agg(
            F.count(F.lit(1)).alias("n_occupied"),
            F.sum(
                F.expr(f"shiftleft(1L, CAST({_HLL_RHO_MAX} - rho AS INT))")
            ).alias("sum_inv_occupied"),
            F.max("rho").cast("int").alias("max_rho"),
        )
    )
    return folded.select(
        "scope",
        "n_occupied",
        (
            F.col("sum_inv_occupied")
            + (F.lit(_HLL_M) - F.col("n_occupied"))
            * F.lit(1 << _HLL_RHO_MAX).cast("long")
        ).alias("sum_inv_scaled"),
        "max_rho",
    )


@query(
    "hll_register_sketch",
    oracle=f"""
    WITH h AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             {md5_hash60_sql("CAST(user_id AS VARCHAR)")} AS hv
      FROM events
    ),
    rho AS (
      SELECT day,
             CAST(hv % {_HLL_M} AS INT) AS register,
             CASE WHEN hv // {_HLL_M} = 0 THEN {_HLL_RHO_MAX}
                  ELSE bit_count(((hv // {_HLL_M}) & -(hv // {_HLL_M})) - 1) + 1
             END AS r
      FROM h
    ),
    regs AS (
      SELECT day AS scope, register, MAX(r) AS rho
      FROM rho GROUP BY 1, 2
    ),
    merged AS (
      SELECT 'ALL' AS scope, register, MAX(rho) AS rho
      FROM regs GROUP BY 2
    ),
    allregs AS (SELECT * FROM regs UNION ALL SELECT * FROM merged),
    folded AS (
      SELECT scope,
             CAST(COUNT(*) AS BIGINT) AS n_occupied,
             CAST(SUM(1::BIGINT << ({_HLL_RHO_MAX} - rho)) AS BIGINT)
               AS sum_inv_occupied,
             CAST(MAX(rho) AS INT) AS max_rho
      FROM allregs GROUP BY 1
    ),
    exact AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS scope,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
      FROM events GROUP BY 1
      UNION ALL
      SELECT 'ALL', CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
    )
    SELECT f.scope, f.n_occupied,
           f.sum_inv_occupied
             + ({_HLL_M} - f.n_occupied) * (1::BIGINT << {_HLL_RHO_MAX})
             AS sum_inv_scaled,
           f.max_rho, e.exact_users
    FROM folded f JOIN exact e USING (scope)
    """,
    doc=f"Explicit HyperLogLog register table ({_HLL_M} registers, "
    "trailing-zero rho from the 60-bit md5 hash) — the PERSISTABLE "
    "mergeable cardinality sketch next to the engine-internal HLL of "
    "sketch_user_stats (whose registers can't leave the JVM) and the "
    "exact bitmaps of bitmap_distinct_users. Emits per-day "
    "registers folded to integer sufficient statistics (occupied "
    "count, sum of 2^(53-rho) — the harmonic-mean denominator, exact "
    "in int64) plus an 'ALL' scope built by max-merging the per-day "
    "registers — the merge operation itself oracle-checked, which is "
    "the property that lets 100 TB daily sketches roll up to monthly "
    "cardinality without rescanning. Exact distinct twins ride "
    "alongside; the float estimate is derived OUTSIDE the engines "
    "(tests.test_mixing) so every hashed column stays integer.",
)
def hll_register_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: rho is a map-side md5+bit-trick projection; the
    (day, register) groupBy partial-combines into at most
    |days| x m cells regardless of corpus size — the textbook
    bounded-memory mergeable property, same as countmin_sketch. The
    'ALL' merge re-aggregates the cell table (tiny), and the exact
    twins are the diagnostic arm the sketch replaces at scale."""
    e = _t(spark, sf_dir, "events")["events"]
    regs = hll_partial(
        e.select(F.col("ts").cast("date").cast("string").alias("day"), "user_id")
    ).transform(maybe_local_checkpoint, eager=False)  # reused by hll_fold's ALL merge
    folded = hll_fold(regs)
    exact = (
        e.select(F.col("ts").cast("date").cast("string").alias("day"), "user_id")
        .distinct()
        .groupBy(F.col("day").alias("scope"))
        .agg(F.count(F.lit(1)).alias("exact_users"))
        .unionByName(
            e.select("user_id")
            .distinct()
            .agg(F.count(F.lit(1)).alias("exact_users"))
            .select(F.lit("ALL").alias("scope"), "exact_users")
        )
    )
    return folded.join(exact, "scope").select(
        "scope", "n_occupied", "sum_inv_scaled", "max_rho", "exact_users"
    )


# -- cross_source_ce_matrix ---------------------------------------------------


@query(
    "cross_source_ce_matrix",
    oracle="""
    WITH words AS (
      SELECT source, unnest(regexp_split_to_array(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))
                 || ' mark_' || source, ' ')) AS word
      FROM documents),
    sw AS (
      SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
      FROM words GROUP BY source, word),
    s AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ns FROM sw GROUP BY source),
    v AS (SELECT CAST(COUNT(DISTINCT word) AS BIGINT) AS vv FROM sw),
    cross_term AS (
      SELECT t.source AS t_source, m.source AS model_source,
             CAST(SUM(t.c * (length(bin(m.c + 1)) - 1)) AS BIGINT) AS dot
      FROM sw t JOIN sw m USING (word)
      GROUP BY 1, 2),
    grid AS (
      SELECT st.source AS t_source, sm.source AS model_source,
             st.ns AS nt,
             CAST(length(bin(sm.ns + v.vv)) - 1 AS BIGINT) AS fl_den
      FROM s st CROSS JOIN s sm CROSS JOIN v),
    ce AS (
      SELECT g.t_source, g.model_source, g.nt,
             g.fl_den * g.nt - COALESCE(ct.dot, 0) AS ce_sum
      FROM grid g
      LEFT JOIN cross_term ct
        ON ct.t_source = g.t_source AND ct.model_source = g.model_source),
    ranked AS (
      SELECT t_source, model_source, nt AS n_tokens,
             round(CAST(ce_sum AS DOUBLE) / nt, 6) AS ce_bits,
             t_source = model_source AS is_self,
             ROW_NUMBER() OVER (PARTITION BY t_source
                                ORDER BY CASE WHEN t_source = model_source
                                              THEN 0 ELSE 1 END,
                                         ce_sum, model_source) AS rnk
      FROM ce)
    SELECT t_source, model_source, n_tokens, ce_bits, is_self,
           CAST(rnk AS INT) AS rnk
    FROM ranked
    """,
    doc="Pairwise domain-similarity matrix: every source scored under "
    "every other source's add-1-smoothed unigram model, cross-entropy "
    "in the exact integer floor-log2 idiom (kl_divergence_by_source's "
    "banded-bits discipline; smoothing makes unseen words cost "
    "floor(log2(Ns+V)) bits and — the key identity — seen-nowhere "
    "terms drop out because floor(log2(0+1)) = 0, so the ONLY "
    "corpus-derived join is word-keyed). rnk orders each row's models "
    "self-first then by ascending CE: rnk=2 is the nearest foreign "
    "domain — the DoReMi/DSIR-style signal for which sources can "
    "donate training weight to which.",
)
def cross_source_ce_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: ONE tokenize pass builds the (source, word) count
    frame (map-side combine), lazily checkpointed for its three
    consumers; the cross term is a word-keyed self-join at vocabulary
    grain (never corpus grain) whose output is |sources|² rows; the
    totals grid is a crossJoin of two |sources|-row frames plus the
    whitelisted 1-row vocab scalar. The rank window partitions the
    |sources|²-row matrix."""
    d = _t(spark, sf_dir, "documents")["documents"]
    words = fan_out(d.select("source", "text")).select(
        "source",
        F.explode(
            F.split(
                F.concat(
                    F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")),
                    F.lit(" mark_"),
                    F.col("source"),
                ),
                " ",
            )
        ).alias("word"),
    )
    sw = (
        words.groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(maybe_local_checkpoint, eager=False)  # totals + both self-join sides
    )
    s = sw.groupBy("source").agg(F.sum("c").alias("ns"))
    v = sw.select(F.countDistinct("word").alias("vv"))
    cross_term = (
        sw.alias("t")
        .join(sw.alias("m"), "word")
        .groupBy(
            F.col("t.source").alias("t_source"),
            F.col("m.source").alias("model_source"),
        )
        .agg(
            F.sum(
                F.col("t.c") * (F.length(F.bin(F.col("m.c") + 1)) - 1)
            ).alias("dot")
        )
    )
    grid = (
        s.alias("st")
        .crossJoin(s.alias("sm"))
        .crossJoin(F.broadcast(v))
        .select(
            F.col("st.source").alias("t_source"),
            F.col("sm.source").alias("model_source"),
            F.col("st.ns").alias("nt"),
            (F.length(F.bin(F.col("sm.ns") + F.col("vv"))) - 1)
            .cast("long")
            .alias("fl_den"),
        )
    )
    ce = (
        grid.join(cross_term, ["t_source", "model_source"], "left")
        .select(
            "t_source",
            "model_source",
            F.col("nt").alias("n_tokens"),
            (
                F.col("fl_den") * F.col("nt")
                - F.coalesce("dot", F.lit(0).cast("long"))
            ).alias("ce_sum"),
        )
    )
    rnk = F.row_number().over(
        W.partitionBy("t_source").orderBy(
            F.when(F.col("t_source") == F.col("model_source"), 0).otherwise(1),
            "ce_sum",
            "model_source",
        )
    )
    return ce.select(
        "t_source",
        "model_source",
        "n_tokens",
        F.round(F.col("ce_sum").cast("double") / F.col("n_tokens"), 6).alias(
            "ce_bits"
        ),
        (F.col("t_source") == F.col("model_source")).alias("is_self"),
        rnk.cast("int").alias("rnk"),
    )


# -- fuzzy_decontamination --------------------------------------------------

# Near-match decontamination — the MinHash complement of the exact
# 5-gram scrub above (GPT-3 App. C / Llama-style fuzzy dedup against
# benchmarks): a training doc is contaminated when its banded MinHash
# signature agrees with some eval doc on >= _FDC_MIN_BANDS of the 8
# bands (estimated shingle Jaccard >= 0.5) — catching lightly edited
# benchmark copies whose exact n-grams no longer match.
#
# The fixture plants BOTH failure modes a production run must survive:
# (a) a near-dup template family (doc_id % 9 == 0, shared 29-word body
# + per-doc variant tail) spanning both sides of the eval split, so
# true fuzzy hits are guaranteed and deterministic; and (b) a UNIVERSAL
# boilerplate footer appended to every document — without stop-shingle
# filtering, footer shingles enter every doc's signature and, on SHORT
# documents (few organic shingles to out-min them), dominate the
# minhash: at sf0.01 the unfiltered run flags 26 extra docs, all
# short, none planted — boilerplate-driven false positives, the
# dominant failure mode on a real crawl's short-page mass. Shingles
# whose document frequency exceeds _FDC_STOP_PPM of the corpus are
# therefore dropped before hashing, exactly as real decontamination
# pipelines drop high-DF n-grams; the constant `stop_shingles` column
# audits how many were dropped (>= the footer's interior shingles by
# construction), and the filter provably loses no true flag
# (test_fuzzy_decon_stop_filter_is_load_bearing).
_FDC_MIN_BANDS = 4
_FDC_TPL_MOD = 9
# one banded-minhash width for the whole fuzzy-decon pair, sourced from
# the dedup family's single definition (bands of r=1, like the LSH ops)
from dungbeetle_spark.operators.dedup import _MH_TABLES as _FDC_BANDS  # noqa: E402
from dungbeetle_spark.operators.dedup import _SHINGLE_N as _FDC_N  # noqa: E402
_FDC_STOP_PPM = 200_000  # shingles in > 20% of docs are boilerplate
_FDC_TEMPLATE = (
    "held out benchmark body with a long run of stable words repeated "
    "verbatim across the whole contaminated family so the shingle "
    "sets overlap far above the banded decision threshold"
)
_FDC_FOOTER = (
    "standard site footer all rights reserved terms of service "
    "privacy policy contact us newsletter signup"
)


def _fdc_seeded(d: DataFrame) -> DataFrame:
    """(doc_id, text) with the template family + universal footer
    planted; the exact expression the oracle's seeded CTE mirrors."""
    return d.select(
        "doc_id",
        F.concat(
            F.when(
                F.col("doc_id") % _FDC_TPL_MOD == 0,
                F.concat(
                    F.lit(_FDC_TEMPLATE + " variant "),
                    (F.col("doc_id") % 4).cast("string"),
                    F.lit(" tail "),
                    F.col("doc_id").cast("string"),
                ),
            ).otherwise(F.col("text")),
            F.lit(" " + _FDC_FOOTER),
        ).alias("text"),
    )


def _fdc_shingle_hashes(seeded: DataFrame) -> DataFrame:
    """seeded (doc_id, text) → (doc_id, hs): 60-bit hashes of the
    distinct word shingles, locally checkpointed (every caller has
    >= 2 consumers: the stop-DF stats and an anti-join)."""
    from dungbeetle_spark.operators.dedup import _shingled

    return maybe_local_checkpoint(
        _shingled(seeded)
        .select("doc_id", F.explode("shingles").alias("s"))
        .select("doc_id", md5_hash60(F.col("s")).alias("hs")),
        eager=False,
    )


def _fdc_stop_set(sh: DataFrame, d: DataFrame) -> DataFrame:
    """hs values whose document frequency exceeds _FDC_STOP_PPM of the
    corpus — integer-exact, checkpointed (feeds anti-joins + audit)."""
    ndocs = d.agg(F.count(F.lit(1)).alias("nd"))
    return maybe_local_checkpoint(
        sh.groupBy("hs")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(ndocs))
        .filter(F.col("df") * 1_000_000 > F.lit(_FDC_STOP_PPM) * F.col("nd"))
        .select("hs"),
        eager=False,
    )


def _fdc_minhash(filt: DataFrame) -> DataFrame:
    """(doc_id, hs) → (doc_id, h0..h{B-1}): the seeded banded minhash
    signature — min(md5_hash60("j|" || hs)) per band j. ONE definition
    for the batch op, the streaming gate's index, and its per-batch
    probe, so the hash contract cannot drift between them."""
    return filt.groupBy("doc_id").agg(
        *[
            F.min(
                md5_hash60(F.concat(F.lit(f"{j}|"), F.col("hs").cast("string")))
            ).alias(f"h{j}")
            for j in range(_FDC_BANDS)
        ]
    )


def _fdc_band_rows(mh: DataFrame) -> DataFrame:
    """signature frame → long (doc_id, j, h) band rows."""
    return mh.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"h{j}") for j in range(_FDC_BANDS)])).alias(
            "j", "h"
        ),
    )


def _fdc_flags(train_bands: DataFrame, ev: DataFrame, audit: DataFrame) -> DataFrame:
    """Band rows → the output contract both ops share: best eval match
    per flagged doc (>= _FDC_MIN_BANDS agreeing bands; most bands wins,
    ties to the lowest eval doc_id) + the broadcast 1-row audit."""
    cand = (
        train_bands.join(F.broadcast(ev), ["j", "h"])
        .groupBy("doc_id", "eval_doc")
        .agg(F.count(F.lit(1)).alias("m"))
        .filter(F.col("m") >= _FDC_MIN_BANDS)
    )
    rk = F.row_number().over(
        W.partitionBy("doc_id").orderBy(F.col("m").desc(), "eval_doc")
    )
    return (
        cand.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            "eval_doc",
            F.col("m").alias("matched_bands"),
            (F.col("m").cast("double") / F.lit(float(_FDC_BANDS))).alias(
                "est_jaccard"
            ),
        )
        .crossJoin(F.broadcast(audit))
    )


def _fdc_reference(sess: SparkSession, sf_dir: str):
    """The static reference state the streaming gate probes —
    ``(stops, ev_index, audit)``, all small by construction and
    checkpointed. Built from the same helpers the batch op composes,
    so the stop-threshold/seeding/hash contract has one definition.
    Production maintains all three as refreshed tables."""
    d = _t(sess, sf_dir, "documents")["documents"]
    sh = _fdc_shingle_hashes(_fdc_seeded(d))
    stops = _fdc_stop_set(sh, d)
    ev_index = (
        _fdc_band_rows(
            _fdc_minhash(
                sh.filter(F.col("doc_id") % _EVAL_MOD == 0).join(
                    F.broadcast(stops), "hs", "left_anti"
                )
            )
        )
        .select(F.col("doc_id").alias("eval_doc"), "j", "h")
        .transform(maybe_local_checkpoint)
    )
    audit = (
        stops.agg(F.count(F.lit(1)).cast("long").alias("stop_shingles"))
        .transform(maybe_local_checkpoint)
    )
    return stops, ev_index, audit


def _fdc_sig_ctes(src: str = "documents", p: str = "") -> str:
    """The fuzzy-decon SIGNATURE pipeline as DuckDB CTE bodies — the
    seeded text, the word shingles (concat expression generated from
    ``_FDC_N`` so the SQL cannot desync from the Spark shingle width;
    ADVICE r11), the 60-bit shingle hashes, the high-DF stop set, and
    the banded minhash signatures ``{p}mh(doc_id, j, h)``.
    Parameterized by source relation and CTE-name prefix so the
    standalone oracle renders over ``documents`` with no prefix while
    ``pipeline._fate_oracle`` splices the identical chain (prefix
    ``f``, any corpus snapshot) next to its own CTEs — ONE SQL
    definition of the fuzzy contract, like the Spark helpers above."""
    shingle = " || ' ' || ".join(
        "w[i]" if k == 0 else f"w[i+{k}]" for k in range(_FDC_N)
    )
    return f"""{p}seeded AS (
      SELECT doc_id,
             (CASE WHEN doc_id % {_FDC_TPL_MOD} = 0
                   THEN '{_FDC_TEMPLATE}'
                        || ' variant ' || CAST(doc_id % 4 AS VARCHAR)
                        || ' tail ' || CAST(doc_id AS VARCHAR)
                   ELSE text END) || ' {_FDC_FOOTER}' AS text
      FROM {src}),
    {p}words AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
      FROM {p}seeded),
    {p}sh AS (
      SELECT DISTINCT doc_id,
             {shingle} AS s
      FROM {p}words, UNNEST(range(1, greatest(len(w) - {_FDC_N} + 2, 1))) AS t(i)),
    {p}shh AS (
      SELECT doc_id, {md5_hash60_sql("s")} AS hs FROM {p}sh),
    {p}stops AS (
      SELECT hs FROM {p}shh GROUP BY hs
      HAVING COUNT(*) * 1000000
             > {_FDC_STOP_PPM} * (SELECT COUNT(*) FROM {src})),
    {p}filt AS (
      SELECT doc_id, hs FROM {p}shh
      WHERE hs NOT IN (SELECT hs FROM {p}stops)),
    {p}mh AS (
      SELECT doc_id, j,
             MIN({md5_hash60_sql("concat(CAST(j AS VARCHAR), '|', CAST(hs AS VARCHAR))")}) AS h
      FROM {p}filt, UNNEST(range(0, {_FDC_BANDS})) AS seeds(j)
      GROUP BY doc_id, j)"""


# Shared by the batch op and streaming_fuzzy_decon_gate (identical
# output contract — the gate's drained stream must equal this frame).
_FDC_ORACLE = f"""
    WITH {_fdc_sig_ctes()},
    cand AS (
      SELECT t.doc_id, e.doc_id AS eval_doc, CAST(COUNT(*) AS BIGINT) AS m
      FROM mh t JOIN mh e ON t.j = e.j AND t.h = e.h
      WHERE t.doc_id % {_EVAL_MOD} <> 0 AND e.doc_id % {_EVAL_MOD} = 0
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_FDC_MIN_BANDS}),
    best AS (
      SELECT doc_id, eval_doc, m,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY m DESC, eval_doc) AS rk
      FROM cand),
    audit AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS stop_shingles FROM stops)
    SELECT doc_id, eval_doc,
           m AS matched_bands,
           CAST(m AS DOUBLE) / {_FDC_BANDS} AS est_jaccard,
           stop_shingles
    FROM best CROSS JOIN audit
    WHERE rk = 1
    """


@query(
    "fuzzy_decontamination",
    oracle=_FDC_ORACLE,
    doc="Fuzzy (MinHash-banded) decontamination: a training document "
    "is flagged when >= 4 of its 8 banded minhashes agree with some "
    "eval-split document (estimated shingle Jaccard >= 0.5) — the "
    "near-match complement of the exact 5-gram scrub in "
    "`decontamination`, catching lightly edited benchmark copies. "
    "Before hashing, shingles present in > 20% of documents are "
    "dropped as boilerplate (high-DF stop-grams, as in production "
    "decontamination); the fixture plants a universal footer on every "
    "doc so the filter demonstrably FIRES (without it, footer "
    "shingles dominate SHORT documents' minhashes and flag them "
    "spuriously across the split — 26 extra flags at sf0.01, all "
    "short, none planted) and a cross-split near-dup template "
    "family so true fuzzy hits are guaranteed. Per flagged doc: the "
    "best-matching eval doc (most agreeing bands, ties to the lowest "
    "eval doc_id), the band count, the Jaccard estimate, and the "
    "constant stop_shingles audit. Every value is a pure function of "
    "md5-derived hashes, so the DuckDB oracle replays the whole "
    "pipeline bit-for-bit.",
)
def fuzzy_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the shingle DF pass and the per-doc minhash
    aggregate are the two corpus-scale exchanges, and both carry
    60-bit longs, never shingle text (the shingle is hashed once,
    right after construction; the seeded minhashes re-hash the LONG
    rendered as a string, so the DF shuffle and the stop-set both
    stay 8 bytes a row). The stop set is small by construction —
    at most total_shingle_mass / (0.2 * n_docs) entries ~= 5x the
    mean doc length — so it broadcasts into a map-side anti-join;
    the eval side of a real decontamination run is MBs against TBs
    of corpus, so its band rows broadcast too and the corpus never
    shuffles for the probe (same stance as `decontamination` and
    `dedup_minhash_incremental`). Flag output is bounded by true
    near-matches: an eval doc caught inside a crawl mega-cluster
    flags the whole cluster, which IS the desired verdict — and the
    stop-gram filter has already removed the boilerplate clusters
    that would fire spuriously. Two frames checkpoint locally: the
    (doc_id, hs) shingle frame (16 bytes/shingle — cheaper than
    re-running the shingle UDF for the DF stats and the anti-join
    separately) and the minhash frame (8 longs/doc, feeds both probe
    sides); the warehouse deployment maintains the stop set and the
    eval index as refreshed TABLES, which deletes the stats pass and
    the larger checkpoint from the per-run plan entirely (the
    streaming gate documents that shape)."""
    d = _t(spark, sf_dir, "documents")["documents"]
    sh = _fdc_shingle_hashes(_fdc_seeded(d))
    stops = _fdc_stop_set(sh, d)
    # one signature aggregate over ALL docs (train + eval), checkpointed
    # because its band rows feed both probe sides
    mh = _fdc_minhash(sh.join(F.broadcast(stops), "hs", "left_anti"))
    bands = _fdc_band_rows(maybe_local_checkpoint(mh, eager=False))
    ev = bands.filter(F.col("doc_id") % _EVAL_MOD == 0).select(
        F.col("doc_id").alias("eval_doc"), "j", "h"
    )
    audit = stops.agg(F.count(F.lit(1)).cast("long").alias("stop_shingles"))
    return _fdc_flags(
        bands.filter(F.col("doc_id") % _EVAL_MOD != 0), ev, audit
    )
