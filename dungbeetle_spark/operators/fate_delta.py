"""The incremental fate deployment (r14, VERDICT r13 item 3).

``fate_recompute_plan`` (r13) only PLANS the re-curation of an evolved
corpus — keep_prev / reelect / reprobe / recompute per document. This
module is the rest of the deployment, the part that makes the plan
worth computing:

- **fate_reference_maintenance** — incremental maintenance of the
  three corpus-coupled reference structures every fate probe reads
  (the eval-holdout gram set, the fuzzy stop-shingle set, the eval
  band index), by DF-COUNT DELTAS over the touched documents alone.
  The prev state lives in job result tables (gram DF counts, shingle
  DF counts, eval shingle sets, eval band rows — materialized through
  the Part A layer like every warehouse table, core.go:510–572); the
  refresh is a monoid merge: union the prev counts with ±delta counts
  from the leaving/arriving texts, re-aggregate, threshold. Nothing
  re-reads an unchanged document. The operator's output is a digest
  frame (rows + fold-order-free bit_xor of the row hashes) per
  refreshed reference; the DuckDB oracle REBUILDS all three from the
  evolved corpus from scratch, so the driver's hash gate IS the
  incremental ≡ rebuild pin.

- **fate_apply_plan** — the plan EXECUTOR: assemble the evolved
  corpus's full fate manifest by doing only what each plan action
  prices. keep_prev rows are copied from the shipped manifest table;
  reelect re-runs keeper election over the affected groups' members
  (plus incoming content-hash hits) only; reprobe re-derives the
  decon/fuzzy verdicts for surviving canonicals as a map-side probe
  against the REFRESHED reference tables (maintained above — reprobe
  is only sound against refreshed references, which is why the
  maintenance operator exists); recompute runs the full per-doc
  pipeline for touched docs alone. The oracle is the full composed
  fate oracle over the evolved corpus, so the driver pins
  assembled ≡ full recompute value-for-value on all six manifest
  columns (VERDICT r13 item 3's "done" criterion).

Scale story: the full recompute's cost is corpus-scale in every stage
(verdicts, hashes, gram explode, shingle/minhash); the delta
deployment's per-stage cost is bounded by |touched| (verdicts, hashes,
delta counts), |affected groups| (election), and |canonicals| (the
probes — a map-side broadcast probe over pruned text reads, the one
corpus-proportional term, with no dedup shuffle and no reference
rebuild behind it). All reference state rides in result tables, so a
1000-executor deployment reads parquet, not recomputed lineage.

Fixture note: everything runs over the duplicate-SEEDED corpus view
(warehouse._dup_seeded) evolved by the corpus_snapshot_diff convention
(pipeline._evolved_docs) — the organic corpus has no quality-surviving
duplicate group, so the election arms would be fixture-dead (same
reasoning as fate_recompute_plan, warehouse.py r13).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dungbeetle_spark.planmode import materialize_concurrently, maybe_local_checkpoint
from dungbeetle_spark.queries import _t, query

_MAN_COLS = [
    "doc_id",
    "fate",
    "quality_reason",
    "canonical_id",
    "n_contaminated",
    "fuzzy_matched_bands",
]

def _is_touched() -> F.Column:
    """The corpus_snapshot_diff evolution convention's touched set
    (pipeline._evolved_docs): %11 removed, %7==3 edited (' rev2'),
    %13 spawns -(id+2) additions. A function, not a module constant —
    Column construction needs the JVM gateway, which tools importing
    the registry for metadata don't have."""
    return (F.col("doc_id") < 0) | (F.col("doc_id") % 7 == 3)


def _seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dungbeetle_spark.operators.warehouse import _dup_seeded

    return _dup_seeded(_t(spark, sf_dir, "documents")["documents"])


def _out_docs(sd: DataFrame) -> DataFrame:
    """Prev-snapshot texts LEAVING the corpus: removed docs plus the
    prev versions of edited docs — the subtraction side of every
    DF-count delta. Delta-scale: the id filter precedes all text
    work."""
    return sd.filter((F.col("doc_id") % 11 == 0) | (F.col("doc_id") % 7 == 3))


def _in_docs(ev: DataFrame) -> DataFrame:
    """Evolved texts ARRIVING: added docs plus the new versions of
    edited docs — the addition side."""
    return ev.filter(_is_touched())


def _is_eval() -> F.Column:
    from dungbeetle_spark.operators.mixing import _EVAL_MOD

    return F.col("doc_id") % _EVAL_MOD == 0


# -- per-doc distinct feature extractors (shared prev-build + delta) ----------


def _gram_df(docs: DataFrame) -> DataFrame:
    """(gram, c): document-frequency counts of the fate-seeded distinct
    word n-grams — the count-bearing form of the eval gram set
    (word_ngrams is array_distinct, so each doc contributes each gram
    once; a distinct SET can't absorb removals, counts can)."""
    from dungbeetle_spark.operators.mixing import (
        _GRAM_N,
        fate_seeded_toks,
        word_ngrams,
    )
    from dungbeetle_spark.sources.catalog import fan_out

    g = (
        fate_seeded_toks(fan_out(docs.select("doc_id", "text")))
        .select(
            "doc_id", F.explode_outer(word_ngrams("t", _GRAM_N)).alias("gram")
        )
        .where(F.col("gram").isNotNull())
    )
    return g.groupBy("gram").agg(F.count(F.lit(1)).alias("c"))


def _shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, hs): the fuzzy pipeline's distinct seeded shingle
    hashes (mixing._fdc_shingle_hashes — ONE definition with the fate
    oracle's fshh CTE)."""
    from dungbeetle_spark.operators.mixing import (
        _fdc_seeded,
        _fdc_shingle_hashes,
    )

    return _fdc_shingle_hashes(_fdc_seeded(docs.select("doc_id", "text")))


def _sh_df(docs: DataFrame) -> DataFrame:
    """(hs, df): shingle document-frequency counts."""
    return _shingles(docs).groupBy("hs").agg(F.count(F.lit(1)).alias("df"))


def _stops_from_df(sh_df: DataFrame, nd: DataFrame) -> DataFrame:
    """The stop set as a threshold over a DF-count table — the same
    integer-exact rule as mixing._fdc_stop_set, expressed over counts
    so it applies to prev and refreshed tables alike."""
    from dungbeetle_spark.operators.mixing import _FDC_STOP_PPM

    return (
        sh_df.crossJoin(F.broadcast(nd))
        .filter(F.col("df") * 1_000_000 > F.lit(_FDC_STOP_PPM) * F.col("nd"))
        .select("hs")
    )


def _band_rows_for(docs: DataFrame, stops: DataFrame) -> DataFrame:
    """(doc_id, j, h): stop-filtered banded minhash rows for ``docs``
    — the per-doc-independent signature unit both the full build and
    the delta recompute share."""
    from dungbeetle_spark.operators.mixing import _fdc_band_rows, _fdc_minhash

    return _fdc_band_rows(
        _fdc_minhash(
            _shingles(docs).join(F.broadcast(stops), "hs", "left_anti")
        )
    )


# -- prev reference state as job result tables ---------------------------------


def _evgram_df_frame(sess: SparkSession, sf_dir: str) -> DataFrame:
    return _gram_df(_seeded(sess, sf_dir).filter(_is_eval()))


def _shdf_frame(sess: SparkSession, sf_dir: str) -> DataFrame:
    return _sh_df(_seeded(sess, sf_dir))


def _evsh_frame(sess: SparkSession, sf_dir: str) -> DataFrame:
    return _shingles(_seeded(sess, sf_dir).filter(_is_eval()))


def _evbands_frame(sess: SparkSession, sf_dir: str) -> DataFrame:
    from dungbeetle_spark.operators.mixing import _fdc_seeded, _fdc_stop_set

    sd = _seeded(sess, sf_dir)
    stops = _fdc_stop_set(
        _shingles(sd), _fdc_seeded(sd.select("doc_id", "text"))
    )
    return _band_rows_for(sd.filter(_is_eval()), stops)


def _evbands_from_shdf(
    sess: SparkSession, sf_dir: str, sh_df: DataFrame
) -> DataFrame:
    """_evbands_frame with its stop set derived from the already-
    materialized shingle-DF table instead of a second full-corpus
    shingle spread (r15, VERDICT r14 item 7 — the eval-band build was
    the longest link of the delta-state stage because it recomputed
    what its sibling table already held). Value-identical:
    ``_stops_from_df(sh_df, nd)`` applies the same integer-exact
    threshold to the same DF counts (``_sh_df`` ≡ the counts
    ``_fdc_stop_set`` aggregates) against the same corpus count."""
    sd = _seeded(sess, sf_dir)
    nd = sd.agg(F.count(F.lit(1)).alias("nd"))
    stops = _stops_from_df(sh_df, nd)
    return _band_rows_for(sd.filter(_is_eval()), stops)


def delta_state_tables(
    spark: SparkSession, sf_dir: str, refresh: bool = False
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The maintenance operator's prev state as four job result tables
    over the duplicate-seeded snapshot: eval-gram DF counts, shingle
    DF counts, eval shingle sets, eval band rows. Materialized through
    the Part A layer once per process (warehouse._result_table's cache
    + staleness contract)."""
    from dungbeetle_spark.operators.warehouse import _result_table

    # r14 opt (guide §2.6): the state tables are mutually independent
    # (each derives from the seeded snapshot alone), so their job-layer
    # builds overlap on concurrent driver threads — the warehouse
    # per-key locks keep every table built exactly once. r15 (VERDICT
    # r14 item 7): the eval-band table CHAINS from the shingle-DF
    # table instead of recomputing the full-corpus shingle spread for
    # its stop set — the chain link (eval-only shingles + bands) is
    # far cheaper than the spread it no longer duplicates, so the
    # stage's critical path shortens even though the build serializes
    # behind its input table.
    g, s, es = materialize_concurrently(
        spark,
        lambda: _result_table(
            spark, sf_dir, "fate_evgram_df_dupseeded", _evgram_df_frame,
            refresh=refresh,
        ),
        lambda: _result_table(
            spark, sf_dir, "fdc_shingle_df_dupseeded", _shdf_frame,
            refresh=refresh,
        ),
        lambda: _result_table(
            spark, sf_dir, "fdc_eval_shingles_dupseeded", _evsh_frame,
            refresh=refresh,
        ),
    )
    eb = _result_table(
        spark,
        sf_dir,
        "fdc_eval_bands_dupseeded",
        lambda sess, sfd: _evbands_from_shdf(sess, sfd, s),
        refresh=refresh,
    )
    return g, s, es, eb


# -- the incremental refresh itself --------------------------------------------


def _nd_frames(sd: DataFrame) -> tuple[DataFrame, DataFrame]:
    """1-row (nd) corpus-size frames for prev and evolved snapshots —
    the evolved count is prev ± the delta's own counts (removals %11,
    additions %13), never a rescan; both broadcast into the stop
    threshold."""
    nd_prev = sd.agg(F.count(F.lit(1)).alias("nd"))
    delta = sd.agg(
        (
            F.count(F.when(F.col("doc_id") % 13 == 0, 1))
            - F.count(F.when(F.col("doc_id") % 11 == 0, 1))
        ).alias("dn")
    )
    nd_new = nd_prev.crossJoin(delta).select(
        (F.col("nd") + F.col("dn")).alias("nd")
    )
    return nd_prev, nd_new


def _merge_counts(
    prev: DataFrame, key: str, cnt: str, sub: DataFrame, add: DataFrame
) -> DataFrame:
    """The DF-count monoid merge: prev counts ∪ (−leaving) ∪ (+arriving)
    → one re-aggregate → survivors. ONE key-partitioned shuffle with
    map-side partial aggregation (the incremental_agg_maintenance
    shape: union of partial aggregates, no join)."""
    merged = (
        prev.select(key, F.col(cnt).alias("v"))
        .unionByName(sub.select(key, (-F.col(cnt)).alias("v")))
        .unionByName(add.select(key, F.col(cnt).alias("v")))
    )
    return (
        merged.groupBy(key)
        .agg(F.sum("v").alias(cnt))
        .filter(F.col(cnt) > 0)
    )


def refreshed_eval_grams(prev_g: DataFrame, sd: DataFrame, ev: DataFrame) -> DataFrame:
    """(gram): the refreshed eval-holdout gram set, by DF-count delta.
    Only the touched eval docs' text is read."""
    sub = _gram_df(_out_docs(sd).filter(_is_eval()))
    add = _gram_df(_in_docs(ev).filter(_is_eval()))
    return _merge_counts(prev_g, "gram", "c", sub, add).select("gram")


def refreshed_shingle_df(prev_s: DataFrame, sd: DataFrame, ev: DataFrame) -> DataFrame:
    """(hs, df): the refreshed shingle DF-count table, same monoid."""
    sub = _sh_df(_out_docs(sd))
    add = _sh_df(_in_docs(ev))
    return _merge_counts(prev_s, "hs", "df", sub, add)


def refreshed_stop_set(prev_s: DataFrame, sd: DataFrame, ev: DataFrame) -> DataFrame:
    """(hs): the refreshed stop-shingle set — refreshed DF counts
    re-thresholded against the evolved corpus size."""
    _nd_prev, nd_new = _nd_frames(sd)
    return _stops_from_df(refreshed_shingle_df(prev_s, sd, ev), nd_new)


def refreshed_eval_bands(
    prev_s: DataFrame,
    prev_es: DataFrame,
    prev_eb: DataFrame,
    sd: DataFrame,
    ev: DataFrame,
    stops_new: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, j, h): the refreshed eval band index.

    The index depends on the stop set, so a refresh must re-sign not
    just the touched eval docs but every eval doc CONTAINING a shingle
    whose stop status FLIPPED (the prev eval-shingle table makes that
    lookup an hs-keyed semi-join, no text read). Untouched, unaffected
    docs' rows carry over verbatim: their filtered shingle sets — and
    hence minhashes — are provably identical under the new stop set.

    ``stops_new`` lets a caller that already computed the refreshed
    stop set (the maintenance query derives all three references in
    one plan) share it instead of re-deriving the shingle-DF merge."""
    is_eval = _is_eval()
    nd_prev, nd_new = _nd_frames(sd)
    stops_prev = _stops_from_df(prev_s, nd_prev)
    if stops_new is None:
        stops_new = _stops_from_df(
            refreshed_shingle_df(prev_s, sd, ev), nd_new
        )
        stops_new = maybe_local_checkpoint(
            stops_new, eager=False
        )  # feeds the flip diff + the recompute filter
    flips = stops_new.subtract(stops_prev).unionByName(
        stops_prev.subtract(stops_new)
    )
    out_eval = _out_docs(sd).filter(is_eval).select("doc_id")
    in_eval = _in_docs(ev).filter(is_eval).select("doc_id")
    flip_affected = (
        prev_es.join(F.broadcast(flips), "hs", "left_semi")
        .select("doc_id")
        .distinct()
    )
    rec_ids = maybe_local_checkpoint(
        flip_affected.join(out_eval, "doc_id", "left_anti")
        .unionByName(in_eval)
        .distinct(),
        eager=False,
    )  # feeds the anti-join + the semi
    stale_ids = out_eval.unionByName(flip_affected).unionByName(rec_ids)
    rec_rows = _band_rows_for(
        ev.join(rec_ids, "doc_id", "left_semi"), stops_new
    )
    return prev_eb.join(
        stale_ids.distinct(), "doc_id", "left_anti"
    ).unionByName(rec_rows)


def refreshed_reference_tables(
    spark: SparkSession, sf_dir: str, refresh: bool = False
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The refreshed references as job result tables, CHAINED from the
    prev-state result tables (each builder's input is a previous job's
    output — the reference's cross-DB pipeline composition). Returns
    (eval_grams, stop_shingles, eval_band_index)."""
    from dungbeetle_spark.operators.warehouse import _result_table

    prev_g, prev_s, prev_es, prev_eb = delta_state_tables(
        spark, sf_dir, refresh=refresh
    )

    def _g_build(sess: SparkSession, sfd: str) -> DataFrame:
        sd = _seeded(sess, sfd)
        return refreshed_eval_grams(prev_g, sd, _evolved(sd))

    def _s_build(sess: SparkSession, sfd: str) -> DataFrame:
        sd = _seeded(sess, sfd)
        return refreshed_stop_set(prev_s, sd, _evolved(sd))

    # r14 opt (guide §2.6): the gram and stop refreshes are independent
    # of each other — overlap their job-layer builds; the band build
    # stays behind them because it chains from the shipped stop table.
    g, s = materialize_concurrently(
        spark,
        lambda: _result_table(
            spark, sf_dir, "fate_refreshed_eval_grams", _g_build,
            refresh=refresh,
        ),
        lambda: _result_table(
            spark, sf_dir, "fdc_refreshed_stops", _s_build, refresh=refresh
        ),
    )

    def _b_build(sess: SparkSession, sfd: str) -> DataFrame:
        # Chain from the just-shipped stop-set table (the _fev_build
        # discipline) instead of re-deriving the shingle-DF merge a
        # second time — the band job's input IS the stop job's output.
        sd = _seeded(sess, sfd)
        return refreshed_eval_bands(
            prev_s, prev_es, prev_eb, sd, _evolved(sd), stops_new=s
        )

    b = _result_table(
        spark, sf_dir, "fdc_refreshed_eval_bands", _b_build, refresh=refresh
    )
    return g, s, b


def _evolved(sd: DataFrame) -> DataFrame:
    from dungbeetle_spark.operators.pipeline import _evolved_docs

    return _evolved_docs(sd)


# -- fate_reference_maintenance (registry) -------------------------------------


def _maintenance_oracle() -> str:
    from dungbeetle_spark.functions.texts import md5_hash60_sql
    from dungbeetle_spark.operators.mixing import _EVAL_MOD, _fdc_sig_ctes
    from dungbeetle_spark.operators.pipeline import (
        _evolved_docs_sql,
        _fate_gram_ctes,
    )
    from dungbeetle_spark.operators.warehouse import _dup_seeded_sql

    band_key = (
        "concat(CAST(doc_id AS VARCHAR), '|', CAST(j AS VARCHAR), "
        "'|', CAST(h AS VARCHAR))"
    )
    return f"""
    WITH sdocs AS ({_dup_seeded_sql()}),
    {_evolved_docs_sql("sdocs")},
    {_fate_gram_ctes("newdocs")},
    ev AS (SELECT DISTINCT gram FROM grams
           WHERE doc_id % {_EVAL_MOD} = 0),
    {_fdc_sig_ctes("newdocs", "n")}
    SELECT * FROM (
      SELECT 'eval_band_index' AS ref,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             COALESCE(bit_xor({md5_hash60_sql(band_key)}), 0) AS xor_digest
      FROM nmh WHERE doc_id % {_EVAL_MOD} = 0
      UNION ALL
      SELECT 'eval_grams',
             CAST(COUNT(*) AS BIGINT),
             COALESCE(bit_xor({md5_hash60_sql("gram")}), 0)
      FROM ev
      UNION ALL
      SELECT 'stop_shingles',
             CAST(COUNT(*) AS BIGINT),
             COALESCE(bit_xor(hs), 0)
      FROM nstops
    ) ORDER BY ref
    """


def _digest_row(df: DataFrame, ref: str, xh: F.Column) -> DataFrame:
    return (
        df.select(xh.alias("xh"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.coalesce(F.expr("bit_xor(xh)"), F.lit(0)).alias("xor_digest"),
        )
        .select(F.lit(ref).alias("ref"), "n_rows", "xor_digest")
    )


@query(
    "fate_reference_maintenance",
    oracle=_maintenance_oracle(),
    doc="Incremental maintenance of the fate pipeline's three "
    "corpus-coupled reference structures (eval gram set, fuzzy "
    "stop-shingle set, eval band index) by DF-count deltas over the "
    "touched documents alone — the operator that makes "
    "fate_recompute_plan's reprobe action SOUND (probes against "
    "stale references replay yesterday's corpus). Prev state reads "
    "from four job result tables (gram/shingle DF counts, eval "
    "shingle sets, eval band rows); the refresh is a monoid merge "
    "(prev counts ∪ −leaving ∪ +arriving → re-aggregate → "
    "threshold), plus band-row recompute for exactly the eval docs "
    "that are touched or contain a stop-status-FLIPPED shingle. "
    "Output: per refreshed reference, its row count and the "
    "fold-order-free bit_xor of its row hashes. The oracle rebuilds "
    "all three references from the evolved corpus FROM SCRATCH, so "
    "the driver's value gate is literally the incremental ≡ rebuild "
    "pin.",
)
def fate_reference_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the subtraction/addition sides read ONLY the
    delta's text (id-filtered before any tokenize/shingle work); each
    merge is one key-partitioned shuffle with map-side partial
    aggregation over (prev table ∪ delta counts); the flip diff is a
    symmetric difference of two small stop sets; band recompute
    touches |touched eval ∪ flip-affected| docs. Nothing rescans an
    unchanged document — the full rebuild the oracle performs is
    exactly the cost this operator avoids."""
    from dungbeetle_spark.functions.texts import md5_hash60

    prev_g, prev_s, prev_es, prev_eb = delta_state_tables(spark, sf_dir)
    sd = _seeded(spark, sf_dir)
    ev = _evolved(sd)
    grams = refreshed_eval_grams(prev_g, sd, ev)
    # one shingle-DF merge + one stop threshold feed BOTH the stop
    # digest and the band refresh (checkpointed — without it the
    # band path re-derives the whole merge)
    _nd_prev, nd_new = _nd_frames(sd)
    stops = maybe_local_checkpoint(
        _stops_from_df(refreshed_shingle_df(prev_s, sd, ev), nd_new),
        eager=False,
    )
    bands = refreshed_eval_bands(
        prev_s, prev_es, prev_eb, sd, ev, stops_new=stops
    )
    band_key = F.concat_ws(
        "|",
        F.col("doc_id").cast("string"),
        F.col("j").cast("string"),
        F.col("h").cast("string"),
    )
    return (
        _digest_row(bands, "eval_band_index", md5_hash60(band_key))
        .unionByName(_digest_row(grams, "eval_grams", md5_hash60(F.col("gram"))))
        .unionByName(_digest_row(stops, "stop_shingles", F.col("hs")))
        .orderBy("ref")
    )


# -- fate_apply_plan (registry) -------------------------------------------------


def _apply_oracle() -> str:
    from dungbeetle_spark.operators.pipeline import (
        _evolved_docs_sql,
        _fate_oracle,
    )
    from dungbeetle_spark.operators.warehouse import _dup_seeded_sql

    return f"""
    WITH sdocs AS ({_dup_seeded_sql()}),
    {_evolved_docs_sql("sdocs")}
    SELECT doc_id, fate, quality_reason, canonical_id, n_contaminated,
           fuzzy_matched_bands
    FROM ({_fate_oracle("newdocs")}) x
    """


def _probe_frame(
    ev: DataFrame,
    probe_ids: DataFrame,
    evg: DataFrame,
    stops: DataFrame,
    fev: DataFrame,
) -> DataFrame:
    """(doc_id, n_cont, fm) for the probe set: the fate pipeline's
    decon + fuzzy stages restricted to ``probe_ids``, read against the
    refreshed reference frames. Per-doc independence of both stages
    (each doc's grams/signature never reads another doc) is what makes
    the restriction equal the full pipeline's values."""
    from dungbeetle_spark.operators.mixing import (
        _FDC_MIN_BANDS,
        _GRAM_N,
        fate_seeded_toks,
        word_ngrams,
    )
    from dungbeetle_spark.sources.catalog import fan_out

    pdocs = maybe_local_checkpoint(
        ev.join(probe_ids, "doc_id", "left_semi").select("doc_id", "text"),
        eager=False,
    )  # feeds the gram pass + the fuzzy pass
    grams = fate_seeded_toks(fan_out(pdocs)).select(
        "doc_id", F.explode_outer(word_ngrams("t", _GRAM_N)).alias("gram")
    )
    cont = maybe_local_checkpoint(
        grams.join(F.broadcast(evg.withColumn("hit", F.lit(1))), "gram", "left")
        .groupBy("doc_id")
        .agg(F.count(F.when(F.col("hit").isNotNull(), 1)).alias("n_cont")),
        eager=False,
    )  # feeds the survivor semi + the result
    surv = cont.filter(F.col("n_cont") == 0).select("doc_id")
    fb = _band_rows_for(pdocs.join(surv, "doc_id", "left_semi"), stops)
    fhits = (
        fb.join(
            F.broadcast(fev.select(F.col("doc_id").alias("eval_doc"), "j", "h")),
            ["j", "h"],
        )
        .groupBy("doc_id", "eval_doc")
        .agg(F.count(F.lit(1)).alias("m"))
        .filter(F.col("m") >= _FDC_MIN_BANDS)
        .groupBy("doc_id")
        .agg(F.max("m").alias("fm"))
    )
    return cont.join(fhits, "doc_id", "left").select(
        "doc_id", "n_cont", F.coalesce("fm", F.lit(0)).alias("fm")
    )


def _apply_frames(
    ev: DataFrame,
    prev: DataFrame,
    canon: DataFrame,
    evg: DataFrame,
    stops: DataFrame,
    fev: DataFrame,
) -> DataFrame:
    """Assemble the evolved manifest from (plan, prev manifest,
    canonical map, refreshed references) — extracted so tests can pin
    assembled ≡ _fate_frame(evolved) on the Spark side too."""
    from dungbeetle_spark.functions.texts import content_md5
    from dungbeetle_spark.operators.mixing import _EVAL_MOD
    from dungbeetle_spark.operators.text import funnel_verdicts
    from dungbeetle_spark.operators.warehouse import _recompute_plan_frame
    from dungbeetle_spark.sources.catalog import fan_out

    plan_lazy = _recompute_plan_frame(ev, prev, canon)
    lng = lambda c: F.lit(c).cast("long")  # noqa: E731

    # recompute: fresh verdicts + content hashes for the touched docs
    # (r14 opt: one projection computes verdict + md5 + eval flag —
    # no second scan, no join back on doc_id; guide §2.4)
    touched = ev.filter(_is_touched())
    tflags_lazy = funnel_verdicts(
        fan_out(touched),
        extra={
            "is_eval": F.col("doc_id") % _EVAL_MOD == 0,
            "h": content_md5("text"),
        },
    ).select("doc_id", "reason", "is_eval", "h")
    # r14 opt (guide §2.6): the plan triage and the touched-doc flags
    # are independent — materialize both reference frames concurrently
    # (plan feeds the three action filters; tflags three disjoint ones).
    plan, tflags = materialize_concurrently(
        ev.sparkSession,
        lambda: maybe_local_checkpoint(plan_lazy),
        lambda: maybe_local_checkpoint(tflags_lazy),
    )

    # keep_prev: the shipped manifest rows, verbatim (safety pinned by
    # test_plan_keep_prev_rows_are_provably_stable since r13)
    keep = (
        plan.filter(F.col("action") == "keep_prev")
        .select("doc_id")
        .join(prev, "doc_id")
        .select(*_MAN_COLS)
    )

    t_eval = tflags.filter(F.col("is_eval")).select(
        "doc_id",
        F.lit("eval_holdout").alias("fate"),
        F.col("reason").alias("quality_reason"),
        lng(-1).alias("canonical_id"),
        lng(0).alias("n_contaminated"),
        lng(0).alias("fuzzy_matched_bands"),
    )
    t_qdrop = tflags.filter(
        ~F.col("is_eval") & (F.col("reason") != "kept")
    ).select(
        "doc_id",
        F.lit("dropped_quality").alias("fate"),
        F.col("reason").alias("quality_reason"),
        lng(-1).alias("canonical_id"),
        lng(0).alias("n_contaminated"),
        lng(0).alias("fuzzy_matched_bands"),
    )

    # election: affected groups' surviving members (key = group id)
    # plus touched kept non-eval docs (key = existing group via the
    # canonical map's content hash, else a new hash-keyed group)
    re_members = (
        plan.filter(F.col("action") == "reelect")
        .select("doc_id")
        .join(prev.select("doc_id", "canonical_id"), "doc_id")
        .select(
            "doc_id",
            F.concat(F.lit("g:"), F.col("canonical_id").cast("string")).alias(
                "key"
            ),
        )
    )
    # The canon map is corpus-cardinality — never broadcast it whole.
    # Prune it to the touched docs' hashes first (the touched-h set IS
    # delta-small, so IT broadcasts into the semi-join), then the
    # |touched|-bounded remainder is safe on the build side of the
    # left join.
    t_kept = tflags.filter(~F.col("is_eval") & (F.col("reason") == "kept"))
    canon_t = canon.join(
        F.broadcast(t_kept.select("h").distinct()), "h", "semi"
    )
    t_elect = (
        t_kept
        .join(F.broadcast(canon_t), "h", "left")
        .select(
            "doc_id",
            F.coalesce(
                F.concat(F.lit("g:"), F.col("dup_of").cast("string")),
                F.concat(F.lit("h:"), F.col("h")),
            ).alias("key"),
        )
    )
    election = maybe_local_checkpoint(
        re_members.unionByName(t_elect), eager=False
    )  # feeds winners + the member join
    winners = election.groupBy("key").agg(F.min("doc_id").alias("keeper"))
    members = election.join(winners, "key")
    losers = members.filter(F.col("doc_id") != F.col("keeper")).select(
        "doc_id",
        F.lit("dropped_duplicate").alias("fate"),
        F.lit("kept").alias("quality_reason"),
        F.col("keeper").cast("long").alias("canonical_id"),
        lng(0).alias("n_contaminated"),
        lng(0).alias("fuzzy_matched_bands"),
    )
    winner_ids = members.filter(F.col("doc_id") == F.col("keeper")).select(
        "doc_id"
    )

    # probe: surviving canonicals (reprobe) + fresh election winners,
    # against the REFRESHED references
    probe_ids = (
        plan.filter(F.col("action") == "reprobe")
        .select("doc_id")
        .unionByName(winner_ids)
    )
    probe = _probe_frame(ev, probe_ids, evg, stops, fev)
    probe_rows = probe.select(
        "doc_id",
        F.when(F.col("n_cont") > 0, "dropped_contaminated")
        .when(F.col("fm") > 0, "dropped_fuzzy_contaminated")
        .otherwise("kept")
        .alias("fate"),
        F.lit("kept").alias("quality_reason"),
        F.col("doc_id").cast("long").alias("canonical_id"),
        F.col("n_cont").cast("long").alias("n_contaminated"),
        F.col("fm").cast("long").alias("fuzzy_matched_bands"),
    )

    return (
        keep.unionByName(t_eval)
        .unionByName(t_qdrop)
        .unionByName(losers)
        .unionByName(probe_rows)
    )


@query(
    "fate_apply_plan",
    oracle=_apply_oracle(),
    doc="The fate delta EXECUTOR (VERDICT r13 item 3): apply "
    "fate_recompute_plan to assemble the evolved corpus's complete "
    "fate manifest — keep_prev rows copied from the shipped manifest "
    "result table, reelect as a keeper election over exactly the "
    "affected groups' members (plus incoming content-hash hits via "
    "the canonical-map table), reprobe as a map-side decon/fuzzy "
    "probe of surviving canonicals against the REFRESHED reference "
    "tables (fate_reference_maintenance's output — reprobe is only "
    "sound against refreshed references), and recompute as the full "
    "per-doc pipeline over the touched docs alone. The oracle is the "
    "full composed fate oracle over the evolved corpus, so the "
    "driver pins assembled ≡ full recompute value-for-value on all "
    "six manifest columns.",
)
def fate_apply_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: keep_prev is a manifest-table scan + id join (no
    text); recompute's verdict/hash work is |touched|; the election
    shuffles |affected members + incoming| rows by group key; the
    probes are the one canonical-proportional term — map-side gram/
    shingle probes against three BROADCAST refreshed reference tables,
    with no dedup shuffle and no reference rebuild behind them (the
    maintenance job already shipped those tables; at warehouse scale
    this query reads them as parquet). Compare the oracle's cost: the
    full recompute re-runs every stage corpus-wide. The assembled
    manifest is the NEW shipped table — the deployment loop closes by
    writing it through the same job layer the prev one came from."""
    sd = _seeded(spark, sf_dir)
    ev = _evolved(sd)
    from dungbeetle_spark.operators.warehouse import (
        seeded_canon_table,
        seeded_manifest_table,
    )

    prev = seeded_manifest_table(spark, sf_dir)
    canon = seeded_canon_table(spark, sf_dir)
    evg, stops, fev = refreshed_reference_tables(spark, sf_dir)
    return _apply_frames(ev, prev, canon, evg, stops, fev)


# -- fate_deploy_cycle: SHIP the assembled manifest, consume it ----------------


def next_manifest_table(
    spark: SparkSession, sf_dir: str, refresh: bool = False
) -> DataFrame:
    """SHIP step: the delta-assembled evolved manifest written as the
    NEXT ``results_<job_id>`` manifest table through the Part A job
    layer — the same artifact class the prev manifest is, so the next
    deployment's planner reads this table as ITS prev side. The
    dependency tables (prev manifest, canonical map, refreshed
    references) materialize first and ride into the builder by
    closure (the worker-thread discipline warehouse._fev_build
    established)."""
    from dungbeetle_spark.operators.warehouse import (
        _result_table,
        seeded_canon_table,
        seeded_manifest_table,
    )

    prev = seeded_manifest_table(spark, sf_dir)
    canon = seeded_canon_table(spark, sf_dir)
    evg, stops, fev = refreshed_reference_tables(spark, sf_dir)

    def _build(sess: SparkSession, sfd: str) -> DataFrame:
        sd = _seeded(sess, sfd)
        return _apply_frames(_evolved(sd), prev, canon, evg, stops, fev)

    return _result_table(
        spark, sf_dir, "fate_manifest_dupseeded_next", _build, refresh=refresh
    )


def _deploy_oracle() -> str:
    from dungbeetle_spark.operators.pipeline import (
        _datacard_oracle,
        _evolved_docs_sql,
    )
    from dungbeetle_spark.operators.warehouse import _dup_seeded_sql

    return f"""
    WITH sdocs AS ({_dup_seeded_sql()}),
    {_evolved_docs_sql("sdocs")}
    SELECT * FROM ({_datacard_oracle("newdocs")}) x
    """


@query(
    "fate_deploy_cycle",
    oracle=_deploy_oracle(),
    doc="The full incremental deployment LOOP, closed (r15 candidate "
    "pulled forward): plan (fate_recompute_plan) → maintain "
    "references (fate_reference_maintenance) → apply "
    "(fate_apply_plan) → SHIP the assembled manifest as the next "
    "results_<job_id> table through the job layer → CONSUME it — "
    "this query is the evolved release's datacard computed FROM the "
    "shipped next-manifest table, never from a fate replay. The "
    "oracle is the full datacard oracle over the evolved corpus "
    "(whose fate CTE is a from-scratch recompute), so the driver "
    "pins ship-and-consume ≡ full recompute end to end: every "
    "per-source fate count, kept_ppm, and redacted-volume number "
    "must survive the plan-delta assembly, the canonical type "
    "collapse of the result backend, and the table round-trip.",
)
def fate_deploy_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the ship step writes |corpus| manifest rows once
    through the job layer (the deployment's one unavoidable
    corpus-cardinality write — six narrow columns, no text); the
    datacard consumer is then release_datacard_from_manifest's shape
    over the NEW table: one pruned manifest scan feeding the fate
    rollup and the kept membership, the map-only seed/redact
    projection, and |sources|-bounded aggregates. The expensive terms
    (fate recompute, reference rebuild) are exactly what the delta
    assembly avoided upstream."""
    from dungbeetle_spark.operators.pipeline import _datacard_frame

    sd = _seeded(spark, sf_dir)
    ev = _evolved(sd)
    nxt = next_manifest_table(spark, sf_dir)
    return _datacard_frame(ev, nxt)


# -- shard_export_diff_delta: the re-export plan with ZERO fate replays --------


def seeded_export_manifest_table(
    spark: SparkSession, sf_dir: str, refresh: bool = False
) -> DataFrame:
    """The shipped shard-export manifest of the duplicate-seeded
    snapshot — the prev side of the delta-aware export diff,
    materialized through the job layer like export_manifest_table is
    for the organic corpus."""
    from dungbeetle_spark.operators.pipeline import _export_frame
    from dungbeetle_spark.operators.warehouse import _result_table

    return _result_table(
        spark,
        sf_dir,
        "export_manifest_dupseeded",
        lambda sess, sfd: _export_frame(_seeded(sess, sfd)),
        refresh=refresh,
    )


def _export_diff_delta_oracle() -> str:
    from dungbeetle_spark.operators.pipeline import (
        _evolved_docs_sql,
        _export_oracle,
    )
    from dungbeetle_spark.operators.warehouse import _dup_seeded_sql

    return f"""
    WITH sdocs AS ({_dup_seeded_sql()}),
    {_evolved_docs_sql("sdocs")},
    prev AS (SELECT * FROM ({_export_oracle("sdocs")}) p),
    curr AS (SELECT * FROM ({_export_oracle("newdocs")}) c)
    SELECT COALESCE(p.shard_id, c.shard_id) AS shard_id,
           CASE WHEN p.shard_id IS NULL THEN 'new'
                WHEN c.shard_id IS NULL THEN 'retired'
                WHEN p.content_digest <> c.content_digest THEN 'rewrite'
                ELSE 'unchanged' END AS decision,
           p.n_docs AS prev_n_docs,
           c.n_docs AS curr_n_docs,
           p.content_digest AS prev_digest,
           c.content_digest AS curr_digest
    FROM prev p FULL OUTER JOIN curr c ON p.shard_id = c.shard_id
    """


@query(
    "shard_export_diff_delta",
    oracle=_export_diff_delta_oracle(),
    doc="The incremental re-export plan with ZERO fate replays (r15 "
    "candidate 2 pulled forward): prev is the SHIPPED export-manifest "
    "result table; curr's export membership comes from the "
    "delta-SHIPPED next fate manifest (fate_deploy_cycle's table — "
    "itself assembled by the plan executor, never by a recompute), "
    "so the only corpus-scale work left in the diff is the curr "
    "export projection over kept docs' bytes, which a re-export must "
    "read anyway to digest. Compare the fixture diff (two composed "
    "fate replays) and the r13 warehouse twin (one): this is the "
    "shape a 100 TB nightly actually runs. The oracle replays BOTH "
    "exports relationally over the seeded/evolved snapshots, so "
    "every digest-chain decision is pinned "
    "delta-shipped ≡ fully-replayed.",
)
def shard_export_diff_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: prev is a driver-scale parquet read (cardinality =
    shard count); curr membership is a pruned scan of the shipped
    next-manifest table (doc_id + fate) semi-joined into the evolved
    corpus; the export projection (shared PII seed/redact, shuffle
    key, per-shard digest chain) and ONE shard-keyed aggregate are
    the remaining work; the decision join is |shards|². The composed
    fate plan appears NOWHERE in this query's lineage — it was paid
    once by the delta deployment that shipped the manifest."""
    from dungbeetle_spark.operators.pipeline import _diff_frames, _export_frame

    prev = seeded_export_manifest_table(spark, sf_dir)
    nxt = next_manifest_table(spark, sf_dir)
    kept = nxt.filter(F.col("fate") == "kept").select("doc_id")
    sd = _seeded(spark, sf_dir)
    curr = _export_frame(_evolved(sd), kept=kept)
    return _diff_frames(prev, curr)


# -- shard_export_apply_delta: assemble the next export manifest ---------------


def _with_shard(ids: DataFrame) -> DataFrame:
    """(doc_id) -> (doc_id, shard_id): the export's hash-range shard
    assignment — curation.ilv_okey (the ONE shuffle-key definition
    _export_frame also uses) DIV curation._ILV_SHIFT. Shard
    membership is a pure function of doc_id, which is what makes
    dirty-shard detection a no-text id computation."""
    from dungbeetle_spark.operators.curation import _ILV_SHIFT, ilv_okey

    return ids.select("doc_id", ilv_okey().alias("okey")).select(
        "doc_id", F.expr(f"okey DIV {_ILV_SHIFT}").alias("shard_id")
    )


def _assemble_export(
    prev_exp: DataFrame,
    kept_prev: DataFrame,
    kept_next: DataFrame,
    edited_kept: DataFrame,
    ev: DataFrame,
) -> DataFrame:
    """The incremental re-export ASSEMBLY over arbitrary frames:
    dirty shards = shards holding a kept-membership flip (kept in
    exactly one of the two shipped fate manifests) or a
    content-edited doc that stayed kept; prev export-manifest rows
    are COPIED for every clean shard, and the export projection
    (seed/redact/digest-chain) runs only over dirty shards' kept
    docs. Factored frame-level (like _apply_frames) so the crafted
    sparse-evolution test can drive arms the fixture evolution
    saturates — at fixture scale ~1/7 of docs are edited, so every
    hash-range shard is dirty and the copy arm is fixture-dead."""
    from dungbeetle_spark.operators.pipeline import _export_frame

    pk = kept_prev.select("doc_id").withColumn("p", F.lit(1))
    nk = kept_next.select("doc_id").withColumn("n", F.lit(1))
    flips = (
        pk.join(nk, "doc_id", "full_outer")
        .filter(F.col("p").isNull() | F.col("n").isNull())
        .select("doc_id")
    )
    dirty_docs = flips.unionByName(edited_kept.select("doc_id")).distinct()
    dirty = _with_shard(dirty_docs).select("shard_id").distinct()

    dirty_kept = (
        _with_shard(kept_next.select("doc_id"))
        .join(F.broadcast(dirty), "shard_id", "semi")
        .select("doc_id")
    )
    reexported = _export_frame(
        ev.join(dirty_kept, "doc_id"), kept=dirty_kept
    ).withColumn("action", F.lit("reexported"))
    copied = prev_exp.join(
        F.broadcast(dirty), "shard_id", "left_anti"
    ).withColumn("action", F.lit("copied"))
    return copied.unionByName(reexported)


def _apply_export_oracle() -> str:
    from dungbeetle_spark.functions.texts import md5_hash60_sql
    from dungbeetle_spark.operators.curation import _ILV_SHIFT
    from dungbeetle_spark.operators.pipeline import (
        _evolved_docs_sql,
        _export_oracle,
        _fate_oracle,
    )
    from dungbeetle_spark.operators.warehouse import _dup_seeded_sql

    okey = md5_hash60_sql("concat('shuffle|', CAST(doc_id AS VARCHAR))")
    return f"""
    WITH sdocs AS ({_dup_seeded_sql()}),
    {_evolved_docs_sql("sdocs")},
    pk AS (SELECT doc_id FROM ({_fate_oracle("sdocs")}) WHERE fate = 'kept'),
    nk AS (SELECT doc_id FROM ({_fate_oracle("newdocs")}) WHERE fate = 'kept'),
    flips AS (
      SELECT COALESCE(pk.doc_id, nk.doc_id) AS doc_id
      FROM pk FULL OUTER JOIN nk ON pk.doc_id = nk.doc_id
      WHERE pk.doc_id IS NULL OR nk.doc_id IS NULL),
    edits AS (SELECT doc_id FROM nk WHERE doc_id >= 0 AND doc_id % 7 = 3),
    dd AS (SELECT doc_id FROM flips UNION SELECT doc_id FROM edits),
    dirty AS (SELECT DISTINCT {okey} // {_ILV_SHIFT} AS shard_id FROM dd),
    full_exp AS (SELECT * FROM ({_export_oracle("newdocs")}) x)
    SELECT e.shard_id, e.n_docs, e.total_chars, e.first_doc, e.last_doc,
           e.content_digest, e.chars_redacted, e.residual_pii,
           CASE WHEN d.shard_id IS NULL THEN 'copied'
                ELSE 'reexported' END AS action
    FROM full_exp e LEFT JOIN dirty d ON e.shard_id = d.shard_id
    """


@query(
    "shard_export_apply_delta",
    oracle=_apply_export_oracle(),
    doc="The incremental re-export EXECUTOR — shard_export_diff_delta "
    "decides, this ASSEMBLES the next export manifest: dirty shards "
    "(a kept-membership flip between the two shipped fate manifests, "
    "or a changelog-edited doc that stayed kept — both no-text "
    "doc_id computations, since shard assignment is a pure hash of "
    "doc_id) are re-exported from the evolved corpus, and every "
    "clean shard's row is COPIED from the shipped export-manifest "
    "result table without touching its bytes. The oracle is the "
    "full export oracle over the evolved corpus LEFT JOINed with a "
    "relational replay of the dirty-shard derivation (both fate "
    "oracles recomputed from scratch), so the driver pins BOTH "
    "equalities at once: every assembled digest-chain row equals "
    "the full re-export's, and every copy/reexport decision equals "
    "the relational dirty test.",
)
def shard_export_apply_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: dirty detection is two pruned manifest-table
    scans (doc_id, fate) + the changelog ids — a doc_id-keyed
    full-outer join and one hash projection, no text; the copy arm
    is a |shards|-row broadcast anti-join against the shipped export
    manifest; the re-export arm reads text for dirty shards' kept
    docs ONLY (the semi-join closes over a slim id->shard frame
    BEFORE any text column is touched, so a 100 TB re-export with a
    sparse changelog reads the dirty fraction of the corpus, not all
    of it). Fixture note: the snapshot evolution edits ~1/7 of docs,
    so dirty-shard density depends on docs-per-shard — at smoke
    scale (~9 docs/shard) ~a quarter of shards ride the copy path;
    at sf0.1+ nearly every shard is dirty and the cell prices one
    near-full restricted export. The copy arm is therefore ALSO
    pinned deterministically by the crafted sparse-evolution tests
    (test_r14_operators), same discipline as the stop-flip arm."""
    from dungbeetle_spark.operators.warehouse import seeded_manifest_table

    prev_man = seeded_manifest_table(spark, sf_dir)
    nxt_man = next_manifest_table(spark, sf_dir)
    prev_exp = seeded_export_manifest_table(spark, sf_dir)
    kept_prev = prev_man.filter(F.col("fate") == "kept").select("doc_id")
    kept_next = nxt_man.filter(F.col("fate") == "kept").select("doc_id")
    edited_kept = kept_next.filter(
        (F.col("doc_id") >= 0) & (F.col("doc_id") % 7 == 3)
    )
    sd = _seeded(spark, sf_dir)
    return _assemble_export(
        prev_exp, kept_prev, kept_next, edited_kept, _evolved(sd)
    )


# -- shard_export_diff_shipped: the nightly diff, tables-only ------------------


def next_export_manifest_table(
    spark: SparkSession, sf_dir: str, refresh: bool = False
) -> DataFrame:
    """SHIP step for the export side: the delta-ASSEMBLED next export
    manifest (shard_export_apply_delta minus its action audit column)
    written as the next ``results_<job_id>`` table through the Part A
    job layer — the same artifact class the prev export manifest is,
    so the next rollover's diff and assembly read this table as THEIR
    prev side. Dependency tables materialize first in caller context
    and ride into the builder by closure (the worker-thread
    discipline)."""
    from dungbeetle_spark.operators.warehouse import (
        _result_table,
        seeded_manifest_table,
    )

    prev_man = seeded_manifest_table(spark, sf_dir)
    nxt_man = next_manifest_table(spark, sf_dir)
    prev_exp = seeded_export_manifest_table(spark, sf_dir)

    def _build(sess: SparkSession, sfd: str) -> DataFrame:
        kept_prev = prev_man.filter(F.col("fate") == "kept").select("doc_id")
        kept_next = nxt_man.filter(F.col("fate") == "kept").select("doc_id")
        edited = kept_next.filter(
            (F.col("doc_id") >= 0) & (F.col("doc_id") % 7 == 3)
        )
        ev = _evolved(_seeded(sess, sfd))
        return _assemble_export(
            prev_exp, kept_prev, kept_next, edited, ev
        ).drop("action")

    return _result_table(
        spark, sf_dir, "export_manifest_dupseeded_next", _build, refresh=refresh
    )


@query(
    "shard_export_diff_shipped",
    oracle=_export_diff_delta_oracle(),
    doc="The nightly re-export diff run ENTIRELY between two shipped "
    "export-manifest result tables — prev from the previous "
    "deployment, curr from the delta-assembled manifest the rollover "
    "just shipped (next_export_manifest_table). Zero fate replays, "
    "zero export projections, zero corpus reads at query time: two "
    "|shards|-row table scans and one full-outer join. The oracle is "
    "the full relational two-replay diff (both exports recomputed "
    "from scratch over the seeded/evolved snapshots), so the driver "
    "transitively pins the whole ship round-trip: the assembled "
    "manifest that went through the job layer's canonical type "
    "collapse must still reproduce every digest-chain decision of a "
    "from-scratch re-export.",
)
def shard_export_diff_shipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: both sides are driver-scale parquet reads
    (cardinality = shard count, a production parameter); the decision
    join is |shards|². This is the dashboard query a 100 TB nightly
    actually serves — all corpus-proportional work was paid once, by
    the deployment that shipped the tables (compare the fixture diff:
    two composed fate replays; the r13 warehouse twin: one; the
    delta diff: one export projection; this: none)."""
    from dungbeetle_spark.operators.pipeline import _diff_frames

    prev = seeded_export_manifest_table(spark, sf_dir)
    nxt = next_export_manifest_table(spark, sf_dir)
    return _diff_frames(prev, nxt)


# -- canon_map_maintenance: the fourth gate reference, delta-refreshed ---------


def canon_member_table(
    spark: SparkSession, sf_dir: str, refresh: bool = False
) -> DataFrame:
    """The canonical map's MEMBERSHIP state table — ``(doc_id, h)``
    for every quality-surviving non-eval doc of the seeded snapshot,
    shipped through the job layer. The map alone (one keeper row per
    h) cannot absorb a keeper's departure; the membership table can:
    min-keeper re-election is a groupBy over exactly the touched
    hashes' remaining members."""
    from dungbeetle_spark.operators.warehouse import (
        _canon_members,
        _dup_seeded,
        _result_table,
    )

    return _result_table(
        spark,
        sf_dir,
        "canon_members_dupseeded",
        lambda sess, sfd: _canon_members(
            _dup_seeded(_t(sess, sfd, "documents")["documents"])
        ),
        refresh=refresh,
    )


def _refreshed_canon_frame(
    prev_members: DataFrame,
    prev_canon: DataFrame,
    out_ids: DataFrame,
    in_rows: DataFrame,
) -> DataFrame:
    """The canon-map delta refresh over arbitrary frames: touched
    hashes = departing members' h (an id-keyed semi-join against the
    membership table — NO text work for departures) ∪ arriving
    members' h; re-elect min-keeper over exactly the touched hashes'
    surviving+arriving members; every untouched map row passes
    through verbatim. A touched hash whose members all departed drops
    out of the map (the groupBy produces no row), matching a full
    rebuild."""
    touched_h = (
        prev_members.join(out_ids, "doc_id", "semi")
        .select("h")
        .unionByName(in_rows.select("h"))
        .distinct()
    )
    kept = prev_members.join(F.broadcast(touched_h), "h", "semi").join(
        out_ids, "doc_id", "left_anti"
    )
    re_elected = (
        kept.unionByName(in_rows)
        .groupBy("h")
        .agg(F.min("doc_id").alias("dup_of"))
    )
    untouched = prev_canon.join(F.broadcast(touched_h), "h", "left_anti")
    return untouched.unionByName(re_elected)


def _canon_maintenance_oracle() -> str:
    from dungbeetle_spark.functions.texts import content_md5_sql
    from dungbeetle_spark.operators.mixing import _EVAL_MOD
    from dungbeetle_spark.operators.pipeline import (
        _evolved_docs_sql,
        _fate_verdict_ctes,
    )
    from dungbeetle_spark.operators.warehouse import _dup_seeded_sql

    return f"""
    WITH sdocs AS ({_dup_seeded_sql()}),
    {_evolved_docs_sql("sdocs")},
    {_fate_verdict_ctes("newdocs")}
    SELECT {content_md5_sql("d.text")} AS h,
           CAST(MIN(d.doc_id) AS BIGINT) AS dup_of
    FROM newdocs d JOIN verdict v USING (doc_id)
    WHERE v.reason = 'kept' AND d.doc_id % {_EVAL_MOD} <> 0
    GROUP BY 1
    """


@query(
    "canon_map_maintenance",
    oracle=_canon_maintenance_oracle(),
    doc="Incremental maintenance of the FOURTH gate reference — the "
    "canonical map (content-md5 → min-keeper among quality-surviving "
    "non-eval docs) that every ingest gate's dedup probe reads. "
    "fate_reference_maintenance refreshed the other three (eval "
    "grams, stop shingles, eval band index); the canon map needs its "
    "own state shape because min-keeper is not a monoid under "
    "removals: the shipped (doc_id, h) MEMBERSHIP table supplies the "
    "surviving members, re-election runs over exactly the touched "
    "hashes, and untouched map rows pass through verbatim. The "
    "oracle REBUILDS the map from the evolved corpus from scratch, "
    "so the driver gate is literally incremental ≡ rebuild.",
)
def canon_map_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: departures are an id-keyed semi-join against the
    membership state table (no text); arrivals run the quality funnel
    + one md5 over the touched docs alone; the re-election groupBy
    shuffles only touched hashes' member rows (broadcast touched-h
    semi-join prunes the membership scan); untouched rows stream
    through a broadcast anti-join. Nothing re-reads an unchanged
    document — the full rebuild the oracle prices re-hashes the
    entire corpus."""
    from dungbeetle_spark.operators.warehouse import (
        _canon_members,
        seeded_canon_table,
    )

    sd = _seeded(spark, sf_dir)
    ev = _evolved(sd)
    prev_members = canon_member_table(spark, sf_dir)
    prev_canon = seeded_canon_table(spark, sf_dir)
    out_ids = _out_docs(sd).select("doc_id")
    in_rows = _canon_members(_in_docs(ev))
    return _refreshed_canon_frame(prev_members, prev_canon, out_ids, in_rows)


def refreshed_canon_table(
    spark: SparkSession, sf_dir: str, refresh: bool = False
) -> DataFrame:
    """The delta-refreshed canonical map SHIPPED as a result table —
    the fourth refreshed gate reference, joining the three
    fdc_refreshed_* tables so a post-rollover ingest gate reads a
    complete, corpus-current reference set. Dependencies (prev
    membership + prev map tables) materialize first in caller context
    and ride in by closure."""
    from dungbeetle_spark.operators.warehouse import (
        _canon_members,
        _result_table,
        seeded_canon_table,
    )

    prev_members = canon_member_table(spark, sf_dir)
    prev_canon = seeded_canon_table(spark, sf_dir)

    def _build(sess: SparkSession, sfd: str) -> DataFrame:
        sd = _seeded(sess, sfd)
        ev = _evolved(sd)
        return _refreshed_canon_frame(
            prev_members,
            prev_canon,
            _out_docs(sd).select("doc_id"),
            _canon_members(_in_docs(ev)),
        )

    return _result_table(
        spark, sf_dir, "fdc_refreshed_canon", _build, refresh=refresh
    )


def evolved_docs_table(
    spark: SparkSession, sf_dir: str, refresh: bool = False
) -> DataFrame:
    """The rollover's corpus snapshot (the evolved duplicate-seeded
    docs) as a result table — the parquet directory a post-rollover
    ingest stream replays from (streaming sources read paths, not
    frames)."""
    from dungbeetle_spark.operators.warehouse import _result_table

    return _result_table(
        spark,
        sf_dir,
        "evolved_docs_dupseeded",
        lambda sess, sfd: _evolved(_seeded(sess, sfd)).select(
            "doc_id", "text", "lang", "source"
        ),
        refresh=refresh,
    )


def warehouse_builders() -> dict:
    """table-name → builder for every pre-materializable warehouse
    table the bench and the scale sweep consume — ONE map (review
    r14: the two tools carried identical inline copies that the
    _MAT_TABLES/_WAREHOUSE_TABLES sync test could not see, so a table
    added to one copy only would KeyError at materialization time).
    The sync test now also pins that every table name either tool
    references has a builder here."""
    from dungbeetle_spark.operators import warehouse

    return {
        "manifest": warehouse.manifest_table,
        "export_manifest": warehouse.export_manifest_table,
        "fate_reference": warehouse.fate_reference_tables,
        "seeded_manifest": warehouse.seeded_manifest_table,
        "seeded_canon": warehouse.seeded_canon_table,
        "delta_state": delta_state_tables,
        "refreshed_refs": refreshed_reference_tables,
        "next_manifest": next_manifest_table,
        "seeded_export_manifest": seeded_export_manifest_table,
        "next_export_manifest": next_export_manifest_table,
        "canon_members": canon_member_table,
        "refreshed_canon": refreshed_canon_table,
        "evolved_docs": evolved_docs_table,
    }
