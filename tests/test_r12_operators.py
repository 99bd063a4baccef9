"""Non-hollowness invariants for the round-12 operators.

Round 12 composes the release pipeline end to end (VERDICT r11 items
1-2, 7) and bounds the last registry quadratic (item 4):

- ``corpus_fate_manifest`` / ``streaming_corpus_fate_gate`` gain the
  FUZZY decontamination stage: exact-decon survivors whose banded
  minhash agrees with some eval doc on >= _FDC_MIN_BANDS bands are
  ``dropped_fuzzy_contaminated`` — the lightly edited benchmark copy
  that sailed through the r11 manifest is now stopped before export;
- ``shard_export_manifest`` digests the PII-REDACTED text the
  pipeline actually ships (redaction folded into the export
  projection; ``residual_pii`` pinned 0 by both engines);
- ``streaming_pii_redaction_gate`` is the batch audit's stateless
  ingest twin (per-doc rows; aggregating them reproduces the audit);
- ``lsh_band_planner`` (exact mode) runs its pair join under the
  leader-star bucket cap with a ``truncated_buckets`` audit column.

Value correctness on the driver fixture is covered by
test_queries_oracle.py; these tests pin the properties the
composition must preserve.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dungbeetle_spark.queries import registry

SPECS = registry()


def _fate(spark, sf):
    return {
        r["doc_id"]: r
        for r in SPECS["corpus_fate_manifest"]
        .build(spark, sf)
        .collect()
    }


def test_fate_fuzzy_stage_is_exactly_the_standalone_verdict(spark, sf_smoke):
    """The composed manifest's fuzzy stage must agree with the
    standalone fuzzy_decontamination operator doc-for-doc: the
    dropped_fuzzy_contaminated set IS the standalone flag set
    restricted to exact-decon survivors (the only docs whose fuzzy
    verdict the fate CASE can reach), with the same matched-band
    count, and no standalone-flagged doc remains 'kept'."""
    from dungbeetle_spark.operators.mixing import _FDC_MIN_BANDS

    fate = _fate(spark, sf_smoke)
    flagged = {
        r["doc_id"]: r["matched_bands"]
        for r in SPECS["fuzzy_decontamination"].build(spark, sf_smoke).collect()
    }
    dropped = {k for k, r in fate.items()
               if r["fate"] == "dropped_fuzzy_contaminated"}
    surv3 = dropped | {k for k, r in fate.items() if r["fate"] == "kept"}
    assert dropped, "fixture must exercise the fuzzy stage"
    assert dropped == set(flagged) & surv3
    # no fuzzy-flagged doc may survive to export
    assert not {k for k, r in fate.items() if r["fate"] == "kept"} & set(flagged)
    for k in dropped:
        r = fate[k]
        assert r["fuzzy_matched_bands"] == flagged[k] >= _FDC_MIN_BANDS
        # the first four stages all said keep — absent the fuzzy arm
        # this doc WOULD have shipped (the r11 gap, VERDICT item 1)
        assert r["quality_reason"] == "kept"
        assert r["canonical_id"] == k
        assert r["n_contaminated"] == 0
    # the evidence column is 0 for every doc the stage never probed
    for k, r in fate.items():
        if k not in dropped:
            assert r["fuzzy_matched_bands"] == 0


def test_edited_benchmark_copy_is_dropped_by_the_composed_manifest(spark):
    """The end-to-end story VERDICT r11 item 1 asks for: a lightly
    edited benchmark copy — shared template body, per-doc edits, so
    its exact 5-grams no longer match any eval gram — passes quality,
    dedup, and EXACT decon, and is then dropped by the composed
    fuzzy stage. Planted corpus: one eval-side template member
    (doc_id 333 = 9*37), one train-side member (doc_id 9), and 20
    distinct filler docs so the template shingles stay under the
    20% stop-DF threshold while the universal footer is filtered."""
    from dungbeetle_spark.operators.mixing import _FDC_MIN_BANDS
    from dungbeetle_spark.operators.pipeline import _fate_frame

    def mk_text(i: int) -> str:
        # 30 words (>= _QF_MIN_WORDS), mean word length inside the
        # funnel's chars-per-word band, 2 stopwords, and every
        # non-stopword GLOBALLY unique (base-26 of i*28+j) so no two
        # docs share any exact 5-gram or fuzzy 3-shingle organically —
        # the only cross-doc text overlap is the planted template.
        words = ["the", "of"] + [
            "".join(
                chr(97 + ((i * 28 + j) // 26**p) % 26) for p in range(4)
            )
            for j in range(28)
        ]
        return " ".join(words)

    rows = [(333, mk_text(0), "en", "web"), (9, mk_text(1), "en", "web")]
    fid, i = 1, 2
    while len(rows) < 22:
        if fid % 9 and fid % 37 and fid % 10:
            rows.append((fid, mk_text(i), "en", "web"))
            i += 1
        fid += 1
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    fate = {r["doc_id"]: r for r in _fate_frame(d).collect()}
    assert fate[333]["fate"] == "eval_holdout"
    b = fate[9]
    assert b["fate"] == "dropped_fuzzy_contaminated"
    assert b["quality_reason"] == "kept"          # passed the funnel
    assert b["canonical_id"] == 9                  # passed exact dedup
    assert b["n_contaminated"] == 0                # passed EXACT decon
    assert b["fuzzy_matched_bands"] >= _FDC_MIN_BANDS


def test_export_digest_chain_replays_over_redacted_text(spark, sf_smoke):
    """Full plain-Python replay of the r12 export contract: seed the
    fate-kept docs with the fixture PII, REDACT them, chain
    md5(shipped) in (okey, doc_id) order per shard — every shard's
    digest, count, shipped char volume, chars_redacted, and
    residual_pii must match shard_export_manifest exactly. Proves the
    digest covers the redacted bytes (VERDICT r11 item 2: the shipped
    artifact used to digest RAW text while the audit rebuilt redacted
    text nothing shipped)."""
    import hashlib
    import re

    from dungbeetle_spark.functions.texts import md5_hash60_py
    from dungbeetle_spark.operators.curation import _ILV_SHIFT
    from dungbeetle_spark.sources.catalog import load_tables

    fate = _fate(spark, sf_smoke)
    kept = {k for k, r in fate.items() if r["fate"] == "kept"}
    docs = {
        r["doc_id"]: r["text"]
        for r in load_tables(spark, sf_smoke, ["documents"])["documents"]
        .select("doc_id", "text")
        .collect()
        if r["doc_id"] in kept
    }
    pats = [
        (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
        (r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
        (r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ]
    shards: dict[int, list] = {}
    for did, text in docs.items():
        seeded = text
        if did % 7 == 2:
            seeded += f" contact agent{did}@example.com"
        if did % 5 == 3:
            seeded += " call +1-555-" + str(did % 10000).rjust(4, "0")
        if did % 13 == 5:
            seeded += f" host 10.{did % 200}.{did % 97}.{did % 251}"
        shipped = seeded
        for pat, sub in pats:
            shipped = re.sub(pat, sub, shipped)
        okey = md5_hash60_py(f"shuffle|{did}")
        shards.setdefault(okey // _ILV_SHIFT, []).append(
            (okey, did, shipped, len(seeded) - len(shipped))
        )
    manifest = {
        r["shard_id"]: r
        for r in SPECS["shard_export_manifest"].build(spark, sf_smoke).collect()
    }
    assert set(manifest) == set(shards)
    redacted_anywhere = False
    for sid, members in shards.items():
        members.sort(key=lambda t: (t[0], t[1]))
        digest = hashlib.md5(
            "".join(
                hashlib.md5(s.encode()).hexdigest() for _, _, s, _ in members
            ).encode()
        ).hexdigest()
        row = manifest[sid]
        assert row["content_digest"] == digest
        assert row["n_docs"] == len(members)
        assert row["total_chars"] == sum(len(s) for _, _, s, _ in members)
        assert row["chars_redacted"] == sum(dlt for _, _, _, dlt in members)
        assert row["residual_pii"] == 0
        redacted_anywhere |= row["chars_redacted"] > 0
    assert redacted_anywhere, "fixture must exercise the redaction path"


def test_export_ships_exactly_the_bytes_the_audit_scores(spark, sf_smoke):
    """The audit/export contract: pii_redaction_audit and
    shard_export_manifest run the SAME seed + redact projections over
    the SAME fate-kept membership, so their totals must tie out —
    docs, net chars redacted, and zero residual matches."""
    import pyspark.sql.functions as F

    audit = (
        SPECS["pii_redaction_audit"]
        .build(spark, sf_smoke)
        .agg(
            F.sum("n_docs"), F.sum("chars_redacted"), F.sum("residual_hits")
        )
        .collect()[0]
    )
    export = (
        SPECS["shard_export_manifest"]
        .build(spark, sf_smoke)
        .agg(
            F.sum("n_docs"), F.sum("chars_redacted"), F.sum("residual_pii")
        )
        .collect()[0]
    )
    assert tuple(audit) == tuple(export)
    assert audit[2] == 0 and audit[1] > 0


def test_planner_cap_bounds_dense_buckets_to_leader_star(spark):
    """The r12 bound on the registry's last quadratic: a planted
    mega-cluster (60 identical docs -> every single-hash bucket holds
    all 60) emits leader-star pairs only under the cap — 59 candidate
    pairs per config instead of C(60,2) = 1770 — and every one of the
    16 buckets is disclosed in truncated_buckets. The leader survives
    in every bucket, so each star pair carries the full 16-bit mask
    and every banding config counts the same bounded set."""
    from dungbeetle_spark.operators.dedup import (
        _PLAN_CONFIGS,
        _planner_pair_counts,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    d = spark.createDataFrame(
        [(i, text) for i in range(60)], "doc_id long, text string"
    )
    capped = _planner_pair_counts(d, cap=8).collect()[0]
    assert capped["truncated_buckets"] == 16
    for b, r in _PLAN_CONFIGS:
        assert capped[f"n_{b}x{r}"] == 59
    uncapped = _planner_pair_counts(d).collect()[0]
    assert uncapped["truncated_buckets"] == 0
    assert uncapped["n_16x1"] == 60 * 59 // 2


def test_planner_cap_is_inert_on_the_organic_corpus(spark, sf_smoke):
    """Premise pin (the minhash_calibration discipline): organic
    single-hash buckets stay under _PLAN_CAP at test scale, so the
    capped exact planner is count-identical to the uncapped form and
    truncated_buckets reads 0 — 'capped-exact' degrades to plain
    exact everywhere the cap doesn't fire."""
    from dungbeetle_spark.operators.dedup import (
        _PLAN_CAP,
        _PLAN_CONFIGS,
        _planner_pair_counts,
    )
    from dungbeetle_spark.sources.catalog import load_tables

    d = load_tables(spark, sf_smoke, ["documents"])["documents"]
    capped = _planner_pair_counts(d, cap=_PLAN_CAP).collect()[0]
    uncapped = _planner_pair_counts(d).collect()[0]
    assert capped["truncated_buckets"] == 0
    for b, r in _PLAN_CONFIGS:
        assert capped[f"n_{b}x{r}"] == uncapped[f"n_{b}x{r}"]


def test_pii_gate_drained_rows_aggregate_to_the_batch_audit(spark, sf_smoke):
    """The streaming PII gate emits one decision row per fate-kept
    document; grouping its drained output by source must reproduce
    pii_redaction_audit EXACTLY (every column), because gate and
    audit share the membership pipeline and the seed/redact
    expressions. This is the drained ≡ batch pin the other ingest
    gates carry, adapted to the audit's aggregated shape."""
    import pyspark.sql.functions as F

    gate = SPECS["streaming_pii_redaction_gate"].build(spark, sf_smoke)
    rolled = gate.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            (
                F.col("email_hits") + F.col("phone_hits") + F.col("ip_hits")
                > 0
            ).cast("long")
        ).alias("docs_with_pii"),
        F.sum("email_hits").alias("email_hits"),
        F.sum("phone_hits").alias("phone_hits"),
        F.sum("ip_hits").alias("ip_hits"),
        F.sum("chars_redacted").alias("chars_redacted"),
        F.sum("residual_hits").alias("residual_hits"),
    )
    audit = SPECS["pii_redaction_audit"].build(spark, sf_smoke)
    cols = sorted(audit.columns)
    assert sorted(rolled.columns) == cols
    a = sorted(map(tuple, audit.select(*cols).collect()))
    g = sorted(map(tuple, rolled.select(*cols).collect()))
    assert a == g
    # the gate's own zero-residual guarantee, per doc
    assert gate.filter(F.col("residual_hits") != 0).count() == 0


def test_pii_gate_multi_batch_drain_equals_single_batch(
    spark, sf_smoke, tmp_path
):
    """The PII gate's batch-local claim under REAL micro-batch
    boundaries (the fate gate's discipline, applied to its composed
    consumer): the corpus is rewritten as 4 parquet splits and
    streamed with maxFilesPerTrigger=1, so the drain provably runs
    >= 4 separate foreachBatch invocations against the same
    materialized reference state — and the accumulated per-doc rows,
    aggregated by source, still reproduce the batch audit exactly."""
    import pyspark.sql.functions as F

    from dungbeetle_spark.queries import registry
    from dungbeetle_spark.sources.catalog import load_tables
    from dungbeetle_spark.streaming.source import drain_to_df, stream_table
    from dungbeetle_spark.streaming.stateful import (
        fate_gate_reference,
        make_pii_gate_batch,
    )

    src = tmp_path / "mbsf"
    src.mkdir()
    d = load_tables(spark, sf_smoke, ["documents"])["documents"]
    d.repartition(4).write.parquet(str(src / "documents.parquet"))

    stream = stream_table(
        spark, str(src), "documents", max_files_per_trigger=1
    )
    refs = fate_gate_reference(stream.sparkSession, str(src))
    gate = make_pii_gate_batch(*refs)
    n_batches = []

    def counting_gate(bdf):
        n_batches.append(1)
        return gate(bdf)

    drained = drain_to_df(
        stream.select("doc_id", "text", "lang", "source"),
        "mb_pii_gate",
        "append",
        transform=counting_gate,
    )
    assert len(n_batches) >= 4, f"stream did not split: {len(n_batches)}"
    rolled = drained.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            (
                F.col("email_hits") + F.col("phone_hits") + F.col("ip_hits")
                > 0
            ).cast("long")
        ).alias("docs_with_pii"),
        F.sum("email_hits").alias("email_hits"),
        F.sum("phone_hits").alias("phone_hits"),
        F.sum("ip_hits").alias("ip_hits"),
        F.sum("chars_redacted").alias("chars_redacted"),
        F.sum("residual_hits").alias("residual_hits"),
    )
    audit = registry()["pii_redaction_audit"].build(spark, str(src))
    cols = sorted(audit.columns)
    a = sorted(map(tuple, audit.select(*cols).collect()))
    g = sorted(map(tuple, rolled.select(*cols).collect()))
    assert a == g


def test_release_datacard_ties_to_manifest_and_audit(spark, sf_smoke):
    """The datacard is a pure rollup of artifacts already pinned
    elsewhere, so it must tie out exactly: per-source fate counts
    equal corpus_fate_manifest grouped by source; the shipped-volume
    block equals shard_export_manifest's totals (same redacted
    bytes); docs_with_pii equals pii_redaction_audit's. Any
    divergence means the datacard silently recomputed something the
    release already shipped differently."""
    import pyspark.sql.functions as F

    from dungbeetle_spark.sources.catalog import load_tables

    card = {
        r["source"]: r
        for r in SPECS["release_datacard"].build(spark, sf_smoke).collect()
    }
    d = load_tables(spark, sf_smoke, ["documents"])["documents"]
    manifest = (
        SPECS["corpus_fate_manifest"]
        .build(spark, sf_smoke)
        .join(d.select("doc_id", "source"), "doc_id")
    )
    fate_counts = {
        (r["source"], r["fate"]): r["n"]
        for r in manifest.groupBy("source", "fate")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for source, row in card.items():
        for fate in ("kept", "eval_holdout", "dropped_quality",
                     "dropped_duplicate", "dropped_contaminated",
                     "dropped_fuzzy_contaminated"):
            assert row[fate] == fate_counts.get((source, fate), 0)
        assert row["n_docs"] == sum(
            n for (s, _), n in fate_counts.items() if s == source
        )
        assert row["kept_ppm"] == row["kept"] * 1_000_000 // row["n_docs"]
        assert row["residual_pii"] == 0
    export = (
        SPECS["shard_export_manifest"]
        .build(spark, sf_smoke)
        .agg(F.sum("n_docs"), F.sum("total_chars"), F.sum("chars_redacted"))
        .collect()[0]
    )
    assert sum(r["kept"] for r in card.values()) == export[0]
    assert sum(r["shipped_chars"] for r in card.values()) == export[1]
    assert sum(r["chars_redacted"] for r in card.values()) == export[2]
    audit = {
        r["source"]: r
        for r in SPECS["pii_redaction_audit"].build(spark, sf_smoke).collect()
    }
    for source, row in card.items():
        a = audit.get(source)
        assert row["docs_with_pii"] == (a["docs_with_pii"] if a else 0)
        assert row["chars_redacted"] == (a["chars_redacted"] if a else 0)


def test_fate_stage_order_fuzzy_never_preempts_earlier_stages(spark, sf_smoke):
    """Stage ordering: eval holdout, quality, dedup, and exact decon
    all seal a doc's fate BEFORE the fuzzy stage — a doc with any
    earlier verdict never reads dropped_fuzzy_contaminated even when
    the standalone op flags it (the probe is restricted to surv3)."""
    fate = _fate(spark, sf_smoke)
    flagged = {
        r["doc_id"]
        for r in SPECS["fuzzy_decontamination"].build(spark, sf_smoke).collect()
    }
    earlier = {
        k for k, r in fate.items()
        if r["fate"] in ("eval_holdout", "dropped_quality",
                         "dropped_duplicate", "dropped_contaminated")
    }
    assert earlier & flagged, "fixture: some earlier-stage doc is fuzzy-flagged"
    for k in earlier:
        assert fate[k]["fate"] != "dropped_fuzzy_contaminated"


# -- corpus_fate_manifest: full functional property (hypothesis) --------------


def _ref_fate(docs):
    """Plain-Python reference of the WHOLE composed fate pipeline —
    quality funnel, eval carve-out, content-md5 dedup, seeded exact
    5-gram decon, and the r12 fuzzy stage (template/footer seeding,
    stop-DF filter, seeded 8-band minhash, >= 4-band decision) — a
    third implementation, independent of both Spark and the DuckDB
    oracle. ``docs``: [(doc_id, text, lang)]."""
    import hashlib
    import re

    from dungbeetle_spark.functions.texts import md5_hash60_py as h60
    from dungbeetle_spark.operators.mixing import (
        _EVAL_MOD,
        _FDC_BANDS,
        _FDC_FOOTER,
        _FDC_MIN_BANDS,
        _FDC_N,
        _FDC_STOP_PPM,
        _FDC_TEMPLATE,
        _FDC_TPL_MOD,
        _GRAM_N,
        _PLANT_MOD,
    )
    from dungbeetle_spark.operators.text import (
        _QF_MAX_CHARS,
        _QF_MIN_STOP,
        _QF_MIN_WORDS,
        _QF_STOPWORDS,
        _QF_WL_HI,
        _QF_WL_LO,
    )

    # quality funnel
    reasons = {}
    for did, text, lang in docs:
        nc = len(text)
        nw = (
            0
            if text.strip() == ""
            else len(re.sub(r"\s+", " ", text).strip().split(" "))
        )
        toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        stp = sum(1 for t in toks if t in _QF_STOPWORDS)
        if nw < _QF_MIN_WORDS:
            r = "too_short"
        elif nc > _QF_MAX_CHARS:
            r = "too_long"
        elif nc * 1000 // nw < _QF_WL_LO or nc * 1000 // nw > _QF_WL_HI:
            r = "word_length"
        elif lang == "en" and stp < _QF_MIN_STOP:
            r = "low_stopword"
        else:
            r = "kept"
        reasons[did] = r

    # exact dedup among quality-kept non-eval docs (keep-first on md5)
    h = {
        did: hashlib.md5(" ".join(t.lower().split()).encode()).hexdigest()
        for did, t, _ in docs
    }
    surv1 = [
        did
        for did, _, _ in docs
        if did % _EVAL_MOD != 0 and reasons[did] == "kept"
    ]
    canon = {}
    for did in surv1:
        canon[h[did]] = min(canon.get(h[did], did), did)
    dup_of = {did: canon[h[did]] for did in surv1}
    surv2 = [did for did in surv1 if dup_of[did] == did]

    # exact decon: seeded 5-grams vs the eval gram set
    grams = {}
    for did, text, _ in docs:
        seeded = text
        if did % _EVAL_MOD == 0 or did % _PLANT_MOD == 0:
            seeded += (
                f" benchmark passage k{did % 5}"
                " alpha beta gamma delta epsilon zeta eta"
            )
        toks = [t for t in re.split(r"[^a-z0-9]+", seeded.lower()) if t]
        grams[did] = {
            " ".join(toks[i : i + _GRAM_N])
            for i in range(len(toks) - _GRAM_N + 1)
        }
    ev = set().union(
        *(grams[did] for did, _, _ in docs if did % _EVAL_MOD == 0)
    ) if any(did % _EVAL_MOD == 0 for did, _, _ in docs) else set()
    n_cont = {did: len(grams[did] & ev) for did in surv2}
    surv3 = [did for did in surv2 if n_cont[did] == 0]

    # fuzzy stage: template/footer seeding, stop-DF filter, minhash
    shingles = {}
    for did, text, _ in docs:
        body = (
            f"{_FDC_TEMPLATE} variant {did % 4} tail {did}"
            if did % _FDC_TPL_MOD == 0
            else text
        )
        w = " ".join((body + " " + _FDC_FOOTER).lower().split()).split(" ")
        shingles[did] = {
            h60(" ".join(w[i : i + _FDC_N]))
            for i in range(len(w) - _FDC_N + 1)
        }
    df = {}
    for hs in shingles.values():
        for s in hs:
            df[s] = df.get(s, 0) + 1
    n_docs = len(docs)
    stops = {s for s, c in df.items() if c * 1_000_000 > _FDC_STOP_PPM * n_docs}
    sig = {}
    for did, hs in shingles.items():
        kept = hs - stops
        if kept:
            sig[did] = [
                min(h60(f"{j}|{s}") for s in kept)
                for j in range(_FDC_BANDS)
            ]
    fm = {}
    for t in surv3:
        if t not in sig:
            continue
        best = 0
        for e, _, _ in docs:
            if e % _EVAL_MOD == 0 and e in sig:
                m = sum(1 for a, b in zip(sig[t], sig[e]) if a == b)
                if m >= _FDC_MIN_BANDS:
                    best = max(best, m)
        if best:
            fm[t] = best

    rows = {}
    for did, _, _ in docs:
        if did % _EVAL_MOD == 0:
            fate = "eval_holdout"
        elif reasons[did] != "kept":
            fate = "dropped_quality"
        elif dup_of[did] != did:
            fate = "dropped_duplicate"
        elif n_cont.get(did, 0) > 0:
            fate = "dropped_contaminated"
        elif fm.get(did, 0) > 0:
            fate = "dropped_fuzzy_contaminated"
        else:
            fate = "kept"
        rows[did] = (
            fate,
            reasons[did],
            dup_of.get(did, -1),
            n_cont.get(did, 0),
            fm.get(did, 0),
        )
    return rows


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 120),  # 0/37/74/111 eval; %9 template; %10 plant
            st.lists(
                st.sampled_from(
                    # 4-char words keep chars-per-word inside the
                    # funnel band; "the"/"of" feed the stopword arm;
                    # the long word trips the word_length arm
                    "alfa brav chrl delt echo foxt golf hotl the of"
                    " extraordinarily".split()
                ),
                max_size=45,
            ),
            st.sampled_from(["en", "de"]),
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    )
)
def test_fate_manifest_matches_brute_force_on_random_corpora(
    spark, tmp_path_factory, docs
):
    """The whole composed fate contract — funnel thresholds, eval
    carve-out, keep-first dedup, seeded exact decon, and the r12
    fuzzy stage with its stop filter and band decision — against a
    plain-Python reference on arbitrary tiny corpora (empty texts,
    eval-only corpora, duplicate texts, all-boilerplate docs, quality
    rejections of every kind). Three independent implementations now
    agree: this reference, the Spark plan, and the DuckDB oracle
    (driver-checked at sf0.01)."""
    expected = _ref_fate([(d, " ".join(w), lang) for d, w, lang in docs])
    out = tmp_path_factory.mktemp("fate_prop")
    spark.createDataFrame(
        [
            (d, " ".join(w), lang, "crawl", len(" ".join(w)))
            for d, w, lang in docs
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{out}/documents.parquet")
    got = {
        r["doc_id"]: (
            r["fate"],
            r["quality_reason"],
            r["canonical_id"],
            r["n_contaminated"],
            r["fuzzy_matched_bands"],
        )
        for r in SPECS["corpus_fate_manifest"].build(spark, str(out)).collect()
    }
    assert got == expected
