"""Non-hollowness invariants for the round-11 operators.

Round 11 closes the two scale debts VERDICT r10 named (items 1-2) and
adds the PII audit stage (item 6):

- ``dedup_minhash_incremental`` probes only bucket LEADERS once a
  corpus band bucket exceeds the density cap — the per-document
  ingest hot path is now O(bands x cap) at any cluster density;
- ``streaming_minhash_ingest_gate`` probes a LEADER-COMPRESSED index
  (one row per bucket) with zero streaming state;
- ``lsh_band_planner_sampled`` plans on a deterministic hash sample
  with exact integer extrapolation;
- ``pii_redaction_audit`` runs between the quality funnel and export
  over exactly the fate-kept population;
- ``fuzzy_decontamination`` flags near-match benchmark copies by
  banded MinHash agreement, dropping high-DF boilerplate stop-shingles
  first, and ``streaming_fuzzy_decon_gate`` is its stateless streaming
  ingest twin (drained stream pinned equal to the batch frame).

Value correctness on the driver fixture is covered by
test_queries_oracle.py (where the seeded incremental fixture already
trips the cap at sf0.01 — capped_buckets = 8); these tests plant a
denser failure mode and pin the properties the cap must preserve.
"""

from __future__ import annotations

import shutil

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dungbeetle_spark.operators.dedup import _LSH_BUCKET_CAP, _MH_TABLES
from dungbeetle_spark.queries import registry
from tests.oracle import compare

SPECS = registry()

_CLUSTER_N = 140
_CLUSTER_BODY = (
    "empty page placeholder template body with a very long run of "
    "stable boilerplate words that recur verbatim across every copy "
    "of this error page family so all copies collide into one band "
    "bucket"
)


@pytest.fixture(scope="module")
def ingest_mega_dir(tmp_path_factory):
    """sf0.001 tables with a planted 140-doc IDENTICAL-BODY cluster
    spanning both sides of the doc_id % 11 ingest split (ids
    20000..20139), dense enough that every band bucket it dominates
    is far beyond the cap of 32."""
    src = "/root/testdata/sf0.001"
    out = tmp_path_factory.mktemp("ingest_mega")
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        shutil.copy(f"{src}/{t}.parquet", out / f"{t}.parquet")
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{src}/documents.parquet')
          UNION ALL
          SELECT 20000 + i AS doc_id,
                 '{_CLUSTER_BODY}' || ' tail ' || CAST(i AS VARCHAR) AS text,
                 'en' AS lang, 'crawl' AS source,
                 CAST(len('{_CLUSTER_BODY}') + 6 AS BIGINT) AS n_chars
          FROM range({_CLUSTER_N}) t(i)
        ) TO '{out}/documents.parquet' (FORMAT PARQUET)
        """
    )
    con.close()
    return str(out)


@pytest.fixture(scope="module")
def inc_rows(spark, ingest_mega_dir):
    return {
        r.doc_id: r
        for r in SPECS["dedup_minhash_incremental"]
        .build(spark, ingest_mega_dir)
        .collect()
    }


def test_incremental_cap_fires_and_is_audited(inc_rows):
    audits = {r.capped_buckets for r in inc_rows.values()}
    assert len(audits) == 1, "audit column must be constant per run"
    assert audits.pop() >= _MH_TABLES, "planted cluster must cap every band"


def test_incremental_leader_probe_preserves_verdict(inc_rows):
    """Every planted batch doc must still be detected as a near-dup
    of the cluster's corpus leader after the cap compresses its
    buckets — the property that justifies leader-probing over hard
    truncation (the leader IS the canonical a dedup keep would
    elect)."""
    # docs divisible by 9 are re-texted by the operator's own seeded
    # template family (_MHI_TPL_MOD) and legitimately match THAT
    # cluster instead — exclude them from the planted-cluster check
    planted_batch = [
        i for i in range(20000, 20000 + _CLUSTER_N)
        if i % 11 == 0 and i % 9 != 0
    ]
    corpus_leader = min(
        i for i in range(20000, 20000 + _CLUSTER_N)
        if i % 11 != 0 and i % 9 != 0
    )
    assert planted_batch, "fixture must place cluster docs on the batch side"
    for i in planted_batch:
        r = inc_rows[i]
        assert r.is_near_dup, f"doc {i} lost its near-dup verdict under the cap"
        assert r.dup_of == corpus_leader, (i, r.dup_of, corpus_leader)
        assert r.matched_bands >= 4


def test_incremental_oracle_green_under_truncation(spark, ingest_mega_dir):
    """The driver's oracle discipline must hold while the cap is
    ACTIVE at planted density, not just at the fixture's organic+
    seeded density (where sf0.01 already trips it with 8 buckets)."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{ingest_mega_dir}/documents.parquet')"
    )
    spec = SPECS["dedup_minhash_incremental"]
    assert compare(spec.build(spark, ingest_mega_dir), con, spec.oracle) > 0
    con.close()


def test_driver_fixture_itself_trips_the_cap(spark, sf_oracle):
    """The leader-probe path must be exercised by the DRIVER's own
    sf0.01 verification, not only by planted tests: the seeded
    template family's corpus buckets exceed the cap there (measured
    50 > 32 at r11). If the corpus generator ever shifts below the
    cap, this pin fails and the capped path needs a fixture of its
    own."""
    row = (
        SPECS["dedup_minhash_incremental"]
        .build(spark, sf_oracle)
        .select("capped_buckets")
        .first()
    )
    assert row.capped_buckets >= 1


# -- streaming gate: leader-compressed index ---------------------------------


def test_gate_multi_batch_drain_equals_single(spark, sf_oracle, tmp_path):
    """The gate claims batch-local collapse equals global (zero
    streaming state): force a REAL multi-micro-batch drain by
    splitting the documents table into 4 files and feeding one file
    per trigger; the drained rows must equal the single-batch drain
    and the DuckDB oracle."""
    from dungbeetle_spark.queries import _t
    from dungbeetle_spark.streaming import source as stream_source

    split_dir = tmp_path / "docs_split"
    sf_split = tmp_path
    (
        _t(spark, sf_oracle, "documents")["documents"]
        .repartition(4)
        .write.parquet(str(split_dir))
    )
    (tmp_path / "documents.parquet").symlink_to(split_dir)

    single = SPECS["streaming_minhash_ingest_gate"].build(spark, sf_oracle)

    # the gate imports stream_table from streaming.source at call
    # time, so patch it there; redirect to the 4-file split dir with
    # one file per trigger to force >= 4 real micro-batches
    orig = stream_source.stream_table

    def split_stream(sess, _sf, table, **kw):
        return orig(sess, str(sf_split), table, max_files_per_trigger=1)

    stream_source.stream_table = split_stream
    try:
        multi = SPECS["streaming_minhash_ingest_gate"].build(spark, sf_oracle)
    finally:
        stream_source.stream_table = orig
    s = sorted((r.doc_id, r.dup_of_candidate) for r in single.collect())
    m = sorted((r.doc_id, r.dup_of_candidate) for r in multi.collect())
    assert s == m and len(s) > 0


def test_gate_flags_superset_of_confirmed_near_dups(spark, sf_oracle):
    """Two-tier soundness: every doc the confirm stage
    (dedup_minhash_incremental) marks is_near_dup must have been
    flagged by the gate — otherwise the production funnel (gate →
    confirm on flagged only) would silently lose dups."""
    flagged = {
        r.doc_id
        for r in SPECS["streaming_minhash_ingest_gate"]
        .build(spark, sf_oracle)
        .collect()
    }
    confirmed = {
        r.doc_id
        for r in SPECS["dedup_minhash_incremental"]
        .build(spark, sf_oracle)
        .collect()
        if r.is_near_dup
    }
    assert confirmed, "fixture must confirm at least one near-dup"
    assert confirmed <= flagged, confirmed - flagged


# -- cap premise for the organic-corpus operators (ADVICE r10) ---------------


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"])
def test_organic_band_buckets_stay_under_cap(sf_dir):
    """minhash_calibration shares the capped candidate path and relies
    on the premise (r10) that ORGANIC band buckets never reach the cap
    at the sf0.01 and sf0.1 fixtures — pin that premise (ADVICE r10):
    if the corpus generator ever densifies past the cap, this fails
    loudly instead of the recorded green hash silently going stale."""
    con = duckdb.connect()
    [(max_bn,)] = con.execute(
        f"""
        WITH words AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
          FROM read_parquet('{sf_dir}/documents.parquet')),
        sh AS (
          SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
          FROM words, UNNEST(range(1, greatest(len(w) - 1, 1))) AS t(i)),
        mh AS (
          SELECT doc_id, j,
                 MIN(CAST(concat('0x', substr(md5(concat(CAST(j AS VARCHAR), '|', s)), 1, 15)) AS BIGINT)) AS h
          FROM sh, UNNEST(range(0, {_MH_TABLES})) AS seeds(j)
          GROUP BY 1, 2)
        SELECT MAX(bn) FROM (SELECT j, h, COUNT(*) AS bn FROM mh GROUP BY 1, 2)
        """
    ).fetchall()
    con.close()
    assert max_bn < _LSH_BUCKET_CAP, (
        f"organic bucket of {max_bn} >= cap {_LSH_BUCKET_CAP} at {sf_dir}: "
        "the minhash_calibration window-exclusion premise no longer holds"
    )


# -- lsh_band_planner_sampled -------------------------------------------------


def test_sampled_planner_extrapolation_is_exact_integer(spark, sf_oracle):
    from dungbeetle_spark.operators.dedup import _PLAN_SAMPLE_MOD

    rows = SPECS["lsh_band_planner_sampled"].build(spark, sf_oracle).collect()
    assert len(rows) == 4
    for r in rows:
        assert r.n_candidate_pairs_est == (
            r.n_candidate_pairs_sampled * _PLAN_SAMPLE_MOD * _PLAN_SAMPLE_MOD
        )
        assert r.sample_ppm == 1_000_000 // _PLAN_SAMPLE_MOD


def test_sampled_counts_are_subset_of_exact(spark, sf_oracle):
    """Candidate pairs on a doc SUBSET are a subset of the full
    corpus's pairs, so per config the sampled (pre-extrapolation)
    count can never exceed the exact planner's — the structural
    relation between the two modes, independent of sampling noise."""
    exact = {
        (r.bands, r.rows_per_band): r.n_candidate_pairs
        for r in SPECS["lsh_band_planner"].build(spark, sf_oracle).collect()
    }
    sampled = {
        (r.bands, r.rows_per_band): r.n_candidate_pairs_sampled
        for r in SPECS["lsh_band_planner_sampled"].build(spark, sf_oracle).collect()
    }
    assert set(exact) == set(sampled)
    for cfg, n in sampled.items():
        assert n <= exact[cfg], (cfg, n, exact[cfg])
    assert any(n > 0 for n in sampled.values()), "degenerate sample: no pairs"


# -- pii_redaction_audit ------------------------------------------------------


def test_pii_population_is_exactly_the_fate_kept_set(spark, sf_oracle):
    """The fate-manifest stage pin (VERDICT r10 item 6): the audit
    runs between the quality funnel and export, i.e. over EXACTLY the
    docs corpus_fate_manifest marks kept — per source, scanned-doc
    counts must equal the manifest's kept counts."""
    from pyspark.sql import functions as F

    from dungbeetle_spark.queries import _t

    audit = {
        r.source: r.n_docs
        for r in SPECS["pii_redaction_audit"].build(spark, sf_oracle).collect()
    }
    d = _t(spark, sf_oracle, "documents")["documents"]
    kept = (
        SPECS["corpus_fate_manifest"]
        .build(spark, sf_oracle)
        .filter(F.col("fate") == "kept")
        .join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .count()
    )
    manifest = {r.source: r["count"] for r in kept.collect()}
    assert audit == manifest


def test_pii_redaction_removes_everything_detection_finds(spark, sf_oracle):
    rows = SPECS["pii_redaction_audit"].build(spark, sf_oracle).collect()
    assert rows
    assert all(r.residual_hits == 0 for r in rows)
    assert all(0 <= r.docs_with_pii <= r.n_docs for r in rows)
    # each seeded class must actually fire somewhere, or the audit is
    # vacuously green
    assert sum(r.email_hits for r in rows) > 0
    assert sum(r.phone_hits for r in rows) > 0
    assert sum(r.ip_hits for r in rows) > 0
    assert all(r.chars_redacted >= 0 for r in rows)
    assert sum(r.chars_redacted for r in rows) > 0


# -- shard_export_diff: warehouse shape (VERDICT r10 item 7) ------------------


def test_export_diff_prev_from_manifest_table(spark, sf_oracle, tmp_path):
    """At 100 TB the diff's previous side is the SHIPPED manifest
    table, not a replay. Pin replay-independence: materialize
    shard_export_manifest to parquet, read it back, run the shared
    decision join against the current-corpus replay, and require
    byte-identical decisions to the self-contained query (which
    replays both sides)."""
    from dungbeetle_spark.operators.pipeline import (
        _diff_frames,
        _evolved_docs,
        _export_frame,
    )
    from dungbeetle_spark.queries import _t

    d = _t(spark, sf_oracle, "documents")["documents"]
    path = str(tmp_path / "manifest_prev")
    _export_frame(d).write.parquet(path)
    prev_tbl = spark.read.parquet(path)

    def key(rows):
        return sorted(
            (r.shard_id, r.decision, r.prev_n_docs, r.curr_n_docs,
             r.prev_digest, r.curr_digest)
            for r in rows
        )

    warehouse = key(_diff_frames(prev_tbl, _export_frame(_evolved_docs(d))).collect())
    replay = key(SPECS["shard_export_diff"].build(spark, sf_oracle).collect())
    assert warehouse == replay and len(warehouse) > 0


# -- fuzzy_decontamination ----------------------------------------------------


def test_fuzzy_decon_flags_the_planted_cross_split_family(spark, sf_oracle):
    """The near-dup template family (doc_id % 9 == 0) spans the eval
    split, so its train-side members are exactly the contamination the
    fuzzy scrub exists to catch — flag recall on the plant must be
    near-total (each member shares the 29-word body verbatim with the
    eval-side members; only the variant/tail words differ)."""
    from dungbeetle_spark.operators.mixing import (
        _EVAL_MOD,
        _FDC_MIN_BANDS,
        _FDC_TPL_MOD,
    )
    from dungbeetle_spark.queries import _t

    rows = SPECS["fuzzy_decontamination"].build(spark, sf_oracle).collect()
    assert rows
    flagged = {r.doc_id for r in rows}
    # hygiene: flags live on the train side, point at the eval side,
    # and carry the banded estimate they were decided on
    assert all(r.doc_id % _EVAL_MOD != 0 for r in rows)
    assert all(r.eval_doc % _EVAL_MOD == 0 for r in rows)
    assert all(_FDC_MIN_BANDS <= r.matched_bands <= 8 for r in rows)
    assert all(r.est_jaccard == r.matched_bands / 8 for r in rows)
    d = _t(spark, sf_oracle, "documents")["documents"]
    family = {
        r.doc_id
        for r in d.filter(
            (d.doc_id % _FDC_TPL_MOD == 0) & (d.doc_id % _EVAL_MOD != 0)
        ).collect()
    }
    assert family, "fixture must plant train-side family members"
    recall = len(family & flagged) / len(family)
    assert recall >= 0.9, f"planted-family flag recall {recall:.2f}"


def test_fuzzy_decon_stop_filter_is_load_bearing(sf_oracle):
    """Counterfactual: with the stop-shingle filter disabled, the
    universal footer enters every signature and dominates SHORT
    documents' minhashes (few organic shingles to out-min it), so
    unrelated short docs band-match across the split. Run the oracle
    twice in DuckDB, once with `stops` emptied, and pin the filter's
    exact value: it strictly removes boilerplate-driven false
    positives (extras are non-planted and skew short) while losing
    ZERO true flags."""
    from dungbeetle_spark.operators.mixing import _FDC_FOOTER, _FDC_TPL_MOD

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_oracle}/documents.parquet'"
    )
    q = SPECS["fuzzy_decontamination"].oracle
    real = con.sql(q).df()
    # the footer's interior shingles are in 100% of docs — all dropped
    assert real.stop_shingles.iloc[0] >= len(_FDC_FOOTER.split()) - 2
    off = q.replace(
        "WHERE hs NOT IN (SELECT hs FROM stops)",
        "WHERE hs NOT IN (SELECT hs FROM stops WHERE FALSE)",
    )
    assert off != q
    unfiltered = con.sql(off).df()
    # no true flag depends on the footer: everything the filtered run
    # flags, the unfiltered run flags too
    assert set(real.doc_id) <= set(unfiltered.doc_id)
    extra = set(unfiltered.doc_id) - set(real.doc_id)
    assert extra, "the footer plant must cause some false positives"
    # the false positives are the boilerplate failure mode: none are
    # planted family members, and they skew short
    assert all(doc % _FDC_TPL_MOD != 0 for doc in extra)
    lens = con.sql("SELECT doc_id, n_chars FROM documents").df()
    lens = lens.set_index("doc_id").n_chars
    assert lens.loc[sorted(extra)].median() < lens.median()


# -- streaming_fuzzy_decon_gate ------------------------------------------------


def test_fuzzy_gate_batch_stream_equality(spark, sf_oracle):
    """The gate's drained stream must equal fuzzy_decontamination's
    batch frame EXACTLY (same flags, same best eval match, same
    audit) — the batch≡stream pin the shared oracle rests on."""

    def key(r):
        return (
            r.doc_id,
            r.eval_doc,
            r.matched_bands,
            r.est_jaccard,
            r.stop_shingles,
        )

    batch = sorted(
        key(r)
        for r in SPECS["fuzzy_decontamination"].build(spark, sf_oracle).collect()
    )
    drained = sorted(
        key(r)
        for r in SPECS["streaming_fuzzy_decon_gate"]
        .build(spark, sf_oracle)
        .collect()
    )
    assert batch and batch == drained


def test_fuzzy_gate_multi_batch_drain_equals_single(spark, sf_oracle, tmp_path):
    """The gate claims every collapse is batch-local (zero streaming
    state): force a REAL multi-micro-batch drain (4 files, one per
    trigger) and require identical rows to the single-batch drain."""
    from dungbeetle_spark.queries import _t
    from dungbeetle_spark.streaming import source as stream_source

    split_dir = tmp_path / "docs_split"
    sf_split = tmp_path
    (
        _t(spark, sf_oracle, "documents")["documents"]
        .repartition(4)
        .write.parquet(str(split_dir))
    )
    (tmp_path / "documents.parquet").symlink_to(split_dir)

    single = SPECS["streaming_fuzzy_decon_gate"].build(spark, sf_oracle)

    orig = stream_source.stream_table

    def split_stream(sess, _sf, table, **kw):
        return orig(sess, str(sf_split), table, max_files_per_trigger=1)

    stream_source.stream_table = split_stream
    try:
        multi = SPECS["streaming_fuzzy_decon_gate"].build(spark, sf_oracle)
    finally:
        stream_source.stream_table = orig
    key = lambda r: (r.doc_id, r.eval_doc, r.matched_bands)  # noqa: E731
    s = sorted(key(r) for r in single.collect())
    m = sorted(key(r) for r in multi.collect())
    assert s == m and len(s) > 0


# -- fuzzy_decontamination: full functional property (hypothesis) -------------


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 120),  # doc_id (0, 37, 74, 111 are eval)
            st.lists(
                st.sampled_from(
                    "alpha beta gamma delta epsilon zeta eta theta".split()
                ),
                max_size=12,
            ),
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],
    )
)
def test_fuzzy_decon_matches_brute_force_on_random_corpora(spark, tmp_path_factory, docs):
    """The whole fuzzy-decon contract — seeding, shingling, the stop-DF
    threshold, seeded minhash, band agreement, the >= 4/8 decision, the
    best-match tie-break, and the stop_shingles audit — against a
    plain-Python reference on arbitrary tiny corpora (shapes no fixture
    plants: corpora where EVERY shingle is boilerplate, docs shorter
    than a shingle, eval-only corpora, duplicate texts under different
    ids)."""
    from collections import Counter, defaultdict

    from dungbeetle_spark.operators.mixing import (
        _EVAL_MOD,
        _FDC_FOOTER,
        _FDC_MIN_BANDS,
        _FDC_STOP_PPM,
        _FDC_TEMPLATE,
        _FDC_TPL_MOD,
    )

    from dungbeetle_spark.functions.texts import md5_hash60_py as h60

    # ---- plain-Python reference --------------------------------------
    def seeded_text(doc_id: int, text: str) -> str:
        if doc_id % _FDC_TPL_MOD == 0:
            body = f"{_FDC_TEMPLATE} variant {doc_id % 4} tail {doc_id}"
        else:
            body = text
        return " ".join((body + " " + _FDC_FOOTER).lower().split())

    shingles = {}
    for doc_id, words in docs:
        t = seeded_text(doc_id, " ".join(words))
        w = t.split(" ") if t else []
        shingles[doc_id] = {
            h60(" ".join(w[i : i + 3])) for i in range(len(w) - 2)
        }
    n_docs = len(docs)
    df_count = Counter(h for hs in shingles.values() for h in hs)
    stops = {h for h, c in df_count.items() if c * 1_000_000 > _FDC_STOP_PPM * n_docs}
    mh = {}
    for doc_id, hs in shingles.items():
        kept = hs - stops
        if kept:
            mh[doc_id] = [
                min(h60(f"{j}|{h}") for h in kept) for j in range(8)
            ]
    best = {}
    for t_id, t_sig in mh.items():
        if t_id % _EVAL_MOD == 0:
            continue
        cands = []
        for e_id, e_sig in mh.items():
            if e_id % _EVAL_MOD != 0:
                continue
            m = sum(1 for a, b in zip(t_sig, e_sig) if a == b)
            if m >= _FDC_MIN_BANDS:
                cands.append((-m, e_id))
        if cands:
            neg_m, e_id = min(cands)
            best[t_id] = (e_id, -neg_m, -neg_m / 8)

    # ---- the operator on the same corpus ------------------------------
    out = tmp_path_factory.mktemp("fdc_prop")
    spark.createDataFrame(
        [
            (doc_id, " ".join(words), "en", "crawl", len(" ".join(words)))
            for doc_id, words in docs
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{out}/documents.parquet")
    rows = SPECS["fuzzy_decontamination"].build(spark, str(out)).collect()

    got = {r.doc_id: (r.eval_doc, r.matched_bands, r.est_jaccard) for r in rows}
    assert got == best
    if rows:
        audits = {r.stop_shingles for r in rows}
        assert audits == {len(stops)}
