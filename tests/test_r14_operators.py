"""r14 pins: warehouse cache contract + fresh-session drain handoff,
then the fate delta executor family (added below as it lands).

What these pin, beyond the driver's shared-oracle checks:

- the materialization cache's STALENESS CONTRACT (VERDICT r13 item 6):
  per-process, keyed on (realpath(sf_dir), name) — correct over
  immutable fixture dirs, stale across a corpus rollover — with
  ``refresh=True`` as the documented invalidation hatch (rebuilds
  through the job layer, repoints the cache, old reads stay valid);
- the export/preload snapshot handoff the fresh-session streaming
  bench worker uses (VERDICT r13 item 2a), including that preloaded
  paths are adopted but never reaped by the consumer;
- per-key build locks (ADVICE r13): a cached read never blocks behind
  an unrelated in-flight materialization.
"""

from __future__ import annotations

import json
import os
import threading
import time

import pytest
from pyspark.sql import functions as F


def _rows(df, *cols):
    sel = df.select(*cols) if cols else df
    return sorted(tuple(r) for r in sel.collect())


# -- cache contract (VERDICT r13 item 6) --------------------------------------


def test_refresh_rebuilds_and_repoints_cache(spark, sf_smoke):
    from dungbeetle_spark.operators import warehouse as W

    key = (os.path.realpath(sf_smoke), "corpus_fate_manifest")
    first = W.manifest_table(spark, sf_smoke)
    path1 = W._MATERIALIZED[key]
    # default: process-lifetime cache — same path, no rebuild, and the
    # session's read is memoized: a warm call submits no Spark job
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    assert W.manifest_table(spark, sf_smoke) is first
    assert set(tracker.getJobIdsForGroup(None)) == before
    assert W._MATERIALIZED[key] == path1
    # a child session (Core hands builders one) reads on its own
    child = spark.newSession()
    assert W.manifest_table(child, sf_smoke) is not first
    # refresh=True is the rollover hatch: a NEW job-layer build at a
    # NEW path, cache repointed — path and every session's read...
    refreshed = W.manifest_table(spark, sf_smoke, refresh=True)
    path2 = W._MATERIALIZED[key]
    assert path2 != path1
    assert refreshed is not first
    assert W.manifest_table(spark, sf_smoke) is refreshed
    assert all(
        path2 in f for f in W.manifest_table(child, sf_smoke).inputFiles()
    )
    # ...with identical content over an unchanged corpus, and the
    # pre-refresh DataFrame still readable (old dir reaped at process
    # exit, not at repoint)
    assert _rows(refreshed) == _rows(first)
    assert os.path.isdir(path1)
    assert _rows(spark.read.parquet(path1)) == _rows(refreshed)


def test_export_preload_cache_roundtrip(spark, sf_smoke, tmp_path):
    """The fresh-session drain worker's handoff: a snapshot written by
    export_cache seeds a consumer's cache so builders become reads."""
    from dungbeetle_spark.operators import warehouse as W

    W.manifest_table(spark, sf_smoke)
    snap = tmp_path / "cache.json"
    W.export_cache(str(snap))
    data = json.loads(snap.read_text())
    key = (os.path.realpath(sf_smoke), "corpus_fate_manifest")
    assert data[f"{key[0]}\t{key[1]}"] == W._MATERIALIZED[key]

    # simulate the consumer process: wipe the in-memory cache, preload
    saved = dict(W._MATERIALIZED)
    owned_before = list(W._OWNED_DIRS)
    try:
        W._MATERIALIZED.clear()
        n = W.preload_cache(str(snap))
        assert n >= 1
        assert W._MATERIALIZED[key] == saved[key]
        # preload ADOPTS paths but never takes OWNERSHIP: the reaper
        # queue must be exactly what it was before the preload (in
        # this single-process test the path is owned by the CREATOR
        # side; a consumer process that only preloads must never
        # enqueue it for reaping)
        assert list(W._OWNED_DIRS) == owned_before
    finally:
        W._MATERIALIZED.clear()
        W._MATERIALIZED.update(saved)


def test_preload_skips_vanished_paths(tmp_path):
    from dungbeetle_spark.operators import warehouse as W

    snap = tmp_path / "cache.json"
    snap.write_text(json.dumps({"/nonexistent_sf\tgone_table": "/no/such/dir"}))
    saved = dict(W._MATERIALIZED)
    try:
        assert W.preload_cache(str(snap)) == 0
        assert ("/nonexistent_sf", "gone_table") not in W._MATERIALIZED
    finally:
        W._MATERIALIZED.clear()
        W._MATERIALIZED.update(saved)


def test_cached_read_does_not_block_behind_unrelated_build(spark, sf_smoke):
    """ADVICE r13: per-key locks — while one thread holds an in-flight
    materialization for key A, a cached read of key B must return
    immediately (the old global _MAT_LOCK serialized them for up to
    the 900 s job timeout)."""
    from dungbeetle_spark.operators import warehouse as W

    W.manifest_table(spark, sf_smoke)  # cache key B

    release = threading.Event()
    entered = threading.Event()

    def slow_build(sess, sfd):
        entered.set()
        release.wait(timeout=30)
        return sess.range(1).select(F.col("id").alias("doc_id"))

    holder_err: list[Exception] = []

    def hold():
        try:
            W._result_table(spark, sf_smoke, "r14_slow_fixture", slow_build)
        except Exception as ex:  # pragma: no cover - surfaced below
            holder_err.append(ex)

    t = threading.Thread(target=hold, daemon=True)
    t.start()
    assert entered.wait(timeout=30), "slow build never started"
    t0 = time.perf_counter()
    W.manifest_table(spark, sf_smoke)  # cached: must not wait on A
    elapsed = time.perf_counter() - t0
    release.set()
    t.join(timeout=60)
    assert not holder_err, holder_err
    assert elapsed < 5.0, f"cached read blocked {elapsed:.1f}s behind build"


# -- fate delta executor family (VERDICT r13 item 3) ---------------------------


def test_refreshed_references_equal_full_rebuild(spark, sf_smoke):
    """The maintenance op's incremental frames must equal a FULL
    rebuild over the evolved corpus, frame-for-frame (the oracle pins
    the same via digests; this pins the actual rows on the Spark
    side)."""
    from dungbeetle_spark.operators import fate_delta as FD
    from dungbeetle_spark.operators.mixing import (
        _fdc_seeded,
        _fdc_stop_set,
    )

    sd = FD._seeded(spark, sf_smoke)
    ev = FD._evolved(sd)
    prev_g, prev_s, prev_es, prev_eb = FD.delta_state_tables(spark, sf_smoke)

    inc_grams = FD.refreshed_eval_grams(prev_g, sd, ev)
    full_grams = FD._gram_df(ev.filter(FD._is_eval())).select("gram")
    assert _rows(inc_grams) == _rows(full_grams)

    inc_stops = FD.refreshed_stop_set(prev_s, sd, ev)
    full_stops = _fdc_stop_set(
        FD._shingles(ev), _fdc_seeded(ev.select("doc_id", "text"))
    )
    assert _rows(inc_stops) == _rows(full_stops)

    inc_bands = FD.refreshed_eval_bands(prev_s, prev_es, prev_eb, sd, ev)
    full_bands = FD._band_rows_for(ev.filter(FD._is_eval()), full_stops)
    assert _rows(inc_bands) == _rows(full_bands)


def test_apply_plan_equals_full_recompute(spark, sf_smoke):
    """VERDICT r13 item 3's 'done' criterion, Spark side: the
    assembled manifest (keep_prev copies + group re-election + probes
    against refreshed references + touched-doc recompute) equals
    _fate_frame over the evolved corpus, value-for-value on all six
    columns."""
    from dungbeetle_spark.operators import fate_delta as FD
    from dungbeetle_spark.operators.pipeline import _fate_frame
    from dungbeetle_spark.queries import registry

    assembled = registry()["fate_apply_plan"].build(spark, sf_smoke)
    sd = FD._seeded(spark, sf_smoke)
    full = _fate_frame(FD._evolved(sd))
    assert _rows(assembled) == _rows(full)


def test_apply_plan_election_handles_incoming_winner(spark):
    """An added doc (negative id — always the group minimum) whose
    content hash lands in an existing duplicate group must WIN the
    re-election: the prev keeper becomes dropped_duplicate of the
    incoming doc, exactly as a full recompute would elect. The fixture
    evolution cannot produce this collision (same reason the r13
    planner unit-pins its incoming-hit arm with crafted frames), so
    drive _apply_frames directly with a crafted corpus."""
    from dungbeetle_spark.functions.texts import content_md5
    from dungbeetle_spark.operators import fate_delta as FD
    from dungbeetle_spark.operators.mixing import _fdc_seeded, _fdc_stop_set
    from dungbeetle_spark.operators.pipeline import _fate_frame
    from dungbeetle_spark.operators.warehouse import _canon_from_docs

    # texts tuned to PASS the funnel: >= 25 words, avg word length
    # inside the [4.8, 5.9] chars/word band, >= 2 stopwords for 'en'
    def filler(i):
        return f"the of doc{i} " + " ".join(["wxyz"] * 40)

    # dup_body starts with 'new ' so the evolution's added doc for id
    # 26 ('new ' || text, id -(26+2) = -28) lands EXACTLY on it
    dup_body = "new the of " + " ".join(["wxyz"] * 40) + " shared dupe block"
    rows = [(i, filler(i), "en", "crawl") for i in
            (1, 2, 4, 5, 6, 8, 12, 15, 16, 19)]
    # a surviving duplicate group: ids 23 and 25 share dup_body
    rows += [(23, dup_body, "en", "crawl"), (25, dup_body, "en", "crawl")]
    rows += [(26, dup_body[4:], "en", "crawl")]
    sd = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    ev = FD._evolved(sd)
    # the crafted texts must actually survive the funnel, and the
    # incoming doc must hash onto the group — else the test is hollow
    from dungbeetle_spark.operators.text import funnel_verdicts
    from dungbeetle_spark.sources.catalog import fan_out

    verdicts = {
        r.doc_id: r.reason
        for r in funnel_verdicts(fan_out(ev)).select("doc_id", "reason").collect()
    }
    assert verdicts[23] == verdicts[25] == verdicts[-28] == "kept", verdicts
    hashes = {
        r.doc_id: r.h
        for r in ev.select("doc_id", content_md5("text").alias("h")).collect()
    }
    assert hashes[-28] == hashes[23] == hashes[25]
    prev = _fate_frame(sd)
    canon = _canon_from_docs(sd)
    # refreshed references: full rebuild over the evolved corpus (the
    # maintenance op's equality is pinned separately; this test is
    # about the election)
    evg = FD._gram_df(ev.filter(FD._is_eval())).select("gram")
    stops = _fdc_stop_set(FD._shingles(ev), _fdc_seeded(ev.select("doc_id", "text")))
    fev = FD._band_rows_for(ev.filter(FD._is_eval()), stops)
    assembled = FD._apply_frames(ev, prev, canon, evg, stops, fev)
    got = {r.doc_id: (r.fate, r.canonical_id) for r in assembled.collect()}
    # the incoming -28 ('new ' + dup_body[4:] == dup_body) joins the
    # 23/25 group and, being the minimum, wins the election
    assert got[-28][0] in ("kept", "dropped_contaminated",
                           "dropped_fuzzy_contaminated")
    assert got[-28][1] == -28
    assert got[23] == ("dropped_duplicate", -28)
    assert got[25] == ("dropped_duplicate", -28)
    # and the whole assembly still equals the full recompute
    assert _rows(assembled) == _rows(_fate_frame(ev))


def test_band_maintenance_recomputes_stop_flip_affected_docs(spark):
    """The fixture evolution produces ZERO stop-status flips at any sf
    (measured r14), so the flip arm — an UNTOUCHED eval doc whose
    banded minhash must be re-signed because a shingle it contains
    crossed the 20% DF threshold — is pinned with a crafted corpus:
    21 docs, 6 removed by the %11 convention, and a 3-word marker
    phrase in 4 surviving docs whose DF sits just under the prev
    threshold (4/21) and just over the refreshed one (4/15)."""
    from pyspark.sql import functions as F

    from dungbeetle_spark.functions.texts import md5_hash60
    from dungbeetle_spark.operators import fate_delta as FD

    filler = lambda i: (  # noqa: E731
        f"document number {i} carries its own distinct words w{i}a w{i}b "
        f"w{i}c and nothing shared beyond the marker and the footer "
    )
    marker = "zz qq ww"
    # eval docs (%37): 37 carries the marker (flip-affected, untouched),
    # 74 does not (its band rows must carry over verbatim)
    p_ids = (1, 2, 4, 37)
    ids = [1, 2, 4, 5, 6, 8, 12, 15, 16, 19, 23, 25, 29, 37, 74,
           11, 22, 33, 44, 55, 77]
    assert all(i % 7 != 3 and i % 13 != 0 and i % 9 != 0 for i in ids)
    rows = [
        (i, filler(i) + (marker if i in p_ids else "no marker here"),
         "en", "crawl")
        for i in ids
    ]
    sd = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    ev = FD._evolved(sd)
    # prev state frames (what the result tables would hold)
    prev_g = FD._gram_df(sd.filter(FD._is_eval()))
    prev_s = FD._sh_df(sd)
    prev_es = FD._shingles(sd.filter(FD._is_eval()))
    nd_prev, nd_new = FD._nd_frames(sd)
    prev_eb = FD._band_rows_for(
        sd.filter(FD._is_eval()), FD._stops_from_df(prev_s, nd_prev)
    )
    # the marker shingle flips: df=4 over n=21 (not stop) -> df=4 over
    # n'=15 (stop)
    sh_new = FD.refreshed_shingle_df(prev_s, sd, ev)
    stops_prev = FD._stops_from_df(prev_s, nd_prev)
    stops_new = FD._stops_from_df(sh_new, nd_new)
    marker_hs = spark.createDataFrame([(marker,)], "s string").select(
        md5_hash60(F.col("s")).alias("hs")
    )
    assert stops_prev.join(marker_hs, "hs", "left_semi").count() == 0
    assert stops_new.join(marker_hs, "hs", "left_semi").count() == 1
    # incremental index == full rebuild, including doc 37's re-signed
    # rows (its minhash changes: the marker shingle no longer hashes)
    inc = FD.refreshed_eval_bands(prev_s, prev_es, prev_eb, sd, ev)
    full = FD._band_rows_for(ev.filter(FD._is_eval()), stops_new)
    assert _rows(inc) == _rows(full)
    prev_37 = {(r.j, r.h) for r in prev_eb.filter(F.col("doc_id") == 37).collect()}
    new_37 = {(r.j, r.h) for r in inc.filter(F.col("doc_id") == 37).collect()}
    assert prev_37 != new_37, "flip did not re-sign the affected eval doc"
    prev_74 = sorted((r.j, r.h) for r in prev_eb.filter(F.col("doc_id") == 74).collect())
    new_74 = sorted((r.j, r.h) for r in inc.filter(F.col("doc_id") == 74).collect())
    assert prev_74 == new_74, "unaffected eval doc's rows must carry verbatim"


def test_next_manifest_table_ships_the_assembled_manifest(spark, sf_smoke):
    """The SHIP step: the deployed next-manifest result table must be
    the job layer's artifact (results_<job_id> naming) holding exactly
    the delta-assembled manifest ≡ the full evolved recompute, and
    refresh=True — the corpus-rollover hatch — must rebuild it at a
    new path with identical content over an unchanged corpus (the
    invalidation path the deploy loop implies, VERDICT r13 item 6)."""
    import os as _os

    from dungbeetle_spark.operators import fate_delta as FD
    from dungbeetle_spark.operators import warehouse as W
    from dungbeetle_spark.operators.pipeline import _fate_frame

    nxt = FD.next_manifest_table(spark, sf_smoke)
    key = (_os.path.realpath(sf_smoke), "fate_manifest_dupseeded_next")
    path1 = W._MATERIALIZED[key]
    assert _os.path.basename(path1) == "results_fate_manifest_dupseeded_next_mat"
    full = _fate_frame(FD._evolved(FD._seeded(spark, sf_smoke)))
    assert _rows(nxt) == _rows(full)
    # rollover hatch: rebuild, repoint, same content
    again = FD.next_manifest_table(spark, sf_smoke, refresh=True)
    assert W._MATERIALIZED[key] != path1
    assert _rows(again) == _rows(nxt)


def test_export_diff_delta_equals_two_replay_diff(spark, sf_smoke):
    """The zero-replay re-export diff (prev from the shipped export
    manifest, curr membership from the delta-shipped next fate
    manifest) must reproduce the fixture-style two-replay diff over
    the seeded snapshots decision-for-decision, digest-for-digest."""
    from dungbeetle_spark.operators import fate_delta as FD
    from dungbeetle_spark.operators.pipeline import (
        _diff_frames,
        _export_frame,
    )
    from dungbeetle_spark.queries import registry

    got = registry()["shard_export_diff_delta"].build(spark, sf_smoke)
    sd = FD._seeded(spark, sf_smoke)
    want = _diff_frames(_export_frame(sd), _export_frame(FD._evolved(sd)))
    assert _rows(got) == _rows(want)


def test_export_apply_delta_equals_full_reexport(spark, sf_smoke):
    """The assembled next export manifest (copied clean shards +
    re-exported dirty shards) must equal the full evolved-corpus
    re-export row-for-row. At smoke scale (~9 docs per hash-range
    shard, ~1/7 edited) both arms are live: roughly a quarter of
    shards have no touched doc and ride the copy path — denser
    fixtures saturate toward all-dirty, which is why the crafted
    sparse-evolution tests below pin the copy arm deterministically."""
    from dungbeetle_spark.operators import fate_delta as FD
    from dungbeetle_spark.operators.pipeline import _export_frame
    from dungbeetle_spark.queries import registry

    got = registry()["shard_export_apply_delta"].build(spark, sf_smoke)
    sd = FD._seeded(spark, sf_smoke)
    want = _export_frame(FD._evolved(sd))
    assert _rows(got.drop("action")) == _rows(want)
    assert set(r[0] for r in _rows(got, "action")) == {"copied", "reexported"}


def _crafted_docs(spark, ids):
    return spark.createDataFrame(
        [(i, f"doc {i} body words " * 12) for i in ids], "doc_id long, text string"
    )


def test_export_apply_delta_copies_clean_shards(spark):
    """Sparse evolution: ONE edited doc, stable membership — exactly
    that doc's hash-range shard is re-exported, every other shard's
    row is copied from the prev export manifest byte-identically,
    and the assembly still equals the full re-export."""
    from dungbeetle_spark.operators import fate_delta as FD
    from dungbeetle_spark.operators.pipeline import _export_frame

    ids = list(range(200))
    prev_docs = _crafted_docs(spark, ids)
    edited = 17
    ev_docs = prev_docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") == edited, F.concat("text", F.lit(" rev2"))
        ).otherwise(F.col("text")),
    )
    kept = prev_docs.select("doc_id")
    prev_exp = _export_frame(prev_docs, kept=kept)
    got = FD._assemble_export(
        prev_exp,
        kept,
        kept,
        kept.filter(F.col("doc_id") == edited),
        ev_docs,
    )
    want = _export_frame(ev_docs, kept=kept)
    assert _rows(got.drop("action")) == _rows(want)

    dirty = {
        r[0]
        for r in FD._with_shard(
            spark.createDataFrame([(edited,)], "doc_id long")
        ).collect()
        for r in [(r["shard_id"],)]
    }
    by_action = {
        r[0]: r[1]
        for r in got.groupBy("action")
        .agg(F.collect_set("shard_id"))
        .collect()
    }
    assert set(by_action["reexported"]) == dirty
    copied_rows = _rows(got.filter(F.col("action") == "copied").drop("action"))
    prev_rows = [
        r
        for r in _rows(prev_exp)
        if r[0] not in dirty
    ]
    assert copied_rows == sorted(prev_rows)
    assert len(copied_rows) > 0  # the arm the fixture can't reach


def test_export_apply_delta_membership_flip_dirties_shard(spark):
    """Sparse evolution, second arm: no text edits, one doc DROPPED
    from the next manifest's kept set (a fate flip — e.g. its group
    re-elected) — its shard is re-exported without that doc, all
    other shards are copied."""
    from dungbeetle_spark.operators import fate_delta as FD
    from dungbeetle_spark.operators.pipeline import _export_frame

    ids = list(range(200))
    docs = _crafted_docs(spark, ids)
    dropped = 23
    kept_prev = docs.select("doc_id")
    kept_next = kept_prev.filter(F.col("doc_id") != dropped)
    prev_exp = _export_frame(docs, kept=kept_prev)
    got = FD._assemble_export(
        prev_exp,
        kept_prev,
        kept_next,
        kept_next.filter(F.lit(False)),
        docs,
    )
    want = _export_frame(docs, kept=kept_next)
    assert _rows(got.drop("action")) == _rows(want)
    dirty = {
        r["shard_id"]
        for r in FD._with_shard(
            spark.createDataFrame([(dropped,)], "doc_id long")
        ).collect()
    }
    re_sh = {
        r[0] for r in _rows(got.filter(F.col("action") == "reexported"), "shard_id")
    }
    assert re_sh == dirty
    assert _rows(got.filter(F.col("action") == "copied").drop("action")) == [
        r for r in _rows(prev_exp) if r[0] not in dirty
    ]


def test_export_diff_shipped_equals_delta_and_fixture_diff(spark, sf_smoke):
    """The tables-only nightly diff (two shipped export manifests,
    zero corpus reads at query time) must reproduce both the
    delta diff (curr = live projection) and the two-replay fixture
    diff row-for-row — transitively pinning that the assembled
    export manifest survived the job layer's type collapse intact."""
    from dungbeetle_spark.operators import fate_delta as FD
    from dungbeetle_spark.operators.pipeline import (
        _diff_frames,
        _export_frame,
    )
    from dungbeetle_spark.queries import registry

    reg = registry()
    got = reg["shard_export_diff_shipped"].build(spark, sf_smoke)
    delta = reg["shard_export_diff_delta"].build(spark, sf_smoke)
    sd = FD._seeded(spark, sf_smoke)
    fixture = _diff_frames(_export_frame(sd), _export_frame(FD._evolved(sd)))
    assert _rows(got) == _rows(delta) == _rows(fixture)


def test_next_export_manifest_table_rollover(spark, sf_smoke):
    """The shipped next export manifest honors the refresh= rollover
    hatch: a refresh rebuilds at a new results_<job_id> path with
    identical content (same staleness contract as every warehouse
    table)."""
    from dungbeetle_spark.operators import fate_delta as FD
    from dungbeetle_spark.operators import warehouse as W

    key = (os.path.realpath(sf_smoke), "export_manifest_dupseeded_next")
    nxt = FD.next_export_manifest_table(spark, sf_smoke)
    path1 = W._MATERIALIZED[key]
    again = FD.next_export_manifest_table(spark, sf_smoke, refresh=True)
    assert W._MATERIALIZED[key] != path1
    assert _rows(again) == _rows(nxt)


from hypothesis import given, settings
from hypothesis import strategies as st


@given(st.data())
@settings(max_examples=6, deadline=None)
def test_export_assembly_property_random_evolutions(spark, data):
    """Property pin for the export assembly: under ARBITRARY corpus
    evolutions (random removals, edits, negative-id additions) and
    ARBITRARY kept-set churn on both sides (any subset kept before,
    any subset kept after — far harsher than the fixture's fate
    pipeline would ever produce), the assembled manifest must equal
    the full re-export of the evolved corpus with next membership,
    row-for-row. The changelog contract holds by construction: the
    edited set handed to the assembly is exactly the content-changed
    kept docs."""
    from dungbeetle_spark.operators import fate_delta as FD
    from dungbeetle_spark.operators.pipeline import _export_frame

    ids = sorted(
        data.draw(
            st.sets(st.integers(0, 119), min_size=10, max_size=60),
            label="ids",
        )
    )
    removed = data.draw(st.sets(st.sampled_from(ids), max_size=8), label="rm")
    surviving = [i for i in ids if i not in removed]
    edited = data.draw(
        st.sets(st.sampled_from(surviving), max_size=8), label="ed"
    )
    added = data.draw(
        st.sets(st.integers(-40, -1), max_size=6), label="add"
    )
    prev_rows = [(i, f"doc {i} body words " * 6) for i in ids]
    ev_rows = [
        (i, t + " rev2" if i in edited else t)
        for i, t in prev_rows
        if i not in removed
    ] + [(a, f"incoming {a} fresh words " * 6) for a in sorted(added)]
    schema = "doc_id long, text string"
    prev_docs = spark.createDataFrame(prev_rows, schema)
    ev_docs = spark.createDataFrame(ev_rows, schema)

    kept_prev_ids = data.draw(
        st.sets(st.sampled_from(ids), min_size=1), label="kp"
    )
    ev_ids = [r[0] for r in ev_rows]
    kept_next_ids = data.draw(
        st.sets(st.sampled_from(ev_ids), min_size=1), label="kn"
    )
    kept_prev = spark.createDataFrame(
        [(i,) for i in sorted(kept_prev_ids)], "doc_id long"
    )
    kept_next = spark.createDataFrame(
        [(i,) for i in sorted(kept_next_ids)], "doc_id long"
    )
    edited_kept_ids = sorted(edited & kept_next_ids)
    edited_kept = (
        spark.createDataFrame([(i,) for i in edited_kept_ids], "doc_id long")
        if edited_kept_ids
        else kept_next.filter(F.lit(False))
    )

    prev_exp = _export_frame(prev_docs, kept=kept_prev)
    got = FD._assemble_export(
        prev_exp, kept_prev, kept_next, edited_kept, ev_docs
    )
    want = _export_frame(ev_docs, kept=kept_next)
    assert _rows(got.drop("action")) == _rows(want)


def test_canon_maintenance_equals_full_rebuild(spark, sf_smoke):
    """The delta-refreshed canonical map must equal a from-scratch
    rebuild over the evolved corpus, row-for-row (the oracle pins the
    same against DuckDB; this pins the Spark frames)."""
    from dungbeetle_spark.operators import fate_delta as FD
    from dungbeetle_spark.operators.warehouse import _canon_from_docs
    from dungbeetle_spark.queries import registry

    got = registry()["canon_map_maintenance"].build(spark, sf_smoke)
    sd = FD._seeded(spark, sf_smoke)
    want = _canon_from_docs(FD._evolved(sd))
    assert _rows(got) == _rows(want)


def test_canon_refresh_reelects_and_drops(spark):
    """Crafted arms the fixture evolution may not isolate: a KEEPER's
    departure re-elects the surviving min member; an arriving smaller
    id takes over its hash; a hash whose only member departs drops
    out of the map; untouched hashes pass through verbatim."""
    from dungbeetle_spark.operators import fate_delta as FD

    prev_members = spark.createDataFrame(
        [(1, "A"), (5, "A"), (7, "B"), (9, "C"), (20, "E")],
        "doc_id long, h string",
    )
    prev_canon = spark.createDataFrame(
        [("A", 1), ("B", 7), ("C", 9), ("E", 20)], "h string, dup_of long"
    )
    out_ids = spark.createDataFrame([(1,), (9,)], "doc_id long")
    in_rows = spark.createDataFrame(
        [(3, "B"), (11, "D")], "doc_id long, h string"
    )
    got = _rows(
        FD._refreshed_canon_frame(prev_members, prev_canon, out_ids, in_rows)
    )
    assert got == [("A", 5), ("B", 3), ("D", 11), ("E", 20)]


def test_rollover_gate_drain_equals_evolved_manifest(spark, sf_smoke):
    """Serving continuity across a rollover: the gate draining the
    shipped evolved snapshot against the four DELTA-refreshed
    reference tables must decide every document exactly as the batch
    fate manifest over the evolved corpus — no corpus-scale rebuild
    anywhere in the gate's lineage."""
    from dungbeetle_spark.operators import fate_delta as FD
    from dungbeetle_spark.operators.pipeline import _fate_frame
    from dungbeetle_spark.queries import registry

    got = registry()["streaming_fate_gate_rollover"].build(spark, sf_smoke)
    sd = FD._seeded(spark, sf_smoke)
    want = _fate_frame(FD._evolved(sd))
    assert _rows(got) == _rows(want)


def test_ilv_okey_is_the_export_key(spark):
    """The r14 review extracted the reproducible shuffle key into ONE
    definition (curation.ilv_okey) used by the interleave audit, the
    export digest chain, and the delta shard derivation. Those
    queries deliberately did NOT rejoin the driver window for pure
    code motion — this pin is the guarantee that motion stayed
    byte-identical: the helper's analyzed expression must equal the
    inline form every oracle's SQL twin renders."""
    from dungbeetle_spark.functions.texts import md5_hash60
    from dungbeetle_spark.operators.curation import ilv_okey

    inline = md5_hash60(
        F.concat(F.lit("shuffle|"), F.col("doc_id").cast("string"))
    )
    df = spark.range(3).select(F.col("id").alias("doc_id"))
    assert (
        df.select(ilv_okey().alias("k")).schema
        == df.select(inline.alias("k")).schema
    )
    assert _rows(df.select(ilv_okey().alias("k"))) == _rows(
        df.select(inline.alias("k"))
    )
    # and the expression trees themselves agree, not just 3 sample rows
    assert repr(ilv_okey()) == repr(inline)


def test_materialize_concurrently_non_pinned_fallback(spark, monkeypatch):
    """r14 review: in non-pinned mode (PYSPARK_PIN_THREAD=false)
    pyspark's inheritable_thread_target returns its argument — the
    SESSION, not a decorator — and the old guard could never catch it
    (the TypeError fired at call time, outside the try). The helper
    must degrade and still return thunk results in order — since r15
    it degrades to SEQUENTIAL caller-thread execution (ADVICE r14:
    unpinned threads share JVM thread-locals, so concurrent builds
    could bleed job groups); same guard in bench._materialize_tables."""
    import pyspark

    from dungbeetle_spark.planmode import materialize_concurrently

    monkeypatch.setattr(
        pyspark, "inheritable_thread_target", lambda session: session
    )
    out = materialize_concurrently(spark, lambda: 1, lambda: 2, lambda: 3)
    assert out == [1, 2, 3]
