"""Materialized-manifest warehouse variants (r13, VERDICT r12 item 1).

The composed fate family's fixture queries replay the fate plan from
raw documents per consumer — sound plans individually, but at 100 TB
the plan is computed ONCE, shipped as a manifest table, and every
downstream artifact READS it. This module is that warehouse shape,
built on the engine's own Part A surface: a callable task materializes
``corpus_fate_manifest`` as a job RESULT TABLE through the job layer
(``Core.new_job`` → ``ParquetResultBackend.write`` →
``results_<job_id>``, mirroring the reference's whole architecture —
results streamed into per-job tables, core.go:510–572, sqldb.go:77–81,
99), and the ``*_from_manifest`` variants consume that table:

- ``shard_export_from_manifest`` — export membership from the table;
- ``pii_audit_from_manifest`` — audit membership from the table;
- ``release_datacard_from_manifest`` — fate rollup OVER the table;
- ``shard_export_diff_from_manifest`` — ``prev`` read from the shipped
  export manifest table, so the diff pays ONE export replay (for the
  evolved corpus) instead of two;
- ``fate_churn_summary`` — per-doc fate transitions between the
  shipped manifest and the evolved corpus's recomputed fates: the
  re-curation audit after a threshold/code change.

Every variant shares its fixture twin's oracle (the fate CTE in those
oracles IS the spliced manifest), so the driver pins
table-read ≡ replay value-for-value. The streaming gates' static
reference state (canonical map, eval grams, fuzzy stop set + eval band
index) is materialized the same way for the fate, fuzzy and PII gate
drains in ``streaming.stateful``.

Materialization is cached per (process, sf_dir, table): the first
consumer pays one job-layer write; every later consumer — including
the other variants in the same bench/driver run — reads parquet.
"""

from __future__ import annotations

import atexit
import json
import os
import tempfile
import threading
import time
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dungbeetle_spark.planmode import materialize_concurrently, maybe_local_checkpoint
from dungbeetle_spark.queries import _t, query

# -- job-layer materialization ------------------------------------------------

# (realpath(sf_dir), table name) -> parquet path of results_<job_id>.
# _REG_LOCK guards the dicts only; each key gets its own build lock so
# a reader of an already-cached table — or of a table for a different
# sf_dir — never blocks behind an unrelated in-flight materialization
# (ADVICE r13: the old global lock was held for the whole Spark job,
# up to _JOB_TIMEOUT_SEC).
_MATERIALIZED: dict[tuple[str, str], str] = {}
_REG_LOCK = threading.Lock()
_KEY_LOCKS: dict[tuple[str, str], threading.Lock] = {}
# backend dirs THIS process created (preloaded paths are never ours to
# delete); reaped at interpreter exit so bench/sweep loops don't strand
# manifest-scale parquet under /tmp (ADVICE r13).
_OWNED_DIRS: list[str] = []
_JOB_TIMEOUT_SEC = 900.0
# session -> {key: (path, DataFrame read of path)}. ``spark.read.parquet``
# runs a schema-inference job on every call, so each session keeps its
# read of the current path, as ``catalog.load_tables`` does; the key
# includes the session because ``Core`` hands builders child sessions.
_READS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


@atexit.register
def _reap_owned_dirs() -> None:
    import shutil

    with _REG_LOCK:
        dirs, _OWNED_DIRS[:] = list(_OWNED_DIRS), []
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)


def export_cache(path: str) -> None:
    """Snapshot the materialization cache to a JSON file so a sibling
    process (the fresh-session streaming bench drain, r14) can read
    the already-built result tables instead of re-paying the job-layer
    builds. The snapshot holds paths only — the exporting process
    keeps owning (and eventually reaping) the directories, so it must
    outlive every consumer of the snapshot."""
    with _REG_LOCK:
        snap = {f"{sfd}\t{name}": p for (sfd, name), p in _MATERIALIZED.items()}
    with open(path, "w") as f:
        json.dump(snap, f)


def preload_cache(path: str) -> int:
    """Seed the cache from an :func:`export_cache` snapshot; returns
    how many entries were adopted. Paths that no longer exist are
    skipped (the exporter may have exited and reaped them). Adopted
    paths are NOT owned — never reaped — by this process."""
    with open(path) as f:
        snap = json.load(f)
    n = 0
    with _REG_LOCK:
        for k, p in snap.items():
            sfd, name = k.split("\t", 1)
            if os.path.isdir(p):
                _MATERIALIZED.setdefault((sfd, name), p)
                n += 1
    return n


def _result_table(
    spark: SparkSession, sf_dir: str, name: str, build, refresh: bool = False
) -> DataFrame:
    """Materialize ``build(sess, sf_dir)`` as a job RESULT TABLE, once
    per process per (sf_dir, name), and return the table read.

    The write goes through the full Part A path — a callable task on a
    ``Core`` (register_callable_task), enqueued as a job with a
    deterministic ID, executed under a cancellable job group, streamed
    into ``results_<job_id>`` by ``ParquetResultBackend`` with the
    canonical type collapse (sqldb.go:254–281; the manifest's
    long/string columns round-trip exactly) — so the table the
    variants read is the same artifact an HTTP client of the engine
    would poll for and fetch (core.go:510–572).

    Staleness contract (VERDICT r13 item 6): the cache key is
    (realpath(sf_dir), name) for the LIFE OF THE PROCESS — correct for
    bench/driver runs over immutable fixture dirs, stale the moment
    the corpus under sf_dir changes (a rollover). ``refresh=True`` is
    the invalidation hatch: it rebuilds through the job layer and
    repoints the cache, path and per-session read alike; DataFrames
    handed out against the old path stay readable until process exit
    (the old dir is reaped then, not at repoint)."""
    key = (os.path.realpath(sf_dir), name)
    with _REG_LOCK:
        lock = _KEY_LOCKS.setdefault(key, threading.Lock())
    with lock:
        with _REG_LOCK:
            path = None if refresh else _MATERIALIZED.get(key)
        if path is None:
            path = _materialize(spark, sf_dir, name, build)
            with _REG_LOCK:
                _MATERIALIZED[key] = path
    with _REG_LOCK:
        reads = _READS.setdefault(spark, {})
        hit = reads.get(key)
    if hit is not None and hit[0] == path:
        return hit[1]
    df = spark.read.parquet(path)
    with _REG_LOCK:
        reads[key] = (path, df)
    return df


def result_table_path(sf_dir: str, name: str) -> str:
    """Filesystem path of an already-materialized result table — for
    consumers that need the parquet DIRECTORY rather than a DataFrame
    (the streaming file source reads paths, not frames). Raises if the
    table was never materialized in this process."""
    key = (os.path.realpath(sf_dir), name)
    with _REG_LOCK:
        path = _MATERIALIZED.get(key)
    if path is None:
        raise KeyError(f"result table {name!r} not materialized for {sf_dir}")
    return path


def _materialize(
    spark: SparkSession, sf_dir: str, name: str, build
) -> str:
    from dungbeetle_spark.core import Core, JobReq

    core = Core(spark, worker_concurrency=1)
    backend_dir = tempfile.mkdtemp(prefix="dungbeetle_warehouse_")
    with _REG_LOCK:
        _OWNED_DIRS.append(backend_dir)
    core.add_result_backend("warehouse", backend_dir)
    # ttl=0 → keep the result forever (no reaper is running anyway;
    # the table must outlive the Core for the cached read path).
    core.register_callable_task(name, lambda sess, args: build(sess, sf_dir))
    core.start()
    try:
        resp = core.new_job(name, JobReq(job_id=f"{name}_mat", ttl=0))
        deadline = time.monotonic() + _JOB_TIMEOUT_SEC
        while True:
            st = core.job_status(resp.job_id)
            if st["state"] == "SUCCESS":
                break
            if st["state"] == "FAILURE":
                raise RuntimeError(
                    f"materialization job {resp.job_id} failed: {st['error']}"
                )
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"materialization job {resp.job_id} did not finish in "
                    f"{_JOB_TIMEOUT_SEC}s"
                )
            time.sleep(0.05)
        return core.result_backends.get("warehouse").table_path(resp.job_id)
    finally:
        core.stop()


def manifest_table(
    spark: SparkSession, sf_dir: str, refresh: bool = False
) -> DataFrame:
    """The shipped ``corpus_fate_manifest`` result table (doc_id, fate,
    quality_reason, canonical_id, n_contaminated, fuzzy_matched_bands),
    materialized once through the job layer. ``refresh=True`` rebuilds
    after a corpus rollover (see ``_result_table``'s staleness
    contract)."""
    from dungbeetle_spark.operators.pipeline import _fate_frame

    return _result_table(
        spark,
        sf_dir,
        "corpus_fate_manifest",
        lambda sess, sfd: _fate_frame(_t(sess, sfd, "documents")["documents"]),
        refresh=refresh,
    )


def export_manifest_table(
    spark: SparkSession, sf_dir: str, refresh: bool = False
) -> DataFrame:
    """The shipped ``shard_export_manifest`` result table — the
    previous-snapshot side the incremental diff reads in production."""
    from dungbeetle_spark.operators.pipeline import _export_frame

    return _result_table(
        spark,
        sf_dir,
        "shard_export_manifest",
        lambda sess, sfd: _export_frame(
            _t(sess, sfd, "documents")["documents"]
        ),
        refresh=refresh,
    )


# -- streaming-gate reference state as result tables --------------------------


def _canon_members(d: DataFrame) -> DataFrame:
    """The canonical map's MEMBERSHIP — ``(doc_id, h)`` for every
    quality-surviving non-eval doc — extracted r14 so the canon-map
    delta maintenance (operators.fate_delta) can ship it as the
    count-bearing state table the min-keeper election needs (the map
    alone can't absorb a keeper's departure; the membership can)."""
    from dungbeetle_spark.functions.texts import content_md5
    from dungbeetle_spark.operators.mixing import _EVAL_MOD
    from dungbeetle_spark.operators.text import funnel_verdicts
    from dungbeetle_spark.sources.catalog import fan_out

    # r14 opt: verdict + md5 in one projection — no re-scan + join
    # back on doc_id (guide §2.4); values identical by construction.
    return (
        funnel_verdicts(fan_out(d), extra={"h": content_md5("text")})
        .filter((F.col("doc_id") % _EVAL_MOD != 0) & (F.col("reason") == "kept"))
        .select("doc_id", "h")
    )


def _canon_from_docs(d: DataFrame) -> DataFrame:
    """The canonical map (content-md5 → keeper among quality-surviving
    non-eval docs) over any documents frame — the dedup-probe side of
    the fate gate (same construction as stateful.fate_gate_reference;
    equality is pinned by the shared composed oracle)."""
    return _canon_members(d).groupBy("h").agg(F.min("doc_id").alias("dup_of"))


def _canon_frame(sess: SparkSession, sf_dir: str) -> DataFrame:
    """fate_reference_tables' canonical-map builder over the loaded
    corpus."""
    return _canon_from_docs(_t(sess, sf_dir, "documents")["documents"])


def _eval_gram_frame(sess: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct eval-holdout gram set (exact decontamination probe
    side), with the probe's ``hit`` marker column."""
    from dungbeetle_spark.operators.mixing import (
        _EVAL_MOD,
        _GRAM_N,
        fate_seeded_toks,
        word_ngrams,
    )
    from dungbeetle_spark.sources.catalog import fan_out

    d = _t(sess, sf_dir, "documents")["documents"]
    return (
        fate_seeded_toks(fan_out(d.select("doc_id", "text")))
        .filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select(F.explode_outer(word_ngrams("t", _GRAM_N)).alias("gram"))
        .where(F.col("gram").isNotNull())
        .distinct()
        .withColumn("hit", F.lit(1))
    )


def _fstops_frame(sess: SparkSession, sf_dir: str) -> DataFrame:
    """The fuzzy-decon high-DF stop-shingle set (mixing._fdc_stop_set
    over the seeded corpus shingle hashes)."""
    from dungbeetle_spark.operators.mixing import (
        _fdc_seeded,
        _fdc_shingle_hashes,
        _fdc_stop_set,
    )

    d = _t(sess, sf_dir, "documents")["documents"]
    return _fdc_stop_set(_fdc_shingle_hashes(_fdc_seeded(d)), d)


def _fev_build(sess: SparkSession, sf_dir: str, fstops: DataFrame) -> DataFrame:
    """The stop-filtered eval band index, built FROM the stop-set
    result table (result-table chaining: this job's input is the
    previous job's output, the pipeline composition the reference runs
    across external DBs)."""
    from dungbeetle_spark.operators.mixing import (
        _EVAL_MOD,
        _fdc_band_rows,
        _fdc_minhash,
        _fdc_seeded,
        _fdc_shingle_hashes,
    )

    d = _t(sess, sf_dir, "documents")["documents"]
    sh = _fdc_shingle_hashes(
        _fdc_seeded(d.filter(F.col("doc_id") % _EVAL_MOD == 0))
    )
    return (
        _fdc_band_rows(_fdc_minhash(sh.join(F.broadcast(fstops), "hs", "left_anti")))
        .select(F.col("doc_id").alias("eval_doc"), "j", "h")
    )


def fate_reference_tables(
    sess: SparkSession, sf_dir: str, refresh: bool = False
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The fate/PII gates' static reference state as four job result
    tables — ``(canon, ev, fstops, fev)``. Production maintains these
    as refreshed tables (the gates' docstrings' claim); this
    materializes them through the job layer once per process so the
    gate drains (via ``stateful.fate_gate_reference``) measure the
    per-batch probe, not the reference-state build.

    r15 (guide §2.6): the canon / eval-gram / stop-set builds are
    mutually independent, so their job-layer builds overlap on
    concurrent driver threads (the per-key locks keep each table
    built exactly once); only the band index waits on the stop set it
    chains from. Cached-path calls skip the pool's thunks in
    microseconds."""
    canon, ev, fstops = materialize_concurrently(
        sess,
        lambda: _result_table(
            sess, sf_dir, "fate_ref_canon", _canon_frame, refresh=refresh
        ),
        lambda: _result_table(
            sess,
            sf_dir,
            "fate_ref_eval_grams",
            _eval_gram_frame,
            refresh=refresh,
        ),
        lambda: _result_table(
            sess,
            sf_dir,
            "fdc_ref_stop_shingles",
            _fstops_frame,
            refresh=refresh,
        ),
    )
    fev = _result_table(
        sess,
        sf_dir,
        "fdc_ref_eval_bands",
        lambda s, sfd: _fev_build(s, sfd, fstops),
        refresh=refresh,
    )
    return canon, ev, fstops, fev


# -- the *_from_manifest registry variants ------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents")["documents"]


def _kept_ids(man: DataFrame) -> DataFrame:
    return man.filter(F.col("fate") == "kept").select("doc_id")


def _export_from_manifest_oracle() -> str:
    from dungbeetle_spark.operators.pipeline import _export_oracle

    return _export_oracle()


@query(
    "shard_export_from_manifest",
    oracle=_export_from_manifest_oracle(),
    doc="shard_export_manifest's WAREHOUSE shape (VERDICT r12 item 1): "
    "export membership comes from the corpus_fate_manifest job RESULT "
    "TABLE (materialized once through the Part A job layer — "
    "results_<job_id>, core.go:510–572) instead of replaying the "
    "composed fate plan; the export projection (shared PII "
    "seed/redact, shuffle key, per-shard digest chain) is byte-"
    "identical to the fixture query's. The oracle is the fixture "
    "oracle verbatim — its fate CTE IS the spliced manifest — so the "
    "driver pins table-read ≡ replay for every digest.",
)
def shard_export_from_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: ONE parquet scan of the manifest table (doc_id +
    fate only — column pruning reaches the scan), a doc_id-keyed
    semi-join into the corpus, and shard_export_manifest's map-side
    projection + single shard-keyed aggregate. The composed fate plan
    is paid once at materialization time, amortized over every
    consumer in the release family."""
    from dungbeetle_spark.operators.pipeline import _export_frame

    d = _docs(spark, sf_dir)
    return _export_frame(d, kept=_kept_ids(manifest_table(spark, sf_dir)))


def _pii_audit_from_manifest_oracle() -> str:
    from dungbeetle_spark.operators.pipeline import _pii_audit_oracle

    return _pii_audit_oracle()


@query(
    "pii_audit_from_manifest",
    oracle=_pii_audit_from_manifest_oracle(),
    doc="pii_redaction_audit's WAREHOUSE shape: audit membership from "
    "the shipped corpus_fate_manifest result table; the audit itself "
    "stays the one codegen regexp projection + source rollup. Shares "
    "the fixture oracle verbatim (its fate CTE is the manifest), so "
    "every per-source count is pinned table-read ≡ replay.",
)
def pii_audit_from_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: manifest-table scan (pruned to doc_id+fate) +
    doc-keyed semi-join + map-only seed/redact/count projection +
    |sources| rollup — no fate replay, no corpus-scale shuffle beyond
    the membership join."""
    from dungbeetle_spark.operators.pipeline import _pii_audit_frame

    d = _docs(spark, sf_dir)
    return _pii_audit_frame(d, _kept_ids(manifest_table(spark, sf_dir)))


def _datacard_from_manifest_oracle() -> str:
    from dungbeetle_spark.operators.pipeline import _datacard_oracle

    return _datacard_oracle()


@query(
    "release_datacard_from_manifest",
    oracle=_datacard_from_manifest_oracle(),
    doc="release_datacard's WAREHOUSE shape: both rollups (fate "
    "breakdown per source, shipped/redacted volume block) run OVER "
    "the shipped corpus_fate_manifest result table — the datacard as "
    "a rollup over warehouse tables, exactly what the fixture "
    "query's docstring promises production does. Shares the fixture "
    "oracle verbatim.",
)
def release_datacard_from_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Scale shape: one manifest-table scan feeds both the fate rollup
    and the kept membership (parquet is the materialization — no
    localCheckpoint needed, unlike the fixture replay); the volume
    block adds the same map-only seed/redact projection and
    source-keyed aggregate; final join is |sources|²."""
    from dungbeetle_spark.operators.pipeline import _datacard_frame

    d = _docs(spark, sf_dir)
    return _datacard_frame(d, manifest_table(spark, sf_dir))


def _diff_from_manifest_oracle() -> str:
    from dungbeetle_spark.operators.pipeline import _export_diff_oracle

    return _export_diff_oracle()


@query(
    "shard_export_diff_from_manifest",
    oracle=_diff_from_manifest_oracle(),
    doc="shard_export_diff's WAREHOUSE shape — the r12 verdict's "
    "headline ask: ``prev`` is READ from the shipped "
    "shard_export_manifest result table, ``curr`` is the one export "
    "replay over the evolved corpus, and the diff decision "
    "(_diff_frames) is the same replay-independent full-outer "
    "comparison — so the incremental re-export plan pays ONE fate "
    "plan instead of two. Shares the fixture oracle verbatim: the "
    "oracle's prev CTE replays the export, which must equal the "
    "shipped table byte-for-byte (that equality is the export's own "
    "reproducibility contract, pinned since r11).",
)
def shard_export_diff_from_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Scale shape: one export replay (fate plan + shard aggregate)
    for the CURRENT corpus, a driver-scale parquet read of the prev
    manifest table (cardinality = shard count), and one shard-keyed
    full-outer join. Exactly half the fixture query's composed
    cost — the number the r12 SCALING sweep flagged."""
    from dungbeetle_spark.operators.pipeline import (
        _diff_frames,
        _evolved_docs,
        _export_frame,
    )

    d = _docs(spark, sf_dir)
    prev = export_manifest_table(spark, sf_dir)
    return _diff_frames(prev, _export_frame(_evolved_docs(d)))


def _churn_oracle() -> str:
    from dungbeetle_spark.operators.pipeline import (
        _EVOLVED_DOCS_SQL,
        _fate_oracle,
    )

    return f"""
    WITH {_EVOLVED_DOCS_SQL},
    prev AS (SELECT * FROM ({_fate_oracle("documents")}) p),
    curr AS (SELECT * FROM ({_fate_oracle("newdocs")}) c)
    SELECT COALESCE(p.fate, 'absent') AS prev_fate,
           COALESCE(c.fate, 'absent') AS curr_fate,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(COALESCE(p.doc_id, c.doc_id)) AS BIGINT) AS example_doc
    FROM prev p FULL OUTER JOIN curr c ON p.doc_id = c.doc_id
    GROUP BY 1, 2
    """


@query(
    "fate_churn_summary",
    oracle=_churn_oracle(),
    doc="Fate CHURN between releases — the re-curation audit a "
    "pipeline runs after a threshold/code change or a corpus "
    "refresh: the shipped corpus_fate_manifest result table "
    "full-outer-joined per doc_id against the evolved corpus's "
    "recomputed fates (corpus_snapshot_diff's evolution convention), "
    "aggregated per (prev_fate, curr_fate) transition with counts "
    "and an example doc. 'absent' marks docs on one side only "
    "(removed / newly added). kept→dropped_* rows are the training "
    "docs the change takes away; dropped_*→kept the ones it "
    "readmits — the diff a release review signs off on. The oracle "
    "replays both fate plans relationally and joins them, so every "
    "transition count is pinned table-read ≡ replay.",
)
def fate_churn_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the prev side is a manifest-table scan (doc_id +
    fate, pruned); the curr side pays ONE fate plan over the evolved
    corpus — which an incremental deployment already computes to ship
    the new manifest, so the churn summary is a byproduct join: one
    doc_id-keyed full-outer (unique keys per side — no skew) into a
    bounded |fates|² rollup."""
    from dungbeetle_spark.operators.pipeline import _evolved_docs, _fate_frame

    d = _docs(spark, sf_dir)
    prev = manifest_table(spark, sf_dir).select(
        F.col("doc_id").alias("p_id"), F.col("fate").alias("p_fate")
    )
    curr = _fate_frame(_evolved_docs(d)).select(
        F.col("doc_id").alias("c_id"), F.col("fate").alias("c_fate")
    )
    joined = prev.join(curr, prev.p_id == curr.c_id, "full_outer")
    return (
        joined.select(
            F.coalesce("p_fate", F.lit("absent")).alias("prev_fate"),
            F.coalesce("c_fate", F.lit("absent")).alias("curr_fate"),
            F.coalesce("p_id", "c_id").alias("doc_id"),
        )
        .groupBy("prev_fate", "curr_fate")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").cast("long").alias("example_doc"),
        )
    )


def _datacard_diff_oracle() -> str:
    from dungbeetle_spark.operators.pipeline import (
        _EVOLVED_DOCS_SQL,
        _datacard_oracle,
    )

    return f"""
    WITH {_EVOLVED_DOCS_SQL},
    prev AS (SELECT * FROM ({_datacard_oracle("documents")}) p),
    curr AS (SELECT * FROM ({_datacard_oracle("newdocs")}) c)
    SELECT COALESCE(p.source, c.source) AS source,
           COALESCE(p.n_docs, 0) AS prev_n_docs,
           COALESCE(c.n_docs, 0) AS curr_n_docs,
           COALESCE(c.n_docs, 0) - COALESCE(p.n_docs, 0) AS docs_delta,
           COALESCE(p.kept, 0) AS prev_kept,
           COALESCE(c.kept, 0) AS curr_kept,
           COALESCE(c.kept, 0) - COALESCE(p.kept, 0) AS kept_delta,
           COALESCE(p.shipped_chars, 0) AS prev_shipped_chars,
           COALESCE(c.shipped_chars, 0) AS curr_shipped_chars,
           COALESCE(c.shipped_chars, 0) - COALESCE(p.shipped_chars, 0)
             AS shipped_chars_delta
    FROM prev p FULL OUTER JOIN curr c ON p.source = c.source
    """


@query(
    "release_datacard_diff",
    oracle=_datacard_diff_oracle(),
    doc="Per-source release DELTA — the datacard-level companion to "
    "fate_churn_summary a release review reads first: for each "
    "source, ingested/kept/shipped-char totals of the SHIPPED release "
    "(prev side read from the materialized corpus_fate_manifest "
    "result table) against the evolved corpus's recomputed datacard, "
    "with signed deltas. kept_delta is the per-source training-data "
    "gain/loss the corpus refresh causes; shipped_chars_delta prices "
    "it in volume. The oracle replays both datacards relationally "
    "(the parameterized _datacard_oracle over documents and the "
    "evolved snapshot) and joins per source, so every delta is pinned "
    "table-read ≡ replay.",
)
def release_datacard_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the prev side is release_datacard_from_manifest's
    plan (manifest-table scan + map-only seed/redact + |sources|
    rollups); the curr side pays the one evolved fate plan an
    incremental deployment computes anyway (same replay
    fate_churn_summary shares — at warehouse scale both consumers
    read the NEW manifest table once it ships); the join is
    |sources| x |sources|, driver-scale at any corpus size."""
    from dungbeetle_spark.operators.pipeline import (
        _datacard_frame,
        _evolved_docs,
        _fate_frame,
    )

    d = _docs(spark, sf_dir)
    prev = _datacard_frame(d, manifest_table(spark, sf_dir)).alias("p")
    ev = _evolved_docs(d)
    # localCheckpoint like the fixture datacard: the fate frame feeds
    # both the fate rollup and the kept membership, so the evolved
    # fate assembly materializes once (release_datacard's own pin)
    curr = _datacard_frame(
        ev, maybe_local_checkpoint(_fate_frame(ev), eager=False)
    ).alias("c")
    z = F.lit(0)
    return prev.join(
        curr, F.col("p.source") == F.col("c.source"), "full_outer"
    ).select(
        F.coalesce("p.source", "c.source").alias("source"),
        F.coalesce(F.col("p.n_docs"), z).cast("long").alias("prev_n_docs"),
        F.coalesce(F.col("c.n_docs"), z).cast("long").alias("curr_n_docs"),
        (F.coalesce(F.col("c.n_docs"), z) - F.coalesce(F.col("p.n_docs"), z))
        .cast("long")
        .alias("docs_delta"),
        F.coalesce(F.col("p.kept"), z).cast("long").alias("prev_kept"),
        F.coalesce(F.col("c.kept"), z).cast("long").alias("curr_kept"),
        (F.coalesce(F.col("c.kept"), z) - F.coalesce(F.col("p.kept"), z))
        .cast("long")
        .alias("kept_delta"),
        F.coalesce(F.col("p.shipped_chars"), z)
        .cast("long")
        .alias("prev_shipped_chars"),
        F.coalesce(F.col("c.shipped_chars"), z)
        .cast("long")
        .alias("curr_shipped_chars"),
        (
            F.coalesce(F.col("c.shipped_chars"), z)
            - F.coalesce(F.col("p.shipped_chars"), z)
        )
        .cast("long")
        .alias("shipped_chars_delta"),
    )


# -- fate_recompute_plan -------------------------------------------------------

# Planted duplicate groups for the planner fixture: the organic corpus
# has no exact-duplicate group that SURVIVES the quality funnel (every
# sf's fate manifest carries zero dropped_duplicate rows), so the
# planner's group re-election arms would be fixture-dead. Docs with
# doc_id % _DUP_MOD == _DUP_RES have their text REPLACED by one of
# _DUP_GROUPS shared passages (group = doc_id % _DUP_GROUPS) that pass
# the quality funnel by construction — planted in a VIEW, mirrored in
# the oracle, the _MHI/_LEAK seeding discipline. With the evolution
# convention this yields removed keepers, edited members, affected AND
# untouched groups at the driver scales.
_DUP_MOD = 19
_DUP_RES = 5
_DUP_GROUPS = 8
_DUP_P1 = "the shared boilerplate notice of group "
_DUP_P2 = (
    " is repeated across many crawled pages and the canonical keeper "
    "must win the election while every other copy is dropped as a "
    "duplicate of that keeper under the exact content hash rule"
)


def _dup_seeded(d: DataFrame) -> DataFrame:
    """The duplicate-seeded corpus view (Spark side)."""
    passage = F.concat(
        F.lit(_DUP_P1),
        (F.col("doc_id") % _DUP_GROUPS).cast("string"),
        F.lit(_DUP_P2),
    )
    return d.select(
        "doc_id",
        F.when(F.col("doc_id") % _DUP_MOD == _DUP_RES, passage)
        .otherwise(F.col("text"))
        .alias("text"),
        "lang",
        "source",
    )


def _dup_seeded_sql(src: str = "documents") -> str:
    """DuckDB twin of :func:`_dup_seeded` as a CTE body."""
    return f"""
      SELECT doc_id,
             CASE WHEN doc_id % {_DUP_MOD} = {_DUP_RES}
                  THEN '{_DUP_P1}' || CAST(doc_id % {_DUP_GROUPS} AS VARCHAR)
                       || '{_DUP_P2}'
                  ELSE text END AS text,
             lang, source
      FROM {src}"""


def seeded_manifest_table(
    spark: SparkSession, sf_dir: str, refresh: bool = False
) -> DataFrame:
    """The shipped fate manifest of the duplicate-seeded corpus — the
    planner's prev side, materialized through the job layer like
    manifest_table."""
    from dungbeetle_spark.operators.pipeline import _fate_frame

    return _result_table(
        spark,
        sf_dir,
        "fate_manifest_dupseeded",
        lambda sess, sfd: _fate_frame(
            _dup_seeded(_t(sess, sfd, "documents")["documents"])
        ),
        refresh=refresh,
    )


def seeded_canon_table(
    spark: SparkSession, sf_dir: str, refresh: bool = False
) -> DataFrame:
    """The duplicate-seeded corpus's canonical map result table."""
    return _result_table(
        spark,
        sf_dir,
        "fate_ref_canon_dupseeded",
        lambda sess, sfd: _canon_from_docs(
            _dup_seeded(_t(sess, sfd, "documents")["documents"])
        ),
        refresh=refresh,
    )


def _recompute_plan_oracle() -> str:
    from dungbeetle_spark.functions.texts import content_md5_sql
    from dungbeetle_spark.operators.mixing import _EVAL_MOD
    from dungbeetle_spark.operators.pipeline import (
        _evolved_docs_sql,
        _fate_oracle,
        _fate_verdict_ctes,
    )

    return f"""
    WITH sdocs AS ({_dup_seeded_sql()}),
    {_evolved_docs_sql("sdocs")},
    {_fate_verdict_ctes("sdocs")},
    flags0 AS (
      SELECT d.doc_id, v.reason,
             d.doc_id % {_EVAL_MOD} = 0 AS is_eval,
             {content_md5_sql("d.text")} AS h
      FROM sdocs d JOIN verdict v USING (doc_id)),
    canon0 AS (
      SELECT h, MIN(doc_id) AS dup_of FROM flags0
      WHERE NOT is_eval AND reason = 'kept' GROUP BY h),
    prevm AS (SELECT * FROM ({_fate_oracle("sdocs")}) x),
    touched AS (SELECT * FROM newdocs WHERE doc_id < 0 OR doc_id % 7 = 3),
    {_fate_verdict_ctes("touched", "t")},
    incoming AS (
      SELECT t.doc_id, {content_md5_sql("t.text")} AS h
      FROM touched t JOIN tverdict v USING (doc_id)
      WHERE v.reason = 'kept' AND t.doc_id % {_EVAL_MOD} <> 0),
    affected AS (
      SELECT DISTINCT gid FROM (
        SELECT canonical_id AS gid FROM prevm
        WHERE canonical_id <> -1
          AND (doc_id % 11 = 0 OR doc_id % 7 = 3)
        UNION ALL
        SELECT c.dup_of AS gid FROM incoming i JOIN canon0 c USING (h)))
    SELECT n.doc_id,
           CASE WHEN n.doc_id < 0 OR n.doc_id % 7 = 3 THEN 'recompute'
                WHEN n.doc_id % {_EVAL_MOD} = 0 THEN 'keep_prev'
                WHEN p.quality_reason <> 'kept' THEN 'keep_prev'
                WHEN a.gid IS NOT NULL THEN 'reelect'
                WHEN p.fate = 'dropped_duplicate' THEN 'keep_prev'
                ELSE 'reprobe' END AS action,
           CASE WHEN n.doc_id < 0 THEN 'new_document'
                WHEN n.doc_id % 7 = 3 THEN 'content_changed'
                WHEN n.doc_id % {_EVAL_MOD} = 0 THEN 'eval_holdout_stable'
                WHEN p.quality_reason <> 'kept' THEN 'quality_seals_first'
                WHEN a.gid IS NOT NULL THEN 'duplicate_group_affected'
                WHEN p.fate = 'dropped_duplicate' THEN 'keeper_unchanged'
                ELSE 'reference_drift' END AS reason
    FROM newdocs n
    LEFT JOIN prevm p ON p.doc_id = n.doc_id
    LEFT JOIN affected a ON a.gid = p.canonical_id
    """


def _recompute_plan_frame(
    ev: DataFrame, prev: DataFrame, canon: DataFrame
) -> DataFrame:
    """The classification itself, over ANY (evolved corpus, prev
    manifest, canonical map) triple — extracted so unit tests can
    drive the incoming-hit arm (an edited doc whose new content hash
    lands in an existing group) with crafted frames; the registry
    fixture's evolution convention cannot produce that collision."""
    from dungbeetle_spark.functions.texts import content_md5
    from dungbeetle_spark.operators.mixing import _EVAL_MOD
    from dungbeetle_spark.operators.text import funnel_verdicts
    from dungbeetle_spark.sources.catalog import fan_out

    is_touched = (F.col("doc_id") < 0) | (F.col("doc_id") % 7 == 3)
    touched = ev.filter(is_touched)
    # r14 opt: verdict + md5 in one projection (guide §2.4)
    incoming = (
        funnel_verdicts(fan_out(touched), extra={"h": content_md5("text")})
        .filter(
            (F.col("reason") == "kept") & (F.col("doc_id") % _EVAL_MOD != 0)
        )
        .select("h")
    )
    hits = incoming.join(canon, "h").select(F.col("dup_of").alias("gid"))
    left_groups = prev.filter(
        (F.col("canonical_id") != -1)
        & ((F.col("doc_id") % 11 == 0) | (F.col("doc_id") % 7 == 3))
    ).select(F.col("canonical_id").alias("gid"))
    affected = left_groups.unionByName(hits).distinct()
    j = (
        ev.select("doc_id")
        .join(
            prev.select("doc_id", "fate", "quality_reason", "canonical_id"),
            "doc_id",
            "left",
        )
        .join(
            F.broadcast(affected),
            F.col("canonical_id") == F.col("gid"),
            "left",
        )
    )
    action = (
        F.when(is_touched, "recompute")
        .when(F.col("doc_id") % _EVAL_MOD == 0, "keep_prev")
        .when(F.col("quality_reason") != "kept", "keep_prev")
        .when(F.col("gid").isNotNull(), "reelect")
        .when(F.col("fate") == "dropped_duplicate", "keep_prev")
        .otherwise("reprobe")
    )
    reason = (
        F.when(F.col("doc_id") < 0, "new_document")
        .when(F.col("doc_id") % 7 == 3, "content_changed")
        .when(F.col("doc_id") % _EVAL_MOD == 0, "eval_holdout_stable")
        .when(F.col("quality_reason") != "kept", "quality_seals_first")
        .when(F.col("gid").isNotNull(), "duplicate_group_affected")
        .when(F.col("fate") == "dropped_duplicate", "keeper_unchanged")
        .otherwise("reference_drift")
    )
    return j.select("doc_id", action.alias("action"), reason.alias("reason"))


@query(
    "fate_recompute_plan",
    oracle=_recompute_plan_oracle(),
    doc="Incremental re-curation PLANNER (the r14 primary, started "
    "r13): given the SHIPPED fate manifest result table, the "
    "canonical-map result table, and the evolved corpus "
    "(corpus_snapshot_diff's convention over the duplicate-seeded "
    "view — the organic corpus has no quality-surviving duplicate "
    "group, so the election arms would be fixture-dead), classify "
    "every evolved-corpus document by the cheapest safe action an "
    "incremental fate deployment can take: keep_prev (fate provably "
    "sealed before any corpus-coupled reference — eval holdout, "
    "quality drops, duplicates of unaffected groups), reelect "
    "(members of duplicate groups that lost a member to removal/edit "
    "or gained an incoming content-hash hit — keeper election must "
    "re-run), reprobe (surviving canonicals: decon/fuzzy verdicts "
    "read the eval gram set, stop-shingle DF state, and eval band "
    "index, all of which drift with any corpus change — a map-side "
    "probe against refreshed references, not a pipeline re-run), and "
    "recompute (edited/added documents). Safety is pinned by test: "
    "every keep_prev doc's FULL prev manifest row equals its "
    "full-recompute row on the evolved corpus. The oracle derives "
    "the same classification relationally.",
)
def fate_recompute_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the prev side is two bounded table scans (manifest
    + canonical map); the only per-doc text work is quality verdicts
    and content hashes for the TOUCHED docs (the delta, small by
    definition); affected-group detection is a broadcast semi of the
    touched hashes against the canonical-map table plus an
    id-arithmetic filter of the manifest; the classification itself
    is one map-side CASE over the manifest join. Nothing scans
    unchanged documents' text — the planner's whole point. The
    actions price the delta execution: keep_prev is free, reelect is
    a groupBy over the affected groups' members only, reprobe is the
    map-side decon/fuzzy probe against refreshed reference tables,
    recompute is the full per-doc pipeline."""
    from dungbeetle_spark.operators.pipeline import _evolved_docs

    d = _docs(spark, sf_dir)
    prev = seeded_manifest_table(spark, sf_dir)
    canon = seeded_canon_table(spark, sf_dir)
    ev = _evolved_docs(_dup_seeded(d))
    return _recompute_plan_frame(ev, prev, canon)
