"""Plan-only construction mode: the one owner of build-time barriers.

Operators materialize state at DataFrame-CONSTRUCTION time —
checkpoints, driver counts, concurrent reference builds — so a
plan-only consumer (``GET /tasks/<task>/explain``, plan audits) would
run Spark jobs just to print a plan. Even ``localCheckpoint(eager=
False)`` is not construction-free under AQE: creating the checkpoint
RDD materializes every shuffle stage below it.

``plan_only()`` sets a contextvar around ``build_dataframe`` call sites
(the callable-task signature stays ``(sess, args)``). The rule: every
build-time barrier goes through this module, and no operator reads
the mode. On the execution path the helpers issue the same Spark
actions in the same order; under ``plan_only()`` they are job-free:

- :func:`maybe_local_checkpoint` — ``df.localCheckpoint`` / identity;
- :func:`maybe_count` — ``df.count()`` (an action that forces the lazy
  checkpoints below ``df``) / no-op;
- :func:`materialize_concurrently` — thunks on concurrent driver
  threads / inline on the caller's thread.

Four kinds of build-time work still run jobs under ``plan_only()``,
because the plan needs data first or a lazy plan would be unusable:

- warehouse-table readers (``operators.warehouse._result_table``):
  the table is materialized on first use; the un-truncated replays
  took 21–42 s to plan and exhausted the driver heap;
- action-driven loops (``pipeline.connected_components``,
  ``text._bpe_learn``): a Spark action decides the round count, so
  their lineage-truncating checkpoints stay raw;
- driver pulls whose rows become plan literals (ANN query vectors
  and centroids, k-means seeds, semantic-dedup centroids, the exact
  embedding sweep's corpus matrix);
- streaming drains, which run their stream to build the result.

``sources.catalog.fan_out`` also reads the mode: it skips its split
probe, a Spark job under AQE when the input already holds a fan-out.
"""

from __future__ import annotations

import contextvars
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

_PLAN_ONLY = contextvars.ContextVar("dungbeetle_plan_only", default=False)


@contextmanager
def plan_only():
    """Construct frames lazily (no Spark jobs) for plan inspection."""
    tok = _PLAN_ONLY.set(True)
    try:
        yield
    finally:
        _PLAN_ONLY.reset(tok)


def is_plan_only() -> bool:
    return _PLAN_ONLY.get()


def maybe_local_checkpoint(df, eager: bool = True):
    """``df.localCheckpoint(eager=...)`` on the execution path, the
    identity under ``plan_only()`` (any checkpoint — even lazy —
    forces AQE stage materialization at RDD-creation time)."""
    return df if is_plan_only() else df.localCheckpoint(eager=eager)


def maybe_count(df):
    """``df.count()`` on the execution path, ``None`` under
    ``plan_only()``."""
    return None if is_plan_only() else df.count()


def materialize_concurrently(session, *thunks):
    """Run independent materialization thunks on concurrent driver
    threads and return their results in order (guide §2.6 — Spark's
    scheduler happily overlaps independent jobs; FAIR mode is already
    on, so the chains back-fill each other's stragglers). Threads are
    wrapped with ``inheritable_thread_target`` so JVM thread-locals —
    job group (cancellation), description, scheduler pool — propagate
    from the caller, exactly as the job layer requires."""
    # looked up per call: tests stand in a non-pinned pyspark
    from pyspark import inheritable_thread_target

    # contextvars do NOT propagate to pool threads, so a threaded thunk
    # would read plan_only() as False and eagerly materialize — run
    # thunks sequentially on the caller thread instead (their barriers
    # are job-free in this mode, so there is nothing to overlap).
    if is_plan_only():
        return [t() for t in thunks]

    deco = inheritable_thread_target(session)
    # Non-pinned mode (PYSPARK_PIN_THREAD=false) makes
    # inheritable_thread_target return its argument unchanged — the
    # SESSION, not a decorator. Without pinning, JVM thread-locals (job
    # group, scheduler pool) are NOT isolated per Python thread, so
    # concurrent builds could bleed job groups into each other and a
    # cancellation could hit the wrong in-flight build — degrade to
    # SEQUENTIAL execution on the caller thread instead.
    if not callable(deco) or deco is session:
        return [t() for t in thunks]

    if len(thunks) == 1:
        return [thunks[0]()]
    with ThreadPoolExecutor(len(thunks)) as ex:
        return list(ex.map(lambda t: t(), [deco(t) for t in thunks]))
