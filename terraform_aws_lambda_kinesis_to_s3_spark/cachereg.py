"""Session inventory of QUERY-LOCAL persisted DataFrames (ADVICE r11
items 2-3).

Two kinds of persist exist in the query paths:

- SESSION-SHARED stages: helpers in ``plans.queries`` decorated with
  ``@shared_stage``, built once per (applicationId, sf, table loader)
  and deliberately reused across sibling queries.  The decorator
  registers each helper's cache in ``SHARED_STAGE_CACHES``; tooling
  snapshots/rolls those back, or drops them all with
  ``clear_shared_stages()``.
- QUERY-LOCAL caches: ``persist()`` calls inside one query builder
  (triangle edge builds, kmeans centroids, the blocked-cumsum census,
  ...) whose useful life ends when that query's result is
  materialized.  These used to be untracked: over a long driver
  session running 50+ queries they accumulate (the graph edge caches
  are ~50 MB each at sf0.1, more at sf1), relying on LRU eviction
  under memory pressure.

``track(df)`` registers a query-local persist; ``release_all()``
unpersists and forgets every tracked cache — bench.py calls it after
each entry's timed repeats (OUTSIDE the timed region: the repeats
re-invoke the builder and re-persist fresh DataFrames anyway, so the
release changes no timing, only the session's cache footprint).

``EAGER_MATERIALIZE`` / ``materialize(df)`` (ADVICE item 3): the
eager persist+count pattern (the r11 fix for concurrent consumer
subtrees racing a lazy cache) runs the FULL build at
DataFrame-construction time, which plan-only consumers
(tools/capture_plans.py explain capture, plan-inspection tests) do not
need.  Explain-only tooling sets ``EAGER_MATERIALIZE = False`` to skip
the count actions; the persist boundaries (and therefore the plan
shape) are unchanged.
"""

from __future__ import annotations

#: query-local persisted DataFrames awaiting release (appended by
#: ``track``; drained by ``release_all``)
TRACKED: list = []

#: False = skip the eager ``count()`` materialization of tracked
#: caches (explain-only tooling); the persists themselves stay so the
#: captured plan is the executed shape.
EAGER_MATERIALIZE: bool = True


def track(df):
    """Register a query-local persisted DataFrame for later release.
    Returns ``df`` so call sites stay one-line:
    ``edges = track(edges.persist())``."""
    TRACKED.append(df)
    return df


def materialize(df) -> None:
    """Run the eager-count materialization unless a plan-only consumer
    turned it off (the count is what stops concurrent consumer
    subtrees from racing a lazy cache — r11 triangle-family lesson)."""
    if EAGER_MATERIALIZE:
        df.count()


def release_all() -> None:
    """Unpersist and forget every tracked query-local cache.  Safe on
    half-built or already-released entries."""
    for df in TRACKED:
        try:
            df.unpersist()
        except Exception:
            pass
    TRACKED.clear()
