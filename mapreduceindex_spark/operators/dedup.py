"""Deduplication operators for LLM-corpus pipelines (SURVEY.md EXT1).

Exact (hash-group), n-gram Jaccard, MinHash+LSH banding, and SimHash —
each expressed as Catalyst dataflow shaped for 100 TB:

- **exact_dedup**: md5(text) groupBy — one shuffle on a 128-bit key,
  uniform by construction (no skew).
- **ngram_jaccard_pairs**: exact pairwise Jaccard via the inverted
  shingle index. Shingles are joined as **60-bit hashes, not strings** —
  the shuffle moves 8-byte keys instead of ~30-byte text. Hot shingles
  (df > ``max_shingle_df``) are dropped before the self-join — the
  frequency-cap trick that bounds the O(Σ df²) blowup while only
  ignoring shingles with no discriminative signal.
- **minhash_lsh_pairs**: the sub-quadratic scale path. K affine hashes
  over the shingle hash → per-doc signature → B bands → candidates join
  only within equal (band, band-hash) buckets → verified with exact
  Jaccard **computed only for candidate pairs** via ``array_intersect``
  of per-doc shingle-hash sets (never the full quadratic join).
- **simhash64**: sign-aggregated fingerprint via explode + one hash
  aggregate with per-bit conditional sums (codegen'd; the equivalent
  array-fold form runs interpreted and ~5× slower, measured).

The deterministic md5-based hash (``stable_hash64``) is used instead of
``xxhash64`` so every stage is reproducible in any SQL engine (the
DuckDB oracle recomputes it bit-for-bit); swap in ``F.xxhash64`` for
cheaper hashing when cross-engine auditability is not required.

**Laziness caveat**: the near-dup family is NOT fully lazy. Its
memoized front end (``_pair_front_end``) collects one clone census
(distinct contents, documents) per input, and the exact Jaccard core
collects one Σ df² probe per (input, df cap) to pick its tier, so the
first call on a corpus already costs a few scans; both probes collect
scalars and are memoized beside the front end. ``resolve_components``
(the tail of ``near_dup_clusters``) is the exception that collects
data: it reads at most ``driver_max_edges + 1`` edges, and the edge
list itself decides the tier (and, when it fits, is the driver tier's
input).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from mapreduceindex_spark.functions import caching
from mapreduceindex_spark.functions.text import (
    has_words,
    stable_hash64,
    word_ngrams,
    word_rows,
    words,
)

#: Mersenne prime 2^31 - 1: modulus for the affine MinHash permutations.
#: Chosen so (h mod P)·a + b stays under 2^63 — the whole MinHash pipeline
#: runs in native BIGINT on every engine (a 2^61 modulus needs 128-bit
#: intermediates: decimal(38) in Spark ≈ 5× slower than long math, measured).
MINHASH_PRIME = (1 << 31) - 1

#: Pair-search defaults shared by the public operators and the internal
#: compositions: the hot-shingle df cap and the Σdf² budget of the
#: direct-join tier (basis in ``ngram_jaccard_pairs``).
MAX_SHINGLE_DF = 1000
DIRECT_JOIN_MAX_DF2 = 50_000_000


def _affine_coeffs(k: int) -> list[tuple[int, int]]:
    """First k (a, b) pairs from a fixed linear-congruential stream.

    Pure-Python, deterministic, embedded in both the Spark plan and the
    oracle SQL as literals.
    """
    coeffs = []
    x = 0x9E3779B97F4A7C15
    for _ in range(k):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (x % (MINHASH_PRIME - 1)) + 1
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = x % MINHASH_PRIME
        coeffs.append((a, b))
    return coeffs


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact duplicate groups by content hash.

    Returns one row per distinct content: ``(text_hash, n_copies,
    keep_doc_id)`` with the lowest doc_id as the canonical survivor.
    """
    return (
        documents.select(F.md5("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .orderBy("text_hash")
    )


def doc_shingles(
    documents: DataFrame, n: int = 3, distinct: bool = True
) -> DataFrame:
    """Distinct (doc_id, shingle) string pairs (``distinct=False`` skips
    the final dedup for callers that deduplicate after further
    projection — e.g. the hash front end, which dedups 16-byte
    (doc_id, hash) rows instead of shuffling full shingle strings).

    Row-wise formulation: the strict n-grams of ``functions.text``'s
    ``word_rows``/``word_ngrams``, with each doc's word count raised to
    ``n`` first. Matches sliding slices of the word array
    (``functions.text.shingles``) for every document with ≥ 1 word —
    including the short-doc case: ``concat_ws`` skips the NULL leads, so
    a doc with ≤ n words yields the single all-words shingle at
    ``pos = 0``. Documents with ZERO normalized words
    yield no shingles (they cannot meaningfully near-dup; byte-identical
    empties are ``exact_dedup``'s job) — the array form would give them
    one empty-string shingle instead. The array form also runs
    interpreted (slice-inside-transform is O(words²) per doc and outside
    codegen — ~10× slower, measured); this plan is linear, whole-stage
    codegen'd, and its one exchange (window by doc_id) replaces
    no-shuffle-but-quadratic-CPU with cheap-shuffle.
    """
    rows = word_rows(documents).withColumn("nw", F.greatest("nw", F.lit(n)))
    out = word_ngrams(rows, n).select("doc_id", F.col("ng").alias("shingle"))
    return out.dropDuplicates(["doc_id", "shingle"]) if distinct else out


def _shingle_hashes(documents: DataFrame, n: int = 3) -> DataFrame:
    """Distinct (doc_id, sh) pairs with the 60-bit portable shingle hash —
    the shared, shuffle-cheap front end of the Jaccard/MinHash paths.

    Hashing happens BEFORE the distinct: the dedup exchange then carries
    16-byte (long, long) rows instead of doc_id + full shingle strings
    (~3× less shuffle volume), and the post-window dedup needs no extra
    exchange at all — hash(doc_id) partitioning from the shingle window
    already clusters (doc_id, sh). Distinctness is preserved exactly:
    equal shingles hash equal, and 60-bit collisions *within one doc* are
    the same event the downstream set-similarity math already tolerates.
    """
    return doc_shingles(documents, n, distinct=False).select(
        "doc_id", stable_hash64("shingle").alias("sh")
    ).dropDuplicates(["doc_id", "sh"])


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int = MAX_SHINGLE_DF,
    direct_join_max_df2: int = DIRECT_JOIN_MAX_DF2,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard similarity ≥ threshold. Output:
    (doc_a, doc_b, jaccard), a < b.

    Set-similarity join with **prefix filtering** (AllPairs/PPJoin): under
    a consistent global shingle order, two sets with J ≥ t must share an
    element within each set's first ``|d| − ceil(t·|d|) + 1`` shingles
    (proof: the globally-smallest common element has at most |∩|−1
    common elements after it, and |∩| ≥ t·|d|). So only prefixes
    self-join — with rarest-first ordering (df asc) the candidate count
    collapses, and the full Σ df² inverted-index join never materializes.
    Candidates are then verified exactly with ``array_intersect`` on the
    per-doc hash sets. Lossless for any threshold > 0 by the theorem; the
    result is identical to the brute-force join the oracle runs.

    Execution is two-tier (measured crossover, like ``near_dup_clusters``):
    while the exact self-join row count Σ df² stays under a budget, the
    direct inverted-index join wins — prefix filtering's extra window +
    df-join overhead only pays for itself once the quadratic pressure is
    real. Both tiers share the candidate→verify structure and semantics.

    ``direct_join_max_df2`` basis (measured r10, re-tested r11): at
    sf0.1 the capped pressure is Σ df² ≈ 2.8 M and the direct tier wins
    IN QUERY CONTEXT (a bare isolated A/B of the two tiers shows prefix
    competitive once its plan shape is JIT-warm, but inside the real
    compositions — threshold curve, band sweep, recall — forcing the
    prefix tier measured 1.4–1.5× slower end-to-end, so the r10
    crossover stands). The 50 M ceiling is a memory bound, not a timing
    crossover: self-join output rows are 16-byte (long, long) pairs, so
    50 M rows ≈ 800 MB before partitioning, and AQE splits skew. Past
    it, candidate volume is what makes prefix filtering's window
    overhead pay — and the r11 row-level PPJoin filters inside the
    prefix join cut its aggregate input further at low thresholds.
    Memory-constrained callers can lower the budget; both tiers return
    identical results (pinned by the forced-tier tests).

    Also retained from the simpler formulation: the frequency cap (a
    shingle in > ``max_shingle_df`` docs is discrimination-free Σdf²
    fuel) and the persisted hash front end (multiple plan branches, no
    cross-branch reuse in Spark).

    **Exact-dup pre-collapse** (measured 50× at 10× clone factor): byte-
    identical documents are collapsed to one representative before any
    shingling — duplicated corpora otherwise inflate every shingle df by
    the clone factor and the pair computation quadratically. Same-content
    pairs are re-expanded as jaccard 1.0 and cross-group pairs fan out
    over group members, so the output is identical to the brute-force
    all-docs join (the shingle-df cap then counts *unique* contents,
    which is also the principled reading of "df").
    """
    caching.release("ngram_jaccard_pairs")
    front = _pair_front_end(documents, n)
    core = _jaccard_rep_pairs(
        front, threshold, max_shingle_df, direct_join_max_df2,
        track_key="ngram_jaccard_pairs",
    )
    return _clone_collapsed_pairs(front, core, threshold)


def _md5_clone_groups(documents: DataFrame) -> DataFrame:
    """One row per DISTINCT text content: md5 key, ``rep`` = the
    canonical (min) doc_id, ``members`` = every doc_id carrying that
    content, and ``shingled`` = whether the content has ≥ 1 normalized
    word — the clone-collapse frame `_clone_collapsed_pairs` and its
    composing callers share. Unpersisted: the caller owns caching.

    ``shingled`` is the "has ≥ 1 shingle" test (the short-doc rule
    emits the all-words shingle, so ≥ 1 word ⟺ ≥ 1 shingle): zero-word
    contents never pair in the brute-force join, so clone expansion and
    star edges must skip them. Clones share their text, so any member
    answers for the group, and the partial aggregate evaluates the test
    before the exchange — as ``has_words``' regex find, since it runs
    on every document (tokenizing each one measured 1.0–1.8 s more per
    build on a 10×-clone sf0.1 corpus at 4 vCPU, the find ~0.05 s)."""
    return (
        documents.select(
            "doc_id",
            F.md5("text").alias("_h"),
            has_words(F.col("text")).alias("_w"),
        )
        .groupBy("_h")
        .agg(
            F.min("doc_id").alias("rep"),
            F.collect_set("doc_id").alias("members"),
            F.max("_w").alias("shingled"),
        )
    )


def _doc_rep_map(front: _FrontEnd) -> DataFrame:
    """The slim (doc_id → rep) map of the front end's clone groups:
    clones carry their rep's shingle set, signature and band keys, so
    per-document lookups route through it to rep-level frames."""
    return front.groups.select(
        F.explode("members").alias("doc_id"), F.col("rep")
    )


def _band_keys(num_hashes: int, bands: int) -> list:
    """The MinHash-LSH band keys over signature columns ``mh_i``: band
    ``bi`` of ``bands`` is md5(bi ∥ its ``num_hashes // bands`` row
    values). The one definition of the bucket format — the batch core,
    ``incremental_dedup``, ``lsh_band_sweep`` and the streaming
    detector all bucket by these keys."""
    rows = num_hashes // bands
    return [
        F.md5(
            F.concat_ws(
                "_",
                F.lit(bi),
                *[
                    F.col(f"mh_{bi * rows + r}").cast("string")
                    for r in range(rows)
                ],
            )
        )
        for bi in range(bands)
    ]


def _verified_pairs(
    cand: DataFrame, sets: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs: ``cand`` carries
    ``(doc_a, doc_b)``, ``sets`` one ``(doc_id, hs)`` shingle-hash set
    per document; output ``(doc_a, doc_b, jaccard)`` with jaccard =
    round(|∩| / (|A| + |B| − |∩|), 6) ≥ ``threshold``."""
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("ha"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hb"))
    inter = F.size(F.array_intersect("ha", "hb"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                inter.cast("double")
                / (F.size("ha") + F.size("hb") - inter),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


#: single-slot cache of the front-end clone census keyed by the memo
#: fingerprint — a pure function of the input plan, so it stays valid
#: even when an external clearCache forces the FRAMES to rebuild.
_FRONT_STATS: dict[str, tuple[int, int]] = caching.scalar_memo({})

#: single-slot cache of the Σdf² tier probe keyed
#: ``fingerprint|max_shingle_df`` — the same pure-function-of-the-input
#: argument as ``_FRONT_STATS``.
_FRONT_PRESSURE: dict[str, int] = caching.scalar_memo({})


class _FrontEnd(NamedTuple):
    """The pair family's memoized front end (see :func:`_pair_front_end`):
    the clone-collapse ``groups`` (``rep``, ``members``, ``shingled``),
    the rep-level shingle frame ``sh``,
    its shingle-df frame ``sdf``, the clone census ``stats`` =
    (n_groups, n_docs) and the memo ``fingerprint`` that keys the
    family's driver-side scalars and signature memo."""

    groups: DataFrame
    sh: DataFrame
    sdf: DataFrame
    stats: tuple[int, int]
    fingerprint: str


def _pair_front_end(documents: DataFrame, n: int = 3) -> _FrontEnd:
    """The pair family's shared, memoized front end — the only input of
    the pair cores (:func:`_jaccard_rep_pairs`,
    :func:`_minhash_lsh_rep_pairs`) and of the clone expansion
    (:func:`_clone_collapsed_pairs`). ``groups`` is the md5
    clone-collapse frame (:func:`_md5_clone_groups`: ``rep``,
    ``members`` and the ``shingled`` word test, so no caller re-reads
    the documents to ask which contents can pair), ``sh`` the
    hashed-shingle frame over one REPRESENTATIVE per distinct content
    and ``sdf`` its per-shingle df.

    Every composition in the near-dup family (pair search, clustering,
    canonical selection, recall/banding/threshold calibration, leakage
    split) starts with exactly these frames; before r10 each public
    operator built and tracked its own copy, so a composition like
    ``canonical_docs`` → ``curation_funnel`` paid the clone-group scan
    + shingle window once per embedded operator (r09 VERDICT: the
    composition cold-start regression). Routed through
    ``caching.memo`` keyed on the input plan's ``semanticHash`` + n —
    the ``lsh_recall`` discipline — one sweep over an unchanged corpus
    computes the front end once, bounded to ONE live cache set
    (a changed input fingerprint releases and rebuilds). The clone
    census (two scalars) is memoized beside the frames: it is a pure
    function of the fingerprint, so it survives even an external
    ``clearCache`` that forces the frames themselves to rebuild.

    ``sh`` covers representatives only; on a duplicate-free corpus the
    rep semi-join is the identity, so it covers every document.
    """
    fingerprint = f"{caching.plan_fingerprint(documents)}|{n}"

    def _build():
        from mapreduceindex_spark.functions.spread import spread_rows

        # single-file fixture scans plan ONE partition; spread once so
        # the md5 clone scan and the shingle window run at session
        # parallelism (no-op at scale — see functions/spread.py)
        docs_w = spread_rows(documents, "doc_id")
        groups_ = _md5_clone_groups(docs_w).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        reps = docs_w.join(
            groups_.select(F.col("rep").alias("doc_id")),
            "doc_id",
            "left_semi",
        )
        sh_ = _shingle_hashes(reps, n).persist(StorageLevel.MEMORY_AND_DISK)
        # the shingle-df frame is the third family-shared member: every
        # exact-tier pair search starts from it (cap filter + Σdf² tier
        # probe), so rebuilding it per query re-paid one shuffle + one
        # probe job each time
        sdf_ = (
            sh_.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("sdf"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        return [groups_, sh_, sdf_]

    groups, sh, sdf = caching.memo("dedup_front", fingerprint, _build)
    stats = _FRONT_STATS.get(fingerprint)
    if stats is None:
        row = groups.agg(
            F.count(F.lit(1)).alias("_g"),
            F.sum(F.size("members")).alias("_d"),
        ).collect()[0]
        stats = (row["_g"], row["_d"] or 0)
        _FRONT_STATS.clear()  # single slot, same bound as the memo
        _FRONT_STATS[fingerprint] = stats
    return _FrontEnd(groups, sh, sdf, stats, fingerprint)


def _clone_collapsed_pairs(
    front: _FrontEnd,
    core: DataFrame,
    threshold: float,
) -> DataFrame:
    """Exact-dup pre-collapse shared by the pairwise similarity operators.

    ``core`` is a pair core's ``(doc_a, doc_b, jaccard)`` frame over the
    front end's representatives (one per distinct content); byte-
    identical groups re-expand as jaccard-1.0 intra pairs and fan out
    over cross-group pairs. Output is identical to running the core on
    the full corpus for any core whose verdict depends only on the
    shingle set: clone members carry identical sets, hence identical
    jaccard, signatures, and LSH bands (so for the banded core, a member
    pairs iff its rep pairs). Intra pairs come only from ``shingled``
    groups: zero-word contents have no shingles, so the brute-force join
    emits no pairs for them. On a duplicate-free corpus (by the front
    end's clone census) the expansion is the identity and ``core`` is
    returned as is, ordered.
    """
    n_groups, n_docs = front.stats
    if n_groups == n_docs:
        return core.orderBy("doc_a", "doc_b")
    groups = front.groups
    intra = (
        groups.filter(F.col("shingled") & (F.size("members") > 1))
        .select(F.explode("members").alias("doc_a"), "members")
        .select("doc_a", F.explode("members").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.lit(1.0).alias("jaccard"))
    )
    ga = groups.select(F.col("rep").alias("doc_a"), F.col("members").alias("_ma"))
    gb = groups.select(F.col("rep").alias("doc_b"), F.col("members").alias("_mb"))
    cross = (
        core.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            F.explode("_ma").alias("_a"), F.col("_mb").alias("_mb"), "jaccard"
        )
        .select(F.col("_a"), F.explode("_mb").alias("_b"), "jaccard")
        .select(
            F.least("_a", "_b").alias("doc_a"),
            F.greatest("_a", "_b").alias("doc_b"),
            "jaccard",
        )
    )
    out = cross.union(intra) if threshold <= 1.0 else cross
    return out.orderBy("doc_a", "doc_b")


def _jaccard_rep_pairs(
    front: _FrontEnd,
    threshold: float,
    max_shingle_df: int,
    direct_join_max_df2: int,
    track_key: str,
) -> DataFrame:
    """Pairwise jaccard over the front end's representatives — the
    two-tier core described in ``ngram_jaccard_pairs``, read off the
    memoized ``sh`` and ``sdf`` frames (:func:`_pair_front_end`). The
    prefix tier persists one frame of its own (``ranked``), tracked
    under the PUBLIC operator's ``track_key`` so a repeat invocation
    releases its predecessor's blocks instead of leaking them for the
    session's lifetime (the tracked-caching discipline)."""
    sh, sdf = front.sh, front.sdf
    capped = sh.join(sdf.filter(F.col("sdf") <= max_shingle_df), "sh")
    # Adaptive tier switch, same shape as near_dup_clusters: Σ df² is the
    # exact row count of the direct self-join. While it is modest, the
    # direct join wins (no extra window/shuffle); past the budget, prefix
    # filtering's candidate collapse is what keeps the query feasible.
    # The probe is a pure function of (front end, cap), so it is paid
    # once per front end instead of once per query (_FRONT_PRESSURE).
    pkey = f"{front.fingerprint}|{max_shingle_df}"
    pressure = _FRONT_PRESSURE.get(pkey)
    if pressure is None:
        pressure = int(
            sdf.filter(F.col("sdf") <= max_shingle_df)
            .agg(F.sum(F.col("sdf") * F.col("sdf")))
            .collect()[0][0]
            or 0
        )
        _FRONT_PRESSURE.clear()  # single slot, same bound as the memo
        _FRONT_PRESSURE[pkey] = pressure
    if pressure <= direct_join_max_df2:
        # direct tier: count-based intersection — the groupBy-count of the
        # self-join rows beats collect_set + array_intersect while the
        # join output is modest (measured ~1.5× at sf0.1). Doc sizes ride
        # along on both join sides so the length filter
        # (min(|A|,|B|) ≥ t·max — necessary for J ≥ t) drops incompatible
        # pairs BEFORE the pair aggregate sees them.
        pairs = capped.select("doc_id", "sh")
        sizes = pairs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
        a = pairs.join(F.broadcast(sizes), "doc_id").select(
            F.col("doc_id").alias("doc_a"), "sh", F.col("n_sh").alias("n_a")
        )
        b = pairs.join(F.broadcast(sizes), "doc_id").select(
            F.col("doc_id").alias("doc_b"), "sh", F.col("n_sh").alias("n_b")
        )
        inter = (
            a.join(b, "sh")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .filter(
                F.least("n_a", "n_b")
                >= F.lit(threshold) * F.greatest("n_a", "n_b") - F.lit(1e-9)
            )
            .groupBy("doc_a", "doc_b")
            .agg(
                F.count(F.lit(1)).alias("n_common"),
                F.min("n_a").alias("n_a"),
                F.min("n_b").alias("n_b"),
            )
        )
        return inter.select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        ).filter(F.col("jaccard") >= threshold)
    from pyspark.sql.window import Window

    by_doc = Window.partitionBy("doc_id")
    ranked = caching.track(
        capped.select(
            "doc_id",
            "sh",
            F.row_number().over(by_doc.orderBy("sdf", "sh")).alias("rk"),
            F.count(F.lit(1)).over(by_doc).alias("n_sh"),
        ).persist(StorageLevel.MEMORY_AND_DISK),
        track_key,
    )
    # ceil guarded against float error pushing the prefix too short
    # (shorter prefix = lost pairs; a hair longer only costs candidates)
    prefix_len = (
        F.col("n_sh")
        - F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(1e-9))
        + 1
    )
    prefix = ranked.filter(F.col("rk") <= prefix_len).select(
        "doc_id", "sh", "rk", "n_sh"
    )
    # Candidate aggregation carries the PPJoin filters' inputs: since both
    # prefixes rank tokens by the SAME global (df, hash) order, the
    # globally-first common token attains min(rk) on BOTH sides at once,
    # so per-pair min(rk_a), min(rk_b) are that token's positions.
    #
    # r11 (guide §2.3 — filter before the pair aggregate sees the rows):
    # the length filter and the positional upper bound are ALSO applied
    # per JOINED ROW, before the groupBy. Both are lossless there: the
    # length test depends only on (n_a, n_b) — identical for every row
    # of a pair — and for a pair with J ≥ t its globally-FIRST common
    # token row satisfies the positional bound (that row's bound is the
    # standard PPJoin one: overlap ≤ 1 + min(n−rk) ≥ ceil(t/(1+t)·(n_a+
    # n_b))), so no qualifying pair can lose all its rows; rows dropped
    # early only shrink the aggregate's input (at low thresholds — the
    # near_dup_threshold_curve 0.3 search — the prefixes are ~70% of
    # each doc and the raw join output is the dominant cost).
    row_alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("x.n_sh") + F.col("y.n_sh"))
        - F.lit(1e-9)
    )
    row_ubound = F.lit(1) + F.least(
        F.col("x.n_sh") - F.col("x.rk"), F.col("y.n_sh") - F.col("y.rk")
    )
    raw = (
        prefix.alias("x")
        .join(prefix.alias("y"), "sh")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .filter(
            F.least(F.col("x.n_sh"), F.col("y.n_sh"))
            >= F.lit(threshold)
            * F.greatest(F.col("x.n_sh"), F.col("y.n_sh"))
            - F.lit(1e-9)
        )
        .filter(row_ubound >= row_alpha)
        .groupBy(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .agg(
            F.min("x.rk").alias("_ra"),
            F.min("y.rk").alias("_rb"),
            F.min("x.n_sh").alias("_na"),
            F.min("y.n_sh").alias("_nb"),
        )
    )
    # Length filter: J ≥ t ⟹ |∩| ≥ t·|∪| with |∩| ≤ min, |∪| ≥ max
    # ⟹ min(|A|,|B|) ≥ t·max(|A|,|B|).
    # Positional filter (PPJoin): every common token sits at-or-after the
    # first match (_ra, _rb), so overlap ≤ 1 + min(n_a − _ra, n_b − _rb);
    # J ≥ t needs overlap ≥ ceil(t·(n_a+n_b)/(1+t)). The 1e-9 slack only
    # ever ADMITS borderline candidates (float error can't drop a true
    # pair); exact verification below settles them.
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("_na") + F.col("_nb"))
        - F.lit(1e-9)
    )
    ubound = F.lit(1) + F.least(
        F.col("_na") - F.col("_ra"), F.col("_nb") - F.col("_rb")
    )
    cand = (
        raw.filter(
            F.least("_na", "_nb")
            >= F.lit(threshold) * F.greatest("_na", "_nb") - F.lit(1e-9)
        )
        .filter(ubound >= alpha)
        .select("doc_a", "doc_b")
    )
    return _verified_pairs(
        cand,
        ranked.groupBy("doc_id").agg(F.collect_set("sh").alias("hs")),
        threshold,
    )


def _signatures_from_hashes(sh: DataFrame, num_hashes: int) -> DataFrame:
    """MinHash signature columns from (doc_id, sh) hashed-shingle pairs.

    h_i(doc) = min over shingles of ((a_i · (H mod P) + b_i) mod P). With
    P = 2^31−1 every intermediate fits int64, so the ``num_hashes``
    expressions are plain codegen'd long arithmetic over one aggregation.
    """
    reduced = sh.select("doc_id", (F.col("sh") % MINHASH_PRIME).alias("h"))
    aggs = [
        F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(
            f"mh_{i}"
        )
        for i, (a, b) in enumerate(_affine_coeffs(num_hashes))
    ]
    return reduced.groupBy("doc_id").agg(*aggs)


def _front_signatures(front: _FrontEnd, num_hashes: int) -> DataFrame:
    """Memoized rep-level signature frame over the family front end's
    shingle frame — the fourth shared member the r09 VERDICT named
    (clone groups → shingles → signatures): the LSH pair core, the
    accuracy scorer, and the band sweep each rebuilt the same
    one-shuffle 16-min aggregate per query. Keyed on the front-end
    fingerprint + num_hashes; one live cache set."""

    def _build() -> list:
        return [
            _signatures_from_hashes(front.sh, num_hashes).persist(
                StorageLevel.MEMORY_AND_DISK
            )
        ]

    return caching.memo(
        "dedup_sigs", f"{front.fingerprint}|{num_hashes}", _build
    )[0]


def minhash_signatures(
    documents: DataFrame, n: int = 3, num_hashes: int = 16
) -> DataFrame:
    """Per-document MinHash signature as ``num_hashes`` columns ``mh_i``,
    with H the portable 60-bit md5 shingle hash. One aggregation, no joins.
    """
    return _signatures_from_hashes(
        _shingle_hashes(documents, n), num_hashes
    ).orderBy("doc_id")


def minhash_lsh_pairs(
    documents: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verification.

    Signature split into ``bands`` bands; docs sharing any band value
    become candidates (joined within band buckets only — the
    sub-quadratic step). Candidates are verified with exact Jaccard via
    ``array_intersect`` of the two docs' **uncapped** shingle-hash sets,
    so the quadratic all-pairs join never happens — per-candidate cost is
    O(|shingles|). Output equals exact uncapped Jaccard restricted to
    recalled pairs (``ngram_jaccard_pairs`` additionally applies its
    ``max_shingle_df`` cap, so on corpora with >cap-df shingles the two
    can differ on those shingles' contribution).

    Shares the exact-dup pre-collapse with ``ngram_jaccard_pairs``:
    byte-identical clones have identical signatures, so they both blow up
    the band buckets quadratically AND are provably recalled — collapsing
    them first changes nothing in the output while removing the clone-
    group hot buckets (measured 4× at a 10×-clone corpus).
    """
    front = _pair_front_end(documents, n)
    core = _minhash_lsh_rep_pairs(front, num_hashes, bands, threshold)
    return _clone_collapsed_pairs(front, core, threshold)


def _minhash_lsh_rep_pairs(
    front: _FrontEnd,
    num_hashes: int,
    bands: int,
    threshold: float,
) -> DataFrame:
    """Banded-LSH candidate join + exact verification over the front
    end's representatives — the core described in ``minhash_lsh_pairs``.
    The memoized shingle frame ``sh`` feeds both the signatures (the
    memoized :func:`_front_signatures`) and the verification sets; the
    core persists nothing of its own."""
    sig = _front_signatures(front, num_hashes)
    stacked = sig.select(
        "doc_id",
        F.explode(F.array(*_band_keys(num_hashes, bands))).alias("bucket"),
    )
    cand = (
        stacked.alias("x")
        .join(stacked.alias("y"), "bucket")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return _verified_pairs(
        cand,
        front.sh.groupBy("doc_id").agg(F.collect_set("sh").alias("hs")),
        threshold,
    )


def near_dup_clusters(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_iter: int = 20,
    driver_max_edges: int = 5_000_000,
    candidates: str = "auto",
    lsh_min_docs: int = 100_000,
) -> DataFrame:
    """Resolve near-duplicate pairs into clusters: (doc_id, cluster_rep).

    The step that turns pairwise similarity into a dedup *decision*: every
    document maps to the minimum doc_id reachable through the jaccard ≥
    threshold graph (its connected component's representative); keeping
    rows where ``doc_id = cluster_rep`` yields the deduplicated corpus.

    ``candidates`` selects the pair source feeding the clustering:

    - ``"exact"``: ``ngram_jaccard_pairs`` — every qualifying edge, the
      oracle tier.
    - ``"lsh"``: ``minhash_lsh_pairs`` — banded-LSH candidates verified
      with exact Jaccard. Sub-quadratic: the 100 TB default, where the
      exact pairwise join (even prefix-filtered) is the bottleneck and a
      banding miss only splits a cluster, never invents one.
    - ``"auto"`` (default): ``exact`` below ``lsh_min_docs`` documents
      (small corpora get the recall-1.0 graph for free), ``lsh`` above.

    Two execution tiers on the same semantics:

    - **small graph** (≤ ``driver_max_edges`` pairs — the common case:
      the duplicate-pair graph is a sliver of the corpus even at 100 TB):
      collect the edge list, union-find on the driver, broadcast the
      (doc_id → min-id-of-component) map back. One job + one broadcast
      join beats N iterative shuffle rounds by an order of magnitude.
    - **large graph**: distributed min-label propagation — each round
      joins current labels across edges and keeps the minimum; converges
      in ≤ graph-diameter rounds with one scalar count per round on the
      driver. At extreme diameters the loop upgrades to large-star/
      small-star contraction (same loop shape, different join pattern).
    """
    # Clustering needs CONNECTIVITY, not every edge: byte-identical clone
    # groups (jaccard 1.0 ≥ any threshold) can feed the union-find linear
    # STAR edges (member—rep) instead of the quadratic all-pairs expansion
    # the pairwise operators must emit. Same components, |members| − 1
    # edges per group instead of |members|·(|members|−1)/2 — at a 10×
    # clone factor that is 9 edges vs 45 per group, and the pair source
    # itself runs on the collapsed (unique-content) corpus.
    caching.release("near_dup_clusters")
    front = _pair_front_end(documents, n)
    n_groups, n_docs = front.stats
    if candidates == "auto":
        # the clone census already carries the corpus size (Σ|members|) —
        # no separate count() scan for the tier probe
        candidates = "lsh" if n_docs > lsh_min_docs else "exact"
    if candidates not in ("exact", "lsh"):
        raise ValueError(f"near_dup_clusters: unknown candidates {candidates!r}")
    if n_groups == n_docs or threshold > 1.0:
        star = None
    else:
        # zero-word groups (e.g. byte-identical empty docs) never pair
        # in the brute-force join, so they must not star-connect either
        star = (
            front.groups.filter(F.col("shingled") & (F.size("members") > 1))
            .select("rep", F.explode("members").alias("doc_a"))
            .filter(F.col("doc_a") != F.col("rep"))
            .select("doc_a", F.col("rep").alias("doc_b"))
        )
    if candidates == "exact":
        pair_df = _jaccard_rep_pairs(
            front, threshold, MAX_SHINGLE_DF, DIRECT_JOIN_MAX_DF2,
            track_key="near_dup_clusters",
        )
    else:
        # the banded core runs on the front end's representatives
        # directly: the star edges already connect every clone to its
        # rep, so no pair expansion is needed
        pair_df = _minhash_lsh_rep_pairs(front, 16, 4, threshold)
    pair_df = pair_df.select("doc_a", "doc_b")
    if star is not None:
        pair_df = pair_df.union(star)
    return resolve_components(
        pair_df, documents, driver_max_edges=driver_max_edges,
        max_iter=max_iter,
    )


def resolve_components(
    pair_df: DataFrame,
    documents: DataFrame,
    driver_max_edges: int = 5_000_000,
    max_iter: int = 20,
) -> DataFrame:
    """Resolve an edge list into connected components: every ``doc_id`` in
    ``documents`` maps to the minimum id reachable through ``pair_df``
    (columns ``doc_a``, ``doc_b``); singletons map to themselves.

    The shared cluster-resolution tail of every near-dup pipeline (text
    jaccard/LSH via ``near_dup_clusters``, image dHash via
    ``media_dup_clusters``) — two tiers as documented there: bounded
    driver union-find below ``driver_max_edges`` edges, distributed
    min-label propagation (converge-or-raise) above.
    """
    caching.release("resolve_components")
    # persisted so the distributed tier does not recompute the pairs the
    # bounded collect below already evaluated
    pairs = pair_df.select("doc_a", "doc_b").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # one bounded read decides the tier AND is the driver tier's input:
    # at most driver_max_edges rows means the whole edge list is here
    edge_list = pairs.limit(driver_max_edges + 1).collect()
    if len(edge_list) <= driver_max_edges:
        # the driver tier's result depends only on the collected edge
        # list from here on — release the cached pair blocks so repeated
        # cluster resolutions in one session don't accumulate them
        pairs.unpersist()
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for a, b in edge_list:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        rep: dict[int, int] = {}
        for x in parent:
            r = find(x)
            rep[r] = min(rep.get(r, x), x)
        mapping = [(x, rep[find(x)]) for x in parent]
        spark = documents.sparkSession
        if mapping:
            lut = spark.createDataFrame(mapping, ["doc_id", "rep"])
            return (
                documents.select("doc_id")
                .join(F.broadcast(lut), "doc_id", "left")
                .select(
                    "doc_id",
                    F.coalesce("rep", F.col("doc_id")).alias("cluster_rep"),
                )
                .orderBy("doc_id")
            )
        return documents.select(
            "doc_id", F.col("doc_id").alias("cluster_rep")
        ).orderBy("doc_id")
    # Iterate only over the connected subgraph: docs appearing in ≥1 pair.
    # Even at 100 TB the duplicate-pair graph is a small fraction of the
    # corpus, so every propagation round touches |pairs|-scale data, never
    # corpus-scale; singletons join back once at the end as their own rep.
    both_ways = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    nodes = both_ways.select(F.col("doc_a").alias("doc_id")).distinct()
    # one self-loop per node: the round's single aggregate then sees the
    # node's own label next to its neighbours' (min over both is the new
    # label, the self-loop row alone is the old one), so each round
    # reads the previous labels exactly once — every reference nests the
    # previous round's whole cached plan, so a second one would multiply
    # the plan text every round
    edges = both_ways.union(
        nodes.select(F.col("doc_id").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    labels = nodes.select("doc_id", F.col("doc_id").alias("label")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    for _ in range(max_iter):
        new_labels = (
            edges.join(labels, edges.doc_a == labels.doc_id)
            .groupBy(F.col("doc_b").alias("doc_id"))
            .agg(
                F.min("label").alias("label"),
                F.min(
                    F.when(F.col("doc_a") == F.col("doc_b"), F.col("label"))
                ).alias("_old"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        changed = new_labels.filter(F.col("label") < F.col("_old")).count()
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"resolve_components: label propagation did not converge in "
            f"{max_iter} rounds (component diameter exceeds the budget); "
            f"raise max_iter or switch to large-star/small-star contraction"
        )
    # converged: the final labels frame is persisted and materialized (the
    # convergence count read every row), so the iteration inputs can be
    # released — only `labels` backs the returned plan (tracked, so the
    # next resolution or an explicit release frees it instead of leaking
    # it for the session's lifetime). A cache-evicted labels partition
    # would recompute through the unpersisted lineage: slower, still
    # correct.
    caching.track(labels, "resolve_components")
    edges.unpersist()
    pairs.unpersist()
    return (
        documents.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("label", F.col("doc_id")).alias("cluster_rep"),
        )
        .orderBy("doc_id")
    )


def simhash64(documents: DataFrame, n_bits: int = 24) -> DataFrame:
    """SimHash fingerprint: per-bit majority vote over distinct word hashes.

    Explode → hash → one aggregate with ``n_bits`` conditional sums
    (whole-stage codegen'd); bit j of the fingerprint = (Σ ±1 votes > 0).
    Total over the corpus: documents with no normalized words fingerprint
    as 0 (left-join zero-fill), so corpus bookkeeping joins never lose
    rows.
    """
    from mapreduceindex_spark.functions.spread import spread_rows
    from mapreduceindex_spark.functions.text import token_rows

    word_hashes = (
        token_rows(spread_rows(documents, "doc_id"))
        .filter(F.length("word") > 0)
        .dropDuplicates(["doc_id", "word"])
        .select("doc_id", stable_hash64("word").alias("h"))
    )
    votes = [
        F.sum(
            F.when(
                F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"_v{j}")
        for j in range(n_bits)
    ]
    agg = word_hashes.groupBy("doc_id").agg(*votes)
    fingerprint = None
    for j in range(n_bits):
        term = F.when(
            F.col(f"_v{j}") > 0, F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        fingerprint = term if fingerprint is None else fingerprint + term
    hashed = agg.select("doc_id", fingerprint.alias("simhash"))
    return (
        documents.select("doc_id")
        .join(hashed, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash"),
        )
        .orderBy("doc_id")
    )


def canonical_docs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    candidates: str = "auto",
) -> DataFrame:
    """Quality-aware dedup decision: one surviving doc per near-dup
    cluster — the highest-quality member, not the lowest id.

    ``near_dup_clusters`` alone keeps the min-id doc, which at corpus
    scale throws away better copies (a clean original may carry a higher
    id than its boilerplate-wrapped clone). This composes the cluster
    resolution with ``text_analysis.quality_score`` and keeps the argmax
    (quality DESC, doc_id ASC tie-break — both sides of the comparison
    are oracle-exact 4-dp values, so the argmax is engine-deterministic).

    Plan shape: clusters (see ``near_dup_clusters``) join quality on
    doc_id — one co-partitioned shuffle — then a single max_by-style
    aggregate per cluster. Output: (cluster_rep, keep_doc_id,
    n_members, best_quality), one row per cluster.
    """
    from mapreduceindex_spark.operators.text_analysis import quality_score

    clusters = near_dup_clusters(
        documents, n=n, threshold=threshold, candidates=candidates
    )
    quality = quality_score(documents).select("doc_id", "quality")
    ranked = clusters.join(quality, "doc_id").select(
        "cluster_rep",
        "doc_id",
        "quality",
        # single struct-max aggregate: (quality DESC, doc_id ASC) argmax
        # without a window — one shuffle on cluster_rep, map-side partial
        F.struct(
            F.col("quality").alias("q"),
            (-F.col("doc_id")).alias("neg_id"),
        ).alias("_key"),
    )
    return (
        ranked.groupBy("cluster_rep")
        .agg(
            F.max("_key").alias("_best"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            "cluster_rep",
            (-F.col("_best.neg_id")).cast("long").alias("keep_doc_id"),
            "n_members",
            F.col("_best.q").alias("best_quality"),
        )
        .orderBy("cluster_rep")
    )


def simhash_near_dups(
    documents: DataFrame,
    max_hamming: int = 1,
    n_bits: int = 48,
    n_bands: int = 2,
) -> DataFrame:
    """Text near-duplicate pairs by SimHash Hamming distance: (doc_a,
    doc_b, hamming) with distance ≤ ``max_hamming``, a < b.

    The pair-search layer on top of ``simhash64``, completing the third
    text near-dup family (exact jaccard, MinHash-LSH, SimHash): the
    ``n_bits`` fingerprint splits into ``n_bands`` equal bands, and two
    fingerprints with d < n_bands agree exactly on ≥ 1 band (pigeonhole)
    — so for ``max_hamming`` ≤ n_bands − 1 the band-bucket self-join is
    a lossless candidate cover, verified with ``bit_count(xor)``. No
    all-pairs join anywhere; replication is exactly ``n_bands``×.

    Scale note: simhash band values are NOT uniform (majority-vote bits
    are correlated across documents), so band buckets skew — at 100 TB
    the band join is the skew-join case AQE's skew splitting handles, or
    widen bands (fewer docs per bucket) at the cost of a lower provable
    distance bound. The defaults take the wide end deliberately: two
    24-bit bands keep buckets tiny on a homogeneous corpus (the fixture
    has a near-flat pairwise-distance continuum — measured 24-bit/4-band
    at d ≤ 3 admits ~30% of ALL pairs as candidates, while 48-bit/2-band
    at d ≤ 1 stays output-proportional: 192k pairs / 3.4 s at sf0.1).
    """
    if max_hamming >= n_bands:
        raise ValueError(
            "banding is lossless only for max_hamming < n_bands"
        )
    band_bits = n_bits // n_bands
    mask = (1 << band_bits) - 1
    sh = simhash64(documents, n_bits=n_bits)
    banded = sh.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), band_bits * j).bitwiseAND(
                        mask
                    )
                    for j in range(n_bands)
                ]
            )
        ).alias("band", "band_val"),
    )
    a = banded.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("_sa"),
        "band",
        "band_val",
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("_sb"),
        "band",
        "band_val",
    )
    return (
        a.join(b, ["band", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
        .orderBy("doc_a", "doc_b")
    )


def dup_spans(
    documents: DataFrame, n: int = 8, min_docs: int = 2
) -> DataFrame:
    """Exact duplicated-substring spans: per document, the maximal token
    ranges every position of which starts a word ``n``-gram that also
    occurs in ≥ ``min_docs`` documents — the span-level dedup report of
    the "deduplicate substrings, not documents" school (long shared
    passages: licenses, templates, syndicated paragraphs). Document-level
    near-dup misses these when the rest of the doc differs; this finds
    the shared passage itself, ready for masking or cutting.

    Plan: one posexplode+lead pass emits (doc_id, pos, hash-of-ngram);
    document frequency is one distinct + hash-agg; hot positions join
    back on the 8-byte hash; then interval merging is a per-doc sorted
    window — consecutive hot positions with gap ≤ n overlap as text
    ranges [pos, pos+n−1], so a LAG flag + running sum labels maximal
    spans, and one aggregate emits them. Every exchange carries hashes
    and positions, never text; per-doc window state is that doc's hot
    positions only.
    """
    from pyspark.sql.window import Window

    from mapreduceindex_spark.functions import caching

    from mapreduceindex_spark.functions.spread import spread_rows

    caching.release("dup_spans")  # free this operator's previous cache
    pos_ng = caching.track(
        word_ngrams(word_rows(spread_rows(documents, "doc_id")), n)
        .select("doc_id", "pos", stable_hash64("ng").alias("h"))
        .persist(StorageLevel.MEMORY_AND_DISK),
        key="dup_spans",
    )
    hot = (
        pos_ng.dropDuplicates(["doc_id", "h"])
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_docs)
        .select("h")
    )
    hot_pos = pos_ng.join(hot, "h").select("doc_id", "pos")
    by_doc = Window.partitionBy("doc_id").orderBy("pos")
    flagged = hot_pos.select(
        "doc_id",
        "pos",
        F.when(
            F.col("pos") - F.lag("pos", 1).over(by_doc) > n, 1
        )
        .otherwise(0)
        .alias("_new"),
    )
    spans = flagged.withColumn(
        "_span",
        F.sum("_new").over(by_doc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    out = (
        spans.groupBy("doc_id", "_span")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + n - 1).cast("long").alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_hot_positions"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
            "n_hot_positions",
        )
        .orderBy("doc_id", "span_start")
    )
    # pos_ng stays persisted — the returned (lazy) plan scans it from two
    # branches (df aggregate + hot join-back), and nothing here ran an
    # action yet. It is TRACKED (caching.track): the next dup_spans /
    # media_dhash_near_dups call or an explicit caching.release() frees
    # it, so repeated invocations no longer accumulate cached blocks.
    return out


def span_scrub(
    documents: DataFrame, n: int = 8, min_docs: int = 2
) -> DataFrame:
    """The WRITE PATH of span-level dedup: emit the scrubbed corpus —
    per document, the normalized word sequence with cross-doc
    duplicated spans REMOVED (``dup_spans`` reports them; this cuts
    them), plus the per-doc removal accounting. The "deduplicate
    substrings, not documents" payoff: syndicated passages, licenses
    and templates disappear from every copy except one.

    Canonical-owner rule: for each hot ``n``-gram (word n-gram present
    in ≥ ``min_docs`` docs), the document with the SMALLEST doc_id
    containing it keeps its occurrences; in every other document, all
    token positions covered by an occurrence of that n-gram are
    removed. Tokens are the ``words()`` normalization (the family's
    shared basis — span positions index the filtered word sequence, so
    ``scrubbed_text`` is the space-joined surviving words, the exact
    representation ``dup_spans``' positions are defined over).

    Output: (doc_id, n_words, n_removed_words, n_removed_chars,
    scrubbed_text) for EVERY document (wordless docs report zeros and
    ''), ordered by doc_id.

    Plan shape: one tokenize pass (persisted — the n-gram window, the
    keep-side anti-join, and the removal accounting all consume it);
    the hot/owner aggregate carries 8-byte hashes; coverage explodes
    only MARKED positions ×n (output-proportional, never corpus ×n);
    keep/remove are two hash anti/semi joins on (doc_id, pos). Nothing
    driver-sided; per-doc state is that doc's tokens only.

    Idempotence (pinned in tests): after one scrub, each formerly-hot
    n-gram survives only in its owner (df = 1 < min_docs), so a second
    scrub over the scrubbed corpus removes nothing — modulo the
    documented residual: removal can create NEW adjacencies whose
    n-grams collide across docs; the test pins the fixture-checked
    fixed point.
    """
    from mapreduceindex_spark.functions import caching

    from mapreduceindex_spark.functions.spread import spread_rows

    caching.release("span_scrub")
    toks = caching.track(
        word_rows(spread_rows(documents, "doc_id")).persist(
            StorageLevel.MEMORY_AND_DISK
        ),
        key="span_scrub",
    )
    pos_ng = caching.track(
        word_ngrams(toks, n)
        .select("doc_id", "pos", stable_hash64("ng").alias("h"))
        .persist(StorageLevel.MEMORY_AND_DISK),
        key="span_scrub",
    )
    hot_own = (
        pos_ng.dropDuplicates(["doc_id", "h"])
        .groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.min("doc_id").alias("_owner"),
        )
        .filter(F.col("df") >= min_docs)
        .select("h", "_owner")
    )
    marked = pos_ng.join(hot_own, "h").filter(
        F.col("doc_id") != F.col("_owner")
    )
    # one flag join + ONE per-doc aggregate: keep/remove/totals all fold
    # in a single shuffle (measured 8.8 → ~5 s at sf0.1 vs the original
    # anti-join + semi-join + three aggregates, whose `covered` subtree
    # also executed twice)
    covered = marked.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
        ).alias("pos"),
        F.lit(1).alias("_cov"),
    ).dropDuplicates(["doc_id", "pos"])
    flagged = toks.join(covered, ["doc_id", "pos"], "left")
    per_doc = flagged.groupBy("doc_id").agg(
        F.min("nw").alias("_nw"),
        F.sum(F.when(F.col("_cov") == 1, 1).otherwise(0)).alias("_n_rm"),
        F.sum(F.when(F.col("_cov") == 1, F.length("w"))).alias(
            "_n_rm_chars"
        ),
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "w", "_cov"))
                    ),
                    lambda s: s["_cov"].isNull(),
                ),
                lambda s: s["w"],
            ),
            " ",
        ).alias("_txt"),
    )
    return (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("_nw", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("_n_rm", F.lit(0)).cast("long").alias(
                "n_removed_words"
            ),
            F.coalesce("_n_rm_chars", F.lit(0)).cast("long").alias(
                "n_removed_chars"
            ),
            F.coalesce("_txt", F.lit("")).alias("scrubbed_text"),
        )
        .orderBy("doc_id")
    )


def minhash_accuracy(
    documents: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Sketch-quality audit: for every verified near-dup pair, the
    MinHash ESTIMATE (matching signature components / K) next to the
    exact Jaccard — the calibration readout that tells an operator
    whether K and the band layout are sized right before trusting the
    sketch tier at full scale (estimator std-dev is √(j(1−j)/K) ≈ 0.125
    at j=0.5, K=16; a corpus whose errors exceed that band has
    correlated shingles or too-few hashes).

    One extra signature aggregate over the shared rep-level shingle
    frame (``_pair_front_end``) plus two hash joins of the (small,
    output-proportional) pair set against it — the pair search itself
    is reused unchanged, and per-doc signatures come from each doc's
    representative through the slim (doc → rep) map (clones carry
    identical shingle sets, hence identical signatures — the
    ``_clone_collapsed_pairs`` invariant), so the corpus is never
    re-shingled for the signature leg.
    """
    pairs = minhash_lsh_pairs(documents, n, num_hashes, bands, threshold)
    front = _pair_front_end(documents, n)
    rep_sigs = _front_signatures(front, num_hashes)
    sigs = _doc_rep_map(front).join(
        rep_sigs.withColumnRenamed("doc_id", "rep"), "rep"
    ).drop("rep")
    matches = sum(
        F.when(F.col(f"a.mh_{i}") == F.col(f"b.mh_{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    est_raw = matches.cast("double") / float(num_hashes)
    return (
        pairs.alias("p")
        .join(sigs.alias("a"), F.col("p.doc_a") == F.col("a.doc_id"))
        .join(sigs.alias("b"), F.col("p.doc_b") == F.col("b.doc_id"))
        .select(
            F.col("p.doc_a").alias("doc_a"),
            F.col("p.doc_b").alias("doc_b"),
            F.col("p.jaccard").alias("jaccard"),
            F.round(est_raw, 6).alias("est_jaccard"),
            F.round(F.abs(est_raw - F.col("p.jaccard")), 6).alias("abs_err"),
        )
        .orderBy("doc_a", "doc_b")
    )


def dup_graph_stats(
    documents: DataFrame, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Degree distribution of the near-duplicate graph: (degree, n_docs)
    for every degree ≥ 1 — the shape diagnostic run before cluster
    resolution. A long-tailed distribution (one hub touching thousands
    of docs) predicts giant components and motivates threshold/banding
    review; a flat low-degree profile means clean small clusters.

    Two tiny aggregates over the output-proportional pair set (each pair
    counted toward both endpoints); the corpus itself is never touched
    beyond the pair search. Endpoints come from ONE explode, not a
    two-branch union — a union of two projections re-executes the whole
    pair front per branch (measured at sf0.1: 5.9 s union → 2.5 s
    explode; Catalyst does not merge sibling scans of a computed
    subtree).
    """
    pairs = ngram_jaccard_pairs(documents, n, threshold).select(
        "doc_a", "doc_b"
    )
    endpoints = pairs.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    )
    degrees = endpoints.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("degree")
    )
    return (
        degrees.groupBy("degree")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .select(F.col("degree").cast("long").alias("degree"), "n_docs")
        .orderBy("degree")
    )


def incremental_dedup(
    documents: DataFrame,
    delta_mod: int = 10,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold_ppm: int = 500_000,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus — the shape a 100 TB
    pipeline actually runs on every crawl drop: never re-pair the base
    corpus with itself, only score the delta against it. Docs with
    ``doc_id % delta_mod == delta_mod - 1`` play the incoming batch; the
    rest are the established corpus.

    Verdict per delta doc, with precedence:

    - ``exact_dup``  — byte-identical to a base doc (md5 join against the
      base's distinct-content map; match is the group's min base doc_id);
    - ``near_dup``   — shares a MinHash LSH band with a base
      representative and verifies at Jaccard ≥ ``threshold_ppm``/1e6
      (integer cross-multiplied, no float threshold); match is the
      best-Jaccard base rep, ties to the lower doc_id;
    - ``novel``      — neither (including shingle-less docs, which carry
      no near-dup evidence; byte-identical empties are still caught by
      the exact tier).

    Scale shape: the base side is pre-collapsed to one representative per
    distinct content (clone groups share identical signatures — banding
    them all would only multiply candidates, never change a verdict), the
    band join's candidate space is |delta| × collisions — base × base
    never happens — and in production the base's signature/band table is
    the persisted index this computes once and reuses per drop. One
    shingle front end feeds both sides' signatures AND the verification
    sets (persisted, released via the operator cache registry). Output:
    ``(doc_id, status, match_id, jaccard_micro)``, all BIGINT but the
    status; ``match_id`` is −1 and ``jaccard_micro`` 0 for novel docs
    (1e6 for exact dups).
    """
    # The whole verdict is a pure function of the clone-group structure
    # plus rep-level shingles/signatures — exactly the memoized dedup
    # front end (r10 VERDICT next-round #7): clones carry identical
    # shingle sets, hence identical signatures and band buckets, so
    # every per-DOC decision in the original formulation (own base md5
    # aggregate + union-side shingle pass + per-doc banding) collapses
    # to a per-GROUP decision expanded through the members array. No
    # corpus scan remains outside the shared memo.
    front = _pair_front_end(documents, n)
    groups, sh_reps = front.groups, front.sh

    is_delta_m = lambda m: m % delta_mod == delta_mod - 1  # noqa: E731
    gsplit = groups.select(
        "rep",
        F.filter("members", is_delta_m).alias("_dm"),
        F.array_min(
            F.filter("members", lambda m: ~is_delta_m(m))
        ).alias("_bmin"),
    )
    # exact tier: a delta member of a group that also has base members
    # is byte-identical to a base doc; the match is the min base member
    # (the original bmap's min base doc_id per distinct content)
    exact = gsplit.filter(
        F.col("_bmin").isNotNull() & (F.size("_dm") > 0)
    ).select(F.explode("_dm").alias("doc_id"), F.col("_bmin").alias("_ex_id"))
    # live groups: delta-only content — their rep (a delta doc) carries
    # the group's signature; base map: every distinct base content,
    # keyed by its group rep (whose shingle set is identical) with the
    # min base member as the reported match id
    live = gsplit.filter(
        F.col("_bmin").isNull() & (F.size("_dm") > 0)
    ).select("rep", "_dm")
    basemap = gsplit.filter(F.col("_bmin").isNotNull()).select(
        F.col("rep").alias("doc_id"), F.col("_bmin").alias("_b")
    )

    stacked = _front_signatures(front, num_hashes).select(
        "doc_id",
        F.explode(F.array(*_band_keys(num_hashes, bands))).alias("bucket"),
    )
    d_stack = live.select(F.col("rep").alias("doc_id")).join(
        stacked, "doc_id"
    ).select(F.col("doc_id").alias("_dr"), "bucket")
    b_stack = basemap.join(stacked, "doc_id").select("_b", "bucket")
    cand = d_stack.join(b_stack, "bucket").select("_dr", "_b").distinct()
    shsets = sh_reps.groupBy("doc_id").agg(F.collect_set("sh").alias("hs"))
    da = shsets.select(F.col("doc_id").alias("_dr"), F.col("hs").alias("ha"))
    db = basemap.join(shsets, "doc_id").select(
        "_b", F.col("hs").alias("hb")
    )
    inter = F.size(F.array_intersect("ha", "hb")).cast("long")
    union = (F.size("ha") + F.size("hb")).cast("long") - inter
    scored = (
        cand.join(da, "_dr")
        .join(db, "_b")
        .select(
            "_dr",
            "_b",
            inter.alias("_i"),
            union.alias("_u"),
        )
        .filter(F.col("_i") * 1_000_000 >= F.lit(threshold_ppm) * F.col("_u"))
        .select(
            "_dr",
            "_b",
            F.expr("CAST(_i * 1000000 DIV _u AS BIGINT)").alias("_j"),
        )
    )
    best = scored.groupBy("_dr").agg(
        F.max(F.struct(F.col("_j"), (-F.col("_b")).alias("_nb"))).alias("_t")
    ).select(
        "_dr",
        F.col("_t._j").alias("_near_j"),
        (-F.col("_t._nb")).alias("_near_id"),
    )
    # expand the per-group near verdict to every live delta member; the
    # full delta id set likewise explodes from the memoized groups frame
    # (no corpus re-scan for the spine)
    near = (
        live.select(F.col("rep").alias("_dr"), F.explode("_dm").alias("doc_id"))
        .join(best, "_dr", "left")
        .select("doc_id", "_near_j", "_near_id")
    )
    return (
        gsplit.select(F.explode("_dm").alias("doc_id"))
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_ex_id").isNotNull(), F.lit("exact_dup"))
            .when(F.col("_near_id").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("novel"))
            .alias("status"),
            F.coalesce("_ex_id", "_near_id", F.lit(-1))
            .cast("long")
            .alias("match_id"),
            F.when(F.col("_ex_id").isNotNull(), F.lit(1_000_000))
            .otherwise(F.coalesce("_near_j", F.lit(0)))
            .cast("long")
            .alias("jaccard_micro"),
        )
        .orderBy("doc_id")
    )


def containment_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold_ppm: int = 600_000,
    max_shingle_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """Asymmetric shingle containment C(a→b) = |S_a ∩ S_b| / |S_a| ≥
    threshold — the near-dup lens Jaccard is blind to: a short document
    wholly quoted inside a long one has tiny Jaccard (union is huge)
    but containment ≈ 1. Output is ORDERED pairs (both directions when
    both clear the bar) with the exact intersection count and BIGINT
    ppm — the quote/extraction/subset detector next to the symmetric
    ``ngram_jaccard_pairs``.

    Same scale discipline as the Jaccard family, including its
    **exact-dup pre-collapse**: the pair search runs on the family front
    end's representatives (one per distinct content — a clone-heavy
    corpus otherwise inflates every shingle df by the clone factor and
    the self-join quadratically), then intra-group ordered pairs
    re-expand from the representative's CAPPED live-shingle count and
    cross-group pairs fan out over members — clone members carry
    identical shingle sets, so the expansion equals the brute-force
    all-docs join. Shingle df counts **unique contents** (the front
    end's ``sdf``: one vote per clone group), so a shingle's
    live/capped status — and therefore every pair's ``n_common`` and
    ppm — does not depend on how often a content is cloned. On a
    duplicate-free corpus (by the front end's clone census) the
    expansion is the identity and the rep-level pairs are returned as
    is, ordered. The core is the Jaccard direct tier's shape: the
    shared 16-byte shingle-hash front end, the ``max_shingle_df``
    hot-shingle cap (the oracle brute-forces uncapped — identical under
    fixture dfs, the family's documented relationship), one hash-join
    for intersections, one doc-keyed sizes join.
    """
    caching.release("containment_pairs")
    front = _pair_front_end(documents, n)
    groups, sh = front.groups, front.sh
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_n_sh"))
    # persisted: the pair self-join scans it twice, and with clones
    # present the intra expansion reads it again through live_sizes
    live = caching.track(
        sh.join(
            front.sdf.filter(F.col("sdf") <= max_shingle_df).select("sh"),
            "sh",
            "left_semi",
        ).persist(StorageLevel.MEMORY_AND_DISK),
        "containment_pairs",
    )
    a = live.select(F.col("doc_id").alias("doc_a"), "sh")
    b = live.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("_common"))
    )
    pairs = (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), "_n_sh"), "doc_a"
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("_common").cast("long").alias("n_common"),
            F.expr("(_common * 1000000) DIV _n_sh")
            .cast("long")
            .alias("containment_ppm"),
        )
        .filter(F.col("containment_ppm") >= threshold_ppm)
    )
    n_groups, n_docs = front.stats
    if n_groups == n_docs:
        return pairs.orderBy("doc_a", "doc_b")
    live_sizes = live.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_n_live"))
    # intra-group: every ordered member pair shares the identical set —
    # n_common is the rep's LIVE (cap-surviving) shingle count and ppm
    # is live/total, exactly what a hash-join over all documents would
    # produce for the clone pair; groups whose rep has no live shingles
    # join out (zero-word or fully-capped docs pair with nothing)
    intra = (
        groups.filter(F.size("members") > 1)
        .join(sizes.withColumnRenamed("doc_id", "rep"), "rep")
        .join(live_sizes.withColumnRenamed("doc_id", "rep"), "rep")
        .select(
            F.explode("members").alias("doc_a"),
            "members",
            "_n_sh",
            "_n_live",
        )
        .select(
            "doc_a", F.explode("members").alias("doc_b"), "_n_sh", "_n_live"
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.col("_n_live").cast("long").alias("n_common"),
            F.expr("(_n_live * 1000000) DIV _n_sh")
            .cast("long")
            .alias("containment_ppm"),
        )
        .filter(F.col("containment_ppm") >= threshold_ppm)
    )
    ga = groups.select(F.col("rep").alias("doc_a"), F.col("members").alias("_ma"))
    gb = groups.select(F.col("rep").alias("doc_b"), F.col("members").alias("_mb"))
    cross = (
        pairs.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            F.explode("_ma").alias("_a"),
            "_mb",
            "n_common",
            "containment_ppm",
        )
        .select(
            F.col("_a").alias("doc_a"),
            F.explode("_mb").alias("doc_b"),
            "n_common",
            "containment_ppm",
        )
    )
    return cross.union(intra).orderBy("doc_a", "doc_b")


def lsh_recall(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Blocking-quality calibration of the LSH dedup tier: what
    fraction (ppm) of the EXACT tier's ≥-threshold pairs does the
    banded MinHash candidate generation recover — the pairs-
    completeness number every blocking scheme publishes, and the
    third leg of the family's calibration set (``minhash_accuracy``
    scores the ESTIMATE, ``ann_recall`` the vector index; this scores
    the DEDUP BLOCKING).

    Basis note: the truth side is ``ngram_jaccard_pairs`` (the exact
    tier, hot-shingle df cap documented there); the found side is
    ``minhash_lsh_pairs`` (banded candidates + uncapped exact verify).
    Both legs are independently oracle-verified; this query composes
    them on the (doc_a, doc_b) key — one left-semi mark join + one
    single-row fold.

    Shared front end: both legs read the family's memoized front end
    (:func:`_pair_front_end` — md5 clone groups, rep-level shingle
    frame), held through ``caching.memo`` keyed on the input plan's
    semantic hash + n, so re-running the calibration against an
    unchanged corpus pays only the pair legs (measured at sf0.1: 22 s
    cold → 6.4 s memo-warm; ``memo`` detects externally cleared frames
    via their storage level and rebuilds cleanly). Still exactly one
    cache set for the front end; a changed input releases and rebuilds.
    """
    # two caching keys: "dedup_front" holds the FAMILY-shared memoized
    # front end (released only on an input-fingerprint change — NEVER
    # here, or the memo would be voided); "lsh_recall_pairs" holds the
    # exact leg's per-call persist (the prefix tier's ``ranked``),
    # released per call like any other operator's
    caching.release("lsh_recall_pairs")
    front = _pair_front_end(documents, n)
    truth = _clone_collapsed_pairs(
        front,
        _jaccard_rep_pairs(
            front, threshold, MAX_SHINGLE_DF, DIRECT_JOIN_MAX_DF2,
            track_key="lsh_recall_pairs",
        ),
        threshold,
    ).select("doc_a", "doc_b")
    found = _clone_collapsed_pairs(
        front,
        _minhash_lsh_rep_pairs(front, num_hashes, bands, threshold),
        threshold,
    ).select("doc_a", "doc_b", F.lit(1).alias("_hit"))
    marked = truth.join(found, ["doc_a", "doc_b"], "left").select(
        F.coalesce("_hit", F.lit(0)).alias("_hit")
    )
    return marked.agg(
        F.count(F.lit(1)).cast("long").alias("n_true"),
        F.sum("_hit").cast("long").alias("n_found"),
    ).select(
        "n_true",
        "n_found",
        F.expr(
            "CASE WHEN n_true = 0 THEN CAST(0 AS BIGINT) "
            "ELSE CAST((n_found * 1000000) DIV n_true AS BIGINT) END"
        ).alias("recall_ppm"),
    )


def near_dup_threshold_curve(
    documents: DataFrame,
    n: int = 3,
    thresholds: tuple[float, ...] = (0.3, 0.5, 0.7, 0.9, 1.0),
) -> DataFrame:
    """The dedup-POLICY tuning table: for each candidate similarity
    threshold, how many near-dup pairs qualify and how many documents
    they touch — the curve an operator reads before committing a
    threshold (too low: false merges explode; too high: the near-dup
    tail survives). Reading it from N separate pair searches would pay
    the shingle front end N times; one exact pair search at the LOWEST
    threshold dominates every higher one, so the sweep is a
    dimension-bounded explode over the (output-proportional) pair set.

    Comparisons are in tie-free ppm integers (floor(j·1e6 + 0.5) ≥
    t_ppm) so borderline pairs land identically on both engines; the
    zero-fill left join reports empty thresholds as zeros. Basis notes
    (df cap, clone pre-collapse) inherit from ``ngram_jaccard_pairs``.
    """
    spark = documents.sparkSession
    t_ppms = sorted(int(round(t * 1_000_000)) for t in thresholds)
    # the qualifying-pair frame feeds TWO aggregate branches below
    # (pair counts + distinct-doc counts); without a persist the whole
    # lowest-threshold pair search executes once per branch (r11,
    # guide §5 persist-on-reuse — tracked per-operator, released on
    # re-entry; output-proportional, never a cross-call memo)
    caching.release("near_dup_threshold_curve")
    pairs = caching.track(
        ngram_jaccard_pairs(documents, n=n, threshold=min(thresholds))
        .select(
            "doc_a",
            "doc_b",
            F.expr("CAST(floor(jaccard * 1000000 + 0.5) AS BIGINT)").alias(
                "_jppm"
            ),
        )
        .persist(StorageLevel.MEMORY_AND_DISK),
        key="near_dup_threshold_curve",
    )
    th = spark.createDataFrame(
        [(t,) for t in t_ppms], "threshold_ppm bigint"
    )
    qual = pairs.join(
        F.broadcast(th), F.col("_jppm") >= F.col("threshold_ppm")
    )
    pair_counts = qual.groupBy("threshold_ppm").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    doc_counts = (
        qual.select(
            "threshold_ppm",
            F.explode(F.array("doc_a", "doc_b")).alias("_d"),
        )
        .groupBy("threshold_ppm")
        .agg(F.countDistinct("_d").cast("long").alias("n_docs_affected"))
    )
    return (
        th.join(pair_counts, "threshold_ppm", "left")
        .join(doc_counts, "threshold_ppm", "left")
        .select(
            "threshold_ppm",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs_affected", F.lit(0))
            .cast("long")
            .alias("n_docs_affected"),
        )
        .orderBy("threshold_ppm")
    )


def cdc_chunk_dedup(
    documents: DataFrame, window: int = 3, divisor: int = 8
) -> DataFrame:
    """Content-defined chunking (CDC) dedup report: split each document
    into chunks whose boundaries are decided by LOCAL content (a token
    position closes a chunk iff the hash of the ``window``-token n-gram
    ending there ≡ 0 mod ``divisor``), then count, per document, the
    chunks whose content recurs anywhere in the corpus — the
    rsync/storage-dedup technique applied at token granularity.
    Fixed-width chunking (``doc_chunks``) loses all alignment after one
    inserted word; a content-defined boundary re-synchronizes
    immediately, so shared passages dedup even when their offsets
    differ (pinned by test: prepending a preamble to a clone leaves
    its interior chunks byte-identical).

    This is the clamp-free CDC variant: no min/max chunk clamps, so the
    cut decision is a pure projection per position (embarrassingly
    parallel — no sequential scan state), with expected chunk length =
    ``divisor`` tokens. Clamped variants trade that independence for
    bounded chunk sizes; at 100 TB the projection form is the one that
    needs no per-partition carry-over.

    Exactness: the boundary hash and the chunk-content hash are both
    the portable 60-bit md5 (``stable_hash64``'s formula) — identical
    in the oracle; the boundary modulo runs on the non-negative 60-bit
    hash, where floored/truncating/pmod all agree; chunk content is
    the pos-ordered space-joined token run (DuckDB
    ``string_agg(... ORDER BY pos)``).

    Scale shape: the chunker is the row-local ``cdc_chunk_rows``
    expression tree — cut flags, chunk ids, token counts and content
    hashes all inside one projection per document, no token-stream
    posexplode and no per-doc window sort (r11: the former
    three-window formulation cost three exchanges+sorts over the full
    token stream; the HOF form is pinned bit-equal by
    ``test_cdc_chunk_rows_hof_equals_window_chunker``). Chunk-hash occurrence
    counts are one hash aggregate joined back on the 8-byte hash, so
    every exchange carries hashes/counts, never text (the
    ``dup_spans`` discipline).

    Output: (doc_id, n_chunks, n_tokens, n_dup_chunks, dup_tokens),
    ordered by doc_id — ``dup_tokens`` is the per-doc token mass in
    chunks whose content occurs ≥ 2 times corpus-wide (the storage /
    training-redundancy saving a chunk-store would realize).
    """
    # Row-local chunker (the ``cdc_chunk_rows`` HOF form, pinned
    # bit-equal to the former window formulation by
    # test_cdc_chunk_rows_hof_equals_window_chunker): the cut decision, chunk ids,
    # token counts and content hashes all compute inside one Catalyst
    # expression tree per document — no posexplode of the token stream,
    # no doc-partitioned sort, no three window passes, no
    # collect_list/array_sort re-assembly of chunk text (guide §2.4:
    # the per-doc windows were three removable exchanges+sorts over the
    # full token stream; measured 4.6 s → ~1 s at sf0.1). Only the
    # chunk-level rows (≈ positions/divisor) ever shuffle.
    from mapreduceindex_spark.functions.spread import spread_rows

    chunks = cdc_chunk_rows(
        spread_rows(documents, "doc_id"), divisor, window
    ).select("doc_id", "chunk_id", "n_toks", "ch")
    occ = chunks.groupBy("ch").agg(F.count(F.lit(1)).alias("_occ"))
    return (
        chunks.join(occ, "ch")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("_occ") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_chunks"),
            F.sum(F.when(F.col("_occ") >= 2, F.col("n_toks")).otherwise(0))
            .cast("long")
            .alias("dup_tokens"),
        )
        .orderBy("doc_id")
    )


def cdc_chunk_rows(
    documents: DataFrame, divisor: int = 8, window: int = 3
) -> DataFrame:
    """Row-local (HOF) form of the ``cdc_chunk_dedup`` chunker:
    (doc_id, chunk_id, n_toks, ch) computed entirely inside one
    Catalyst expression tree per row — no window, no shuffle, no state
    — so a STREAMING row can be chunked on sight (the batch operator's
    per-doc window is equivalent but needs a partitioned sort; a test
    pins the two bit-equal on the fixture corpus).

    Same rule text as the batch chunker: 0-based position p ≥ 2 cuts
    iff the portable 60-bit hash of the 3-token window ending at p ≡ 0
    (mod ``divisor``); chunk c spans (cut_{c-1}, cut_c]; a trailing
    cut leaves no empty chunk; chunk hash = the 60-bit md5 of the
    space-joined run.

    The word list and cut-position list are bound as LAMBDA VARIABLES
    (``transform(array(x), v -> ...)`` — evaluated once per row) rather
    than projected columns: Catalyst's CollapseProject inlines a
    projected expression into EVERY downstream reference, which turned
    the per-position references to the word array into O(L²) re-runs of
    the tokenizer per row (measured: 500 fixture docs took 160 s; the
    bound form is linear — the same blowup class the repo's
    tracked-persist rules guard against, at expression scope).
    """

    def h60(col):
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")

    def chunks_of(wsv):
        bp = F.filter(
            F.sequence(F.lit(0), F.size(wsv) - 1),
            lambda i: (i >= window - 1)
            & (
                F.pmod(
                    h60(
                        F.concat_ws(
                            " ",
                            *[
                                F.element_at(wsv, i - window + 2 + j)
                                for j in range(window)
                            ],
                        )
                    ),
                    F.lit(int(divisor)),
                )
                == 0
            ),
        )

        def spans_of(bpv):
            raw = F.transform(
                F.sequence(F.lit(0), F.size(bpv)),
                lambda c: F.struct(
                    F.when(c == 0, F.lit(0))
                    .otherwise(F.element_at(bpv, c) + 1)
                    .alias("s"),
                    F.when(c == F.size(bpv), F.size(wsv) - 1)
                    .otherwise(F.element_at(bpv, c + 1))
                    .alias("e"),
                    c.alias("cid"),
                ),
            )
            return F.transform(
                F.filter(raw, lambda st: st["s"] <= st["e"]),
                lambda st: F.struct(
                    st["cid"].cast("long").alias("chunk_id"),
                    (st["e"] - st["s"] + 1).cast("long").alias("n_toks"),
                    h60(
                        F.array_join(
                            F.slice(wsv, st["s"] + 1, st["e"] - st["s"] + 1),
                            " ",
                        )
                    ).alias("ch"),
                ),
            )

        # bind bp once (lambda var), then build the spans from it
        return F.element_at(
            F.transform(F.array(bp), lambda bpv: spans_of(bpv)), 1
        )

    cs = F.element_at(
        F.transform(
            F.array(words(F.col("text"))), lambda wsv: chunks_of(wsv)
        ),
        1,
    )
    return (
        documents.select("doc_id", cs.alias("_cs"))
        .select("doc_id", F.explode("_cs").alias("_c"))
        .select("doc_id", "_c.chunk_id", "_c.n_toks", "_c.ch")
    )


def lsh_band_sweep(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands_list: tuple = (1, 2, 4, 8, 16),
) -> DataFrame:
    """LSH banding TUNING TABLE: for every way of splitting one
    ``num_hashes`` MinHash signature into ``b`` bands of ``r`` rows
    (b·r = num_hashes), the candidate-join COST (probe pairs the band
    buckets would generate on the raw corpus) against the RECALL of the
    exact ≥-threshold truth — the (b, r) trade every banded-dedup
    deployment fixes before burning a 100 TB pass. ``lsh_recall``
    scores the ONE shipped configuration end-to-end; this sweep is how
    that configuration gets chosen: more bands ⇒ higher recall AND more
    probe work, and the table shows both numbers per config from one
    signature build.

    Cost is counted, never materialized: ``n_probe_pairs = Σ_buckets
    C(size, 2)`` comes from bucket SIZES alone (with multiplicity — a
    pair sharing two bands costs two probes, which is exactly the join
    work), so even the b=num_hashes row (single-minhash buckets, the
    quadratic-risk config) is one hash aggregate. Recall is decided
    directly on the truth pairs: join each truth pair to its two
    signatures and test band equality — never through a candidate
    join. Band keys come from the same :func:`_band_keys` as
    ``minhash_lsh_pairs``'s (md5(band_index ∥ row values)), so the sweep
    prices the production join, not an approximation of it.

    Shared front end (the ``lsh_recall`` discipline): ONE clone-group
    scan and ONE rep-level shingle frame feed the truth leg AND the
    signatures, and only REPRESENTATIVES are ever shingled or signed
    (clones carry identical shingle sets, hence identical signatures —
    the `_clone_collapsed_pairs` invariant): raw-corpus bucket sizes
    come from a group-size-weighted aggregate over rep signatures
    (bucket size = Σ group sizes ⇒ C(S, 2) probe pairs, exactly the
    uncollapsed count), and the truth pairs route to rep signatures
    through the slim (doc → rep) map. After the front end the sweep is
    one recall aggregate producing every config's hit count (stacked to
    rows) and one tagged weighted-bucket aggregate producing every
    config's probe count.

    Output: (bands, rows_per_band, n_probe_pairs, n_truth, n_recalled,
    recall_ppm), one row per config, ordered by bands.
    """
    from functools import reduce as _reduce

    caching.release("lsh_band_sweep")
    for b in bands_list:
        assert num_hashes % b == 0, (b, num_hashes)
    front = _pair_front_end(documents, n)
    groups = front.groups
    sig_reps = _front_signatures(front, num_hashes)
    truth = _clone_collapsed_pairs(
        front,
        _jaccard_rep_pairs(
            front, threshold, MAX_SHINGLE_DF, DIRECT_JOIN_MAX_DF2,
            track_key="lsh_band_sweep",
        ),
        threshold,
    ).select("doc_a", "doc_b")
    # slim (doc → rep) map instead of a per-doc 17-column signature
    # expansion: clones carry their rep's signature by the collapse
    # invariant, so the truth join routes through the map
    docmap = _doc_rep_map(front)
    sa = docmap.withColumnRenamed("doc_id", "doc_a").join(
        sig_reps.select(
            F.col("doc_id").alias("rep"),
            *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(num_hashes)],
        ),
        "rep",
    ).drop("rep")
    sb = docmap.withColumnRenamed("doc_id", "doc_b").join(
        sig_reps.select(
            F.col("doc_id").alias("rep"),
            *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(num_hashes)],
        ),
        "rep",
    ).drop("rep")
    joined = truth.join(sa, "doc_a").join(sb, "doc_b")

    def _share(b: int):
        rows = num_hashes // b
        return _reduce(
            lambda x, y: x | y,
            [
                _reduce(
                    lambda x, y: x & y,
                    [
                        F.col(f"a_{bi * rows + r}")
                        == F.col(f"b_{bi * rows + r}")
                        for r in range(rows)
                    ],
                )
                for bi in range(b)
            ],
        )

    rec = joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_truth"),
        *[
            F.coalesce(F.sum(_share(b).cast("long")), F.lit(0))
            .cast("long")
            .alias(f"rec_{b}")
            for b in bands_list
        ],
    )
    stack_args = ", ".join(
        f"{int(b)}L, rec_{b}" for b in bands_list
    )
    recall_rows = rec.select(
        F.expr(
            f"stack({len(bands_list)}, {stack_args}) "
            "AS (bands, n_recalled)"
        ),
        "n_truth",
    )
    tagged = [
        F.struct(F.lit(b).cast("long").alias("bands"), key.alias("bucket"))
        for b in bands_list
        for key in _band_keys(num_hashes, b)
    ]
    # raw-corpus bucket sizes WITHOUT expanding clones: a clone group of
    # size g contributes g copies of its rep's band keys, so bucket size
    # = Σ group sizes — one weighted aggregate over the rep signatures
    gw = groups.select(
        F.col("rep").alias("doc_id"),
        F.size("members").cast("long").alias("_w"),
    )
    probes = (
        sig_reps.join(gw, "doc_id")
        .select(F.explode(F.array(*tagged)).alias("s"), "_w")
        .select("s.bands", "s.bucket", "_w")
        .groupBy("bands", "bucket")
        .agg(F.sum("_w").alias("_s"))
        .groupBy("bands")
        .agg(
            F.coalesce(F.sum(F.expr("_s * (_s - 1) DIV 2")), F.lit(0))
            .cast("long")
            .alias("n_probe_pairs")
        )
    )
    cfg = documents.sparkSession.createDataFrame(
        [(int(b), int(num_hashes // b)) for b in bands_list],
        "bands long, rows_per_band long",
    )
    return (
        cfg.join(probes, "bands", "left")
        .join(recall_rows, "bands", "left")
        .select(
            "bands",
            "rows_per_band",
            F.coalesce("n_probe_pairs", F.lit(0))
            .cast("long")
            .alias("n_probe_pairs"),
            F.coalesce("n_truth", F.lit(0)).cast("long").alias("n_truth"),
            F.coalesce("n_recalled", F.lit(0))
            .cast("long")
            .alias("n_recalled"),
            F.expr(
                "CASE WHEN coalesce(n_truth, 0) = 0 THEN 0 "
                "ELSE coalesce(n_recalled, 0) * 1000000 DIV n_truth END"
            )
            .cast("long")
            .alias("recall_ppm"),
        )
        .orderBy("bands")
    )
