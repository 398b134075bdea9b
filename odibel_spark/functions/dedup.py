"""Deduplication operators for training-data pipelines: exact,
n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

Design for 100 TB:

- exact dedup is a fingerprint groupBy — one shuffle on the hash;
- n-gram Jaccard self-join explodes shingles and joins on the shingle
  — correct but quadratic in cluster size; it is the *verification*
  stage, not the candidate generator;
- MinHash+LSH is the scale path: K hash signature per doc (one
  groupBy), banded bucket join (one shuffle on (band, key)) produces
  candidates ∝ near-duplicates, then exact Jaccard verifies only the
  candidates;
- SimHash gives a single 32-bit sketch whose Hamming distance bounds
  cosine similarity of the token sets — groupBy + bit arithmetic only;
- embedding near-dup composes with functions/similarity.py.

Everything is Column expressions (md5-derived integer hashing so the
DuckDB oracle reproduces values exactly; swap md5 → xxhash64 for
production throughput).
"""

from __future__ import annotations

import itertools
import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from odibel_spark.functions.text import document_fingerprint, normalized_text

#: MinHash parameters — universal hashing h_i(x) = (a_i*x + b_i) mod P
MINHASH_P = 2_147_483_647  # Mersenne prime 2^31-1
MINHASH_K = 16
MINHASH_BANDS = 4  # 4 rows per band

#: Residual LSH bucket-size cap (applies AFTER exact-duplicate
#: pre-collapse, so a bucket member is a distinct fingerprint). A
#: bucket of m members expands to m(m-1)/2 pairs inside one task;
#: 2048 bounds that at ~2.1M structs. Overflowing buckets are dropped
#: and the drop is surfaced through the query's observed metrics
#: (name prefixed ``LSH_CAP_METRIC``, unique per call) — never
#: silently.
DEFAULT_MAX_BUCKET = 2048
LSH_CAP_METRIC = "lsh_bucket_cap"

#: ``collapse="auto"`` probe: rows sampled and the distinct-fingerprint
#: ratio a sample must REACH for auto to skip the pre-collapse. The
#: threshold is deliberately strict (≥ 2% sampled duplicates already
#: picks the collapse arm): choosing uncollapsed on a corpus that
#: actually mass-duplicates would let duplicate clusters overflow the
#: bucket cap (dropped pairs) instead of re-expanding — so ambiguity
#: resolves toward the skew-safe arm.
COLLAPSE_PROBE_ROWS = 8192
COLLAPSE_AUTO_MIN_DISTINCT = 0.98

#: Monotonic suffix for default observation names: two capped LSH
#: stages composed into ONE query (e.g. MinHash ∪ embedding LSH) would
#: otherwise both observe under the constant name and Spark rejects
#: duplicate observed-metric names with AnalysisException.
_OBS_COUNTER = itertools.count()

#: Cached intermediates from the most recent dedup pipeline assembly.
#: Long-lived sessions invoke these pipelines repeatedly; each new
#: assembly unpersists the previous one's caches so storage memory is
#: bounded by ONE pipeline's working set instead of growing per call.
#:
#: ONE-LIVE-PIPELINE RULE: assembling a dedup pipeline unpersists the
#: previous assembly's caches, so consume (or checkpoint) one
#: pipeline's result before building the next — results stay CORRECT
#: either way (plans recompute from lineage), but the earlier plan
#: loses its cache acceleration. The registry is lock-guarded so
#: concurrent assemblies from different threads can't corrupt it.
_ACTIVE_CACHES: list[DataFrame] = []
_CACHE_LOCK = threading.Lock()


def clear_dedup_caches() -> None:
    """Unpersist every cached intermediate registered by dedup
    pipelines in this session (safe to call any time: plans built on
    top of them recompute from lineage). See the one-live-pipeline
    rule on ``_ACTIVE_CACHES``."""
    with _CACHE_LOCK:
        drained, _ACTIVE_CACHES[:] = _ACTIVE_CACHES[:], []
    for df in drained:
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass


def _cache_scoped(df: DataFrame) -> DataFrame:
    """cache() with session hygiene — registers the cache so the next
    pipeline assembly (or clear_dedup_caches) releases it."""
    df = df.cache()
    with _CACHE_LOCK:
        _ACTIVE_CACHES.append(df)
    return df


def _resolve_collapse(
    docs: DataFrame,
    fingerprint: F.Column,
    collapse: bool | str,
    probe_rows: int = COLLAPSE_PROBE_ROWS,
) -> bool:
    """Resolve the ``collapse`` knob: booleans pass through; ``"auto"``
    runs a BOUNDED duplicate-rate probe — distinct-fingerprint ratio
    over the first ``probe_rows`` rows (one tiny eager job at pipeline-
    assembly time; ``limit`` reads only as many partitions as needed)
    and picks the pre-collapse arm unless the sample is essentially
    clean (ratio ≥ ``COLLAPSE_AUTO_MIN_DISTINCT``).

    The pair set is arm-invariant on the corpora auto distinguishes:
    a clean sample ⇒ no mass-duplicate clusters to overflow the bucket
    cap, so uncollapsed produces the identical pairs without the
    fingerprint shuffle; a dirty sample ⇒ collapse, the always-correct
    arm. The probe is locality-biased (first partitions, not a uniform
    sample) — deliberate, because mass duplication in web corpora is
    pervasive (boilerplate, license headers), and the strict threshold
    means even trace duplication in the sample resolves to the safe
    arm; a corpus whose duplicates hide ENTIRELY outside the probed
    prefix should pass ``collapse=True`` explicitly."""
    if isinstance(collapse, bool):
        return collapse
    if collapse != "auto":
        raise ValueError(f"collapse must be True, False or 'auto', got {collapse!r}")
    row = (
        docs.select(fingerprint.alias("_fp"))
        .limit(probe_rows)
        .agg(F.count("*").alias("n"), F.count_distinct("_fp").alias("d"))
        .first()
    )
    n, d = row["n"] or 0, row["d"] or 0
    return n > 0 and (d / n) < COLLAPSE_AUTO_MIN_DISTINCT  # empty input: both arms identical


def _str_hash(col) -> F.Column:
    """Deterministic 32-bit-ish integer hash of a string, reproducible
    in any engine with md5: first 8 hex chars as int."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def exact_duplicates(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical (normalized) documents: fingerprint +
    per-group size and canonical (min) id. Output rows only for groups
    with >1 member."""
    fp = docs.select(F.col(id_col), document_fingerprint(F.col(text_col)).alias("fp"))
    return (
        fp.groupBy("fp")
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("canonical_id"))
        .filter(F.col("n_dups") > 1)
    )


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Optimized-logical-plan size estimate in bytes — a driver-side
    stats read, never a Spark job and never an RDD conversion
    (``.rdd`` forces physical planning + a conversion boundary into
    every downstream plan). Returns None when the py4j stats API is
    unavailable. Stats-LESS plans (e.g. RDD-backed) report
    Long.MaxValue — that sentinel is returned as-is, not mapped to
    None, so callers can distinguish "unknown size" from "no stats
    API". The one place the fragile ``_jdf.queryExecution()`` idiom
    lives; keep it that way."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def _estimated_scan_partitions(df: DataFrame) -> int | None:
    """Rough scan width from the *logical* plan's size statistics —
    driver-side only (see ``_plan_size_bytes``). At 100 TB the
    estimate is huge and the re-spread below is skipped for free."""
    size = _plan_size_bytes(df)
    if size is None:
        return None
    try:
        raw = df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        mpb = int("".join(ch for ch in str(raw) if ch.isdigit()) or "134217728")
        return max(1, -(-size // max(mpb, 1)))
    except Exception:
        return None


def word_shingles(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_parallelism: int | None = None,
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    The shingle projection is the CPU-heavy stage (normalize + O(len)
    slices per doc); when the input scan is estimated narrower than the
    cluster (one small parquet file), it is re-spread first — shuffling
    raw doc rows is far cheaper than serializing the shingle compute
    on one core. The width estimate comes from logical-plan size stats
    (no job, no RDD conversion); inputs already wider than the core
    count (any real corpus) skip the exchange."""
    target = min_parallelism or docs.sparkSession.sparkContext.defaultParallelism
    width = _estimated_scan_partitions(docs)
    if width is not None and width < target:
        docs = docs.repartition(target, F.col(id_col))
    return (
        docs.select(F.col(id_col), _split_words(F.col(text_col)).alias("_w"))
        .select(F.col(id_col), F.explode(_shingles_from_words(F.col("_w"), n)).alias("shingle"))
        .filter(F.length("shingle") > 0)
        .distinct()
    )


def _split_words(text_col: F.Column) -> F.Column:
    """Normalize + tokenize one document — the expensive (regex + split)
    half of shingling. MUST be materialized as its own projection before
    any per-element lambda touches it: referenced from inside a
    ``transform`` lambda, Catalyst re-evaluates a non-attribute input
    expression once per array ELEMENT, turning an O(len) tokenize into
    O(len²) per document (measured ~10× on the whole shingle stage).
    CollapseProject keeps the split in its own projection because the
    alias is non-cheap and multiply-referenced."""
    return F.split(normalized_text(text_col), r"\s+")


def _explode_no_infer(arr_col: F.Column) -> F.Column:
    """``explode`` of a bare attribute column triggers Catalyst's
    InferFiltersFromGenerate: a ``size(col) > 0`` filter appears under
    the Generate, and predicate pushdown then substitutes the alias
    chain all the way to the scan — when the attribute aliases an
    expensive array build (a shingle set), that re-inlines the whole
    build, per-element tokenize included, into a per-row scan Filter
    (measured ~10× on the decontamination corpus scan at sf0.1).
    Wrapping the attribute in ``array_compact`` — a no-op on the
    null-free arrays these operators build — makes the generator child
    a non-attribute expression, which the rule (SPARK-36715's
    expensive-expression restriction) declines to infer from."""
    return F.explode(F.array_compact(arr_col))


def _shingles_from_words(words_col: F.Column, n: int) -> F.Column:
    """Word n-gram shingle array from a MATERIALIZED words-array column
    (attribute references are O(1) per lambda call — pass the output of
    ``_split_words`` through its own ``select`` first, never the raw
    expression). May contain duplicates and the empty string; wrap in
    array_distinct + a length filter for the distinct set without any
    shuffle."""
    idx = F.sequence(F.lit(1), F.greatest(F.size(words_col) - n + 1, F.lit(1)))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words_col, i, n)))


def ngram_jaccard_pairs(
    docs: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.8
) -> DataFrame:
    """All pairs (a < b) with shingle-set Jaccard ≥ threshold.

    Shuffle shape: explode → join on shingle (co-partitioned) → count
    per pair → join per-doc sizes. Quadratic only within identical-
    shingle clusters; use minhash_lsh_candidates upstream at scale.
    """
    clear_dedup_caches()
    sh = _cache_scoped(word_shingles(docs, id_col, text_col, n))
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    out = (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def _minhash_aggs(k: int) -> list[F.Column]:
    h = F.col("_h")
    aggs = []
    for i in range(k):
        a_i, b_i = 2 * i + 1, 7919 * (i + 1)
        aggs.append(F.min((h * a_i + b_i) % MINHASH_P).alias(f"mh{i}"))
    return aggs


def minhash_signatures(
    docs: DataFrame, id_col: str, text_col: str, n: int = 3, k: int = MINHASH_K
) -> DataFrame:
    """K-permutation MinHash: sig_i = min over shingles of
    (a_i*h + b_i) mod P, h = md5-derived shingle hash. One explode +
    one groupBy — the signature table is K longs per document."""
    # hash each shingle ONCE (md5 + base conversion is the expensive
    # part); the K permutations are cheap integer arithmetic over it
    sh = word_shingles(docs, id_col, text_col, n).withColumn(
        "_h", _str_hash(F.col("shingle"))
    )
    return sh.groupBy(id_col).agg(*_minhash_aggs(k))


def _fingerprint_collapse(
    docs: DataFrame, id_col: str, text_col: str, fingerprint: F.Column, cache: bool = True
) -> tuple[DataFrame, DataFrame]:
    """Collapse exact duplicates into representatives before any
    pairwise stage — THE skew guard for mass-duplicate corpora
    (boilerplate pages, license headers): m byte-identical documents
    would otherwise share every LSH band and turn one bucket task into
    an m²/2 pair explosion. One window shuffle on the fingerprint.

    Returns ``(members, rep_docs)``: members = (id, _fp, _rep, _n)
    with _rep the group's min id (cached — reused by both expansion
    joins), rep_docs = one ``(id, content)`` row per fingerprint (the
    representative id with the group's — byte-identical — content; the
    downstream shingle/signature stages consume exactly those two
    columns). Output of any downstream pair stage over rep_docs,
    re-expanded with ``_expand_cross`` + ``_identical_pairs``, is
    EXACTLY the uncollapsed output: exact duplicates have identical
    shingle sets and signatures, so they collide with precisely the
    same partners and verify at the same similarity as their
    representative.

    Shuffle shape (why groupBy, not a window): a window over ``_fp``
    shuffles FULL rows and cannot partially aggregate, so a
    mass-duplicate corpus — the exact workload this guard exists for —
    ships every duplicate's content through the exchange. The groupBy
    combines map-side (``any_value`` keeps one content per fingerprint
    per task), so shuffle volume collapses toward the number of
    DISTINCT documents; membership then joins back on two narrow
    columns (id, _fp) only.

    ``cache=False`` skips registering the members table in the
    session-scoped cache registry — for callers that consume it once
    (the incremental index/lookup path), where registering would only
    hand a cache to the NEXT pipeline assembly's clear."""
    withfp = docs.select(F.col(id_col), F.col(text_col)).withColumn("_fp", fingerprint)
    groups = withfp.groupBy("_fp").agg(
        F.min(id_col).alias("_rep"),
        F.count("*").alias("_n"),
        F.any_value(text_col).alias(text_col),
    )
    rep_docs = groups.select(F.col("_rep").alias(id_col), text_col)
    members = withfp.select(id_col, "_fp").join(groups.select("_fp", "_rep", "_n"), "_fp")
    if cache:
        members = _cache_scoped(members)
    return members, rep_docs


def _identical_pairs(members: DataFrame, id_col: str) -> DataFrame:
    """All pairs within each exact-duplicate group (id_a < id_b),
    generated by a fingerprint self-join — a streaming sort-merge
    join that parallelizes across groups and never materializes a
    group's member array in one task's memory (the pair COUNT is
    irreducible output; the working set is one group's member list)."""
    m = members.filter(F.col("_n") > 1)
    a = m.select("_fp", F.col(id_col).alias("id_a"))
    b = m.select("_fp", F.col(id_col).alias("id_b"))
    return (
        a.join(b, "_fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )


def _expand_cross(
    rep_pairs: DataFrame, members: DataFrame, id_col: str, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Re-expand representative-level pairs to member-level pairs:
    two equi-joins on the (uniformly distributed) rep ids, then
    re-canonicalize ordering. Carried columns (e.g. jaccard) hold for
    every member pair because members are byte-identical to reps."""
    ma = members.select(F.col("_rep").alias("id_a"), F.col(id_col).alias("_xa"))
    mb = members.select(F.col("_rep").alias("id_b"), F.col(id_col).alias("_xb"))
    return (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("_xa", "_xb").alias("id_a"),
            F.greatest("_xa", "_xb").alias("id_b"),
            *[F.col(c) for c in carry],
        )
    )


def _minhash_band_buckets(sig: DataFrame, id_col: str, k: int, bands: int) -> DataFrame:
    rows_per_band = k // bands
    band_structs = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_structs.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("_", *[c.cast("string") for c in cols])).alias("bkey"))
        )
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))


def minhash_lsh_candidates(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    observation=None,
    collapse: bool | str = "auto",
) -> DataFrame:
    """LSH banding: split the K-signature into ``bands`` bands of
    k/bands rows; documents sharing any full band become candidate
    pairs (id_a < id_b, distinct). The band join is the only shuffle
    that touches pairs, and it only materializes colliding ones.

    Skew guard (``collapse=True``): exact duplicates are
    collapsed to one representative per content fingerprint BEFORE
    shingling (``_fingerprint_collapse`` — output-equivalent, see its
    docstring), so mass-duplicate clusters cost one member each in
    every bucket; residual buckets larger than ``max_bucket_size``
    DISTINCT fingerprints are dropped with the drop count surfaced via
    observed metrics (name prefixed ``LSH_CAP_METRIC``, unique per
    call, in the Spark UI / QueryExecution metrics).

    ``collapse`` is a PERFORMANCE knob — the pair set is identical
    either way as long as no bucket overflows ``max_bucket_size``.
    True costs one extra fingerprint shuffle of the corpus
    plus two narrow re-expansion joins, and wins big (5.5× on the
    mass-dup A/B fixture, BENCH/ab_lsh_mass_dup.json) whenever exact
    duplicates are common, because duplicates skip the shingle/
    signature compute AND can't blow up bucket tasks. On a corpus
    mostly exact-distinct (e.g. already exact-deduped upstream) the
    collapse shuffle is pure overhead (~2.6×,
    BENCH/ab_lsh_clean_corpus.json); ``collapse="auto"`` — the default
    — picks the arm from a sampled duplicate-rate probe, costing ONE
    bounded eager job (≤ ``COLLAPSE_PROBE_ROWS`` rows, see
    ``_resolve_collapse``) at pipeline-assembly time. Pass an explicit
    boolean to skip the probe and keep assembly fully lazy: False when
    the corpus is known clean (the cap then counts DOCUMENTS, not
    distinct fingerprints, so mass duplicates overflow buckets instead
    of pairing — only safe post-exact-dedup), True when duplicates are
    known-pervasive or hidden outside the probed prefix."""
    clear_dedup_caches()
    collapse = _resolve_collapse(docs, document_fingerprint(F.col(text_col)), collapse)
    if not collapse:
        sig = minhash_signatures(docs, id_col, text_col, n, k)
        buckets = _minhash_band_buckets(sig, id_col, k, bands)
        return _bucket_pairs(buckets, id_col, max_bucket_size, observation)
    members, rep_docs = _fingerprint_collapse(
        docs, id_col, text_col, document_fingerprint(F.col(text_col))
    )
    sig = minhash_signatures(rep_docs, id_col, text_col, n, k)
    buckets = _minhash_band_buckets(sig, id_col, k, bands)
    rep_pairs = _bucket_pairs(buckets, id_col, max_bucket_size, observation)
    # docs whose normalized text produced zero shingles have no
    # signature row and never pair — their exact-dup groups must not
    # re-expand either (matches the uncollapsed semantics)
    with_sig = members.join(
        sig.select(F.col(id_col).alias("_rep")), "_rep", "left_semi"
    )
    return _expand_cross(rep_pairs, members, id_col).unionByName(
        _identical_pairs(with_sig, id_col)
    )


def _bucket_pairs(
    buckets: DataFrame,
    id_col: str,
    max_bucket_size: int | None = None,
    observation=None,
) -> DataFrame:
    """(band, bkey, id) → distinct candidate pairs (id_a < id_b).

    One groupBy + in-bucket pair explosion, NOT a bucket self-join: a
    self-join re-executes the whole upstream lineage (shingles,
    signatures) once per side, and its pair materialization shuffles
    every collision twice. Callers collapse exact duplicates first, so
    a bucket member is a distinct fingerprint and member lists stay
    small (a bucket is a genuine near-duplicate cluster); the
    ``max_bucket_size`` cap bounds the residual worst case — an
    overflowing bucket is dropped, and the number of dropped buckets /
    ids and the largest bucket seen are recorded as observed metrics
    under a per-call ``LSH_CAP_METRIC``-prefixed name (visible to
    listeners and the UI), never
    silently discarded.

    AQE caveat: if EVERY bucket overflows the cap, adaptive execution
    may propagate the resulting empty relation over the CollectMetrics
    node and the observation never reports — use
    ``Observation.getOrEmpty`` (non-blocking) rather than ``get`` when
    that edge is reachable, or re-run the grouped aggregation
    standalone for forensic stats."""
    grouped = (
        buckets.groupBy("band", "bkey")
        .agg(F.array_sort(F.collect_set(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        over = F.size("ids") > max_bucket_size
        grouped = grouped.observe(
            observation
            if observation is not None
            else f"{LSH_CAP_METRIC}_{next(_OBS_COUNTER)}",
            F.sum(over.cast("long")).alias("dropped_buckets"),
            F.sum(F.when(over, F.size("ids")).otherwise(0)).alias("dropped_ids"),
            F.max(F.size("ids")).alias("max_bucket"),
        ).filter(~over)
    ids = F.col("ids")
    pair_lists = F.transform(
        ids,
        lambda x, i: F.transform(
            F.slice(ids, i + 2, F.size(ids)),
            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
        ),
    )
    return (
        grouped.select(F.explode(F.flatten(pair_lists)).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def _verify_jaccard(
    cand: DataFrame,
    sh: DataFrame,
    id_col: str,
    threshold: float,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-Jaccard over a candidate pair set: intersection
    counted through the shingle join RESTRICTED to candidates, sizes
    joined per side, threshold filter. ``sh`` is the (id, shingle)
    table (typically cached — both the intersection and the sizes scan
    it)."""
    if sizes is None:
        sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        cand.join(a, "id_a")
        .join(b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_near_duplicates(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    observation=None,
    collapse: bool | str = "auto",
) -> DataFrame:
    """Scale-path near-dup: LSH candidates → exact Jaccard verification
    restricted to candidates (semi-join pushes the filter into the
    shingle join).

    Shares ONE cached shingle table between the signature and
    verification stages, and runs both on exact-duplicate
    representatives only (``_fingerprint_collapse``): mass-duplicate
    groups re-expand at the end with jaccard exactly 1.0 — identical
    normalized text means identical shingle sets — instead of flooding
    the LSH buckets. See ``minhash_lsh_candidates`` for the
    ``max_bucket_size`` residual-skew cap and the ``collapse``
    performance knob: ``"auto"`` (the default) probes the sampled
    duplicate rate; False skips the fingerprint shuffle — safe on
    corpora already exact-deduped upstream; identical docs then verify
    through the buckets at jaccard 1.0 instead of re-expanding."""
    clear_dedup_caches()
    collapse = _resolve_collapse(docs, document_fingerprint(F.col(text_col)), collapse)
    if not collapse:
        sh = _cache_scoped(
            word_shingles(docs, id_col, text_col, n).withColumn("_h", _str_hash(F.col("shingle")))
        )
        sig = sh.groupBy(id_col).agg(*_minhash_aggs(k))
        cand = _bucket_pairs(_minhash_band_buckets(sig, id_col, k, bands), id_col, max_bucket_size, observation)
        return _verify_jaccard(cand, sh, id_col, threshold)
    members, rep_docs = _fingerprint_collapse(
        docs, id_col, text_col, document_fingerprint(F.col(text_col))
    )
    sh = _cache_scoped(
        word_shingles(rep_docs, id_col, text_col, n).withColumn("_h", _str_hash(F.col("shingle")))
    )
    sig = sh.groupBy(id_col).agg(*_minhash_aggs(k))
    rep_cand = _bucket_pairs(_minhash_band_buckets(sig, id_col, k, bands), id_col, max_bucket_size, observation)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    rep_verified = _verify_jaccard(rep_cand, sh, id_col, threshold, sizes=sizes)
    with_shingles = members.join(
        sizes.select(F.col(id_col).alias("_rep")), "_rep", "left_semi"
    )
    within = (
        _identical_pairs(with_shingles, id_col)
        .withColumn("jaccard", F.lit(1.0))
        .filter(F.lit(1.0) >= F.lit(float(threshold)))
    )
    return _expand_cross(rep_verified, members, id_col, carry=("jaccard",)).unionByName(within)


def benchmark_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    doc_id: str = "doc_id",
    doc_text: str = "text",
    bench_id: str = "bench_id",
    bench_text: str = "text",
    n: int = 3,
    min_shared: int = 1,
    broadcast_benchmark: bool | str = "auto",
    broadcast_cap_bytes: int = 256 << 20,
) -> DataFrame:
    """Eval-set decontamination: corpus documents sharing ≥
    ``min_shared`` distinct word n-grams with a benchmark document —
    the pretraining-hygiene step that removes test-set leakage before
    training.

    Output: (doc_id, bench_id, n_shared, doc_shingles, overlap_ratio)
    — one row per contaminated (document, benchmark-doc) pair, where
    ``overlap_ratio`` = shared / document shingles (containment in the
    document, the decontamination-relevant direction: a short eval
    question fully contained in a long document is contamination even
    though symmetric Jaccard is tiny).

    Scale posture: the benchmark side is small by nature (eval suites
    are thousands of documents, the corpus is the 100 TB side), so its
    shingle table is BROADCAST, and the corpus side NEVER shuffles its
    shingles: each document's distinct shingle set is built as a
    partition-local array expression (``array_distinct`` — no
    corpus-wide dedup exchange), its size carried alongside the explode
    so no separate sizes aggregation scans the corpus. The only shuffle
    is the groupBy over rows that MATCHED a benchmark shingle —
    contamination-sized, not corpus-sized. One corpus scan total
    (pinned by the plan assertion in tests/test_dedup_skew.py).

    ``broadcast_benchmark`` guards the "small by nature" assumption:
    ``"auto"`` (default) drops the forced broadcast hint when the
    benchmark shingle table's plan-stats size estimate (a driver-side
    stats read, no job) is KNOWN to exceed ``broadcast_cap_bytes`` —
    a 10× suite, or one stuffed with long documents — degrading
    gracefully to whatever join Catalyst/AQE picks (sort-merge at
    scale) instead of an OOM-risk forced broadcast. A stats-less
    estimate (RDD-backed inputs report Long.MaxValue = "unknown")
    keeps the domain assumption and broadcasts; pass ``False``
    explicitly when feeding an unbounded benchmark side from a
    stats-less source. Results are identical either way (tested in
    test_dedup_skew.py)."""
    valid = F.filter(
        F.array_distinct(_shingles_from_words(F.col("_w"), n)),
        lambda sh: F.length(sh) > 0,
    )
    # two-stage materialization: the words array FIRST (so the regex +
    # split tokenize runs once per row, not once per transform element
    # — see _split_words), then the shingle array in its own projection
    # BEFORE size/explode: referencing the expression twice would
    # re-evaluate the whole O(doc-length) array build once per EXPLODED
    # ROW (ExtractGenerator keeps the generator input above the
    # project), turning the scan quadratic per document
    d_w = docs.select(F.col(doc_id), _split_words(F.col(doc_text)).alias("_w"))
    # explode via _explode_no_infer, NOT the bare attribute: exploding
    # an attribute makes InferFiltersFromGenerate add size(_sh)>0 under
    # the Generate, and predicate pushdown then substitutes the alias
    # chain into the scan Filter — re-inlining the whole shingle build
    # (with its per-element tokenize) once per corpus row
    d_sh = d_w.select(F.col(doc_id), valid.alias("_sh")).select(
        F.col(doc_id),
        F.size("_sh").alias("doc_shingles"),
        _explode_no_infer(F.col("_sh")).alias("shingle"),
    )
    b_sh = word_shingles(benchmark, bench_id, bench_text, n).withColumnRenamed(bench_id, "_bid")
    if broadcast_benchmark == "auto":
        est = _plan_size_bytes(b_sh)
        # stats-less plans report Long.MaxValue ("unknown", not
        # "huge"); only a KNOWN over-cap estimate drops the hint
        broadcast_benchmark = est is None or est >= 2**60 or est < broadcast_cap_bytes
    elif not isinstance(broadcast_benchmark, bool):
        raise ValueError(
            f"broadcast_benchmark must be True, False or 'auto', got {broadcast_benchmark!r}"
        )
    if broadcast_benchmark:
        b_sh = F.broadcast(b_sh)
    return (
        d_sh.join(b_sh, "shingle")
        # each shingle appears once per document (array_distinct), so
        # count(*) IS the distinct shared-shingle count
        .groupBy(doc_id, "_bid")
        .agg(F.count("*").alias("n_shared"), F.any_value("doc_shingles").alias("doc_shingles"))
        .filter(F.col("n_shared") >= min_shared)
        .select(
            doc_id,
            F.col("_bid").alias(bench_id),
            "n_shared",
            "doc_shingles",
            F.round(F.col("n_shared") / F.col("doc_shingles"), 6).alias("overlap_ratio"),
        )
    )


def simhash(docs: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """Per-document SimHash sketch: sign-sum of token-hash bits.
    Output (id, simhash long). Hamming distance between sketches
    approximates token-multiset cosine distance."""
    toks = docs.select(
        F.col(id_col), F.explode(F.split(normalized_text(F.col(text_col)), r"\s+")).alias("tok")
    ).filter(F.length("tok") > 0)
    h = _str_hash(F.col("tok"))
    bit_sums = [
        F.sum(F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"b{b}")
        for b in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*bit_sums)
    sketch = None
    for b in range(bits):
        term = F.when(F.col(f"b{b}") > 0, F.lit(2**b).cast("long")).otherwise(F.lit(0).cast("long"))
        sketch = term if sketch is None else sketch + term
    return agg.select(F.col(id_col), sketch.alias("simhash"))


def embedding_near_duplicates(
    emb: DataFrame, id_col: str, vec_col: str, threshold: float = 0.95
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine ≥ t).
    Brute-force all-pairs — the verification-grade baseline; compose
    with similarity.ivf_top_k bucketing for the candidate stage at
    scale. Cosine via zip_with/aggregate, fully JVM-side."""
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    na = F.sqrt(F.aggregate(F.transform("va", lambda x: x * x), F.lit(0.0), lambda s, x: s + x))
    nb = F.sqrt(F.aggregate(F.transform("vb", lambda x: x * x), F.lit(0.0), lambda s, x: s + x))
    return (
        pairs.withColumn("cosine", F.round(dot / (na * nb), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-0.5, 0.5]^dim,
    derived from md5 so any engine (Spark, DuckDB, a future Rust
    verifier) regenerates the identical planes from (dim, n_planes,
    seed) — no RNG state to ship."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}_{p}_{d}".encode()).hexdigest()
            row.append((int(h[:8], 16) % 2001 - 1000) / 2000.0)
        planes.append(row)
    return planes


def embedding_lsh_signatures(
    emb: DataFrame, id_col: str, vec_col: str, planes: list[list[float]]
) -> DataFrame:
    """Random-hyperplane (SimHash-for-vectors) signature: bit p = sign
    of the dot product with plane p. Hamming distance between
    signatures estimates angular distance. Pure column arithmetic —
    one scan, no shuffle."""
    sig = None
    for p, plane in enumerate(planes):
        arr = F.array(*[F.lit(w) for w in plane])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), arr, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
        )
        bit = F.when(dot >= 0, F.lit(2**p).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig + bit
    return emb.select(F.col(id_col), sig.alias("sig"))


def embedding_lsh_candidates(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    *,
    dim: int,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    observation=None,
    collapse: bool | str = "auto",
) -> DataFrame:
    """Banded LSH over hyperplane signatures: two vectors are candidate
    near-duplicates if any band of sign-bits matches exactly. Replaces
    the O(N^2) cross join of ``embedding_near_duplicates`` with a
    bucket equi-join — the 10^9-vector path; verify survivors with the
    exact cosine afterwards.

    ``dim`` is the embedding width (the caller's schema knows it;
    Spark array types carry no length). With an explicit ``collapse``
    boolean, plan construction stays fully lazy.

    Skew guard mirrors the MinHash path: byte-identical vectors are
    collapsed to one representative per value fingerprint before
    bucketing (identical input → identical sign bits, so expansion is
    output-equivalent), and residual buckets beyond ``max_bucket_size``
    are dropped with the count observed under a per-call
    ``LSH_CAP_METRIC``-prefixed metric name. See
    ``minhash_lsh_candidates`` for the ``collapse`` performance knob
    (``"auto"``, the default, probes the sampled duplicate rate; False
    skips the fingerprint shuffle; the cap then counts vectors,
    not distinct values — safe only post-exact-dedup)."""
    clear_dedup_caches()
    # xxhash64 over (null-sentineled values, null mask) — NOT md5 of a
    # string concat: serializing every vector element to text twice per
    # row was the dominant fingerprint cost. Spark's array hash SKIPS
    # null elements (a null leaves the accumulator unchanged), so
    # [1.0, null, 2.0] and [1.0, 2.0] would collide without the NaN
    # sentinel, and the null mask separates a true NaN element from a
    # null. The fingerprint never leaves the operator (collapse is
    # output-equivalent), so engine-portability of the hash is not
    # required; 64 bits is collision-safe well past 10^9 vectors.
    vec_fp = F.xxhash64(
        F.transform(F.col(vec_col), lambda x: F.coalesce(x, F.lit(float("nan")))),
        F.transform(F.col(vec_col), lambda x: x.isNull()),
    )
    collapse = _resolve_collapse(emb, vec_fp, collapse)
    if not collapse:
        planes = random_hyperplanes(dim, n_planes, seed)
        sigs = embedding_lsh_signatures(emb, id_col, vec_col, planes)
        buckets = _hyperplane_band_buckets(sigs, id_col, n_planes, bands)
        return _bucket_pairs(buckets, id_col, max_bucket_size, observation)
    members, rep_vecs = _fingerprint_collapse(emb, id_col, vec_col, vec_fp)
    planes = random_hyperplanes(dim, n_planes, seed)
    sigs = embedding_lsh_signatures(rep_vecs, id_col, vec_col, planes)
    buckets = _hyperplane_band_buckets(sigs, id_col, n_planes, bands)
    rep_pairs = _bucket_pairs(buckets, id_col, max_bucket_size, observation)
    # every vector row gets a signature (no empty-input analog), so
    # exact-duplicate groups re-expand unconditionally
    return _expand_cross(rep_pairs, members, id_col).unionByName(
        _identical_pairs(members, id_col)
    )


def _hyperplane_band_buckets(
    sigs: DataFrame, id_col: str, n_planes: int, bands: int
) -> DataFrame:
    """Split a hyperplane sign-bit signature into band buckets:
    (id, band, bkey) with bkey the band's bit-slice."""
    rows = n_planes // bands
    mask = (1 << rows) - 1
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("sig"), b * rows).bitwiseAND(F.lit(mask)).cast("string").alias("bkey"),
        )
        for b in range(bands)
    ]
    return sigs.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))
