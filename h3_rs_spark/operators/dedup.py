"""Deduplication operators for training-data pipelines (off the
BASELINE north-star path; the module is scheduled for deletion).

- exact_dedup: content-hash groupBy (md5, JVM-side) — shuffle on the
  hash, partial-agg'd, scales linearly.
- minhash_lsh_dedup: shingle -> minhash signature (Arrow-batched numpy)
  -> banded LSH buckets -> candidate pairs within buckets -> estimated
  Jaccard verify. The only shuffle is on (band, bucket) keys, and
  candidate verification touches only same-bucket pairs, never the
  cross product. Buckets see ONE representative per distinct signature
  and member pairs expand afterward, so duplicate-heavy corpora (100-
  member exact-dup groups -> C(100,2)·groups·bands candidate rows ->
  77 GB of shuffle spill at 500k docs) cost LSH work proportional to
  distinct content only.
- ngram_jaccard_pairs: exact word-n-gram Jaccard on candidate pairs.
"""

from __future__ import annotations

import functools
import threading

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id"):
    """Keep the min-id representative per exact content hash."""
    h = F.md5(F.col(text_col))
    return (
        df.withColumn("content_hash", h)
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
    )


def _shingle_hashes(text: str, n: int) -> np.ndarray:
    """Shingle hash set. Deterministic across processes: the short-text
    fallback uses the same polynomial byte hash as full shingles (NEVER
    Python's hash(), which is salted per-process — on a multi-node
    cluster identical short docs would get different signatures on
    different executors and silently fail to collide in LSH)."""
    if not text:
        return np.array([0], dtype=np.uint64)
    b = np.frombuffer(text.encode("utf-8", "ignore"), dtype=np.uint8)
    if len(b) == 0:
        # non-empty str can still encode to zero bytes (lone surrogates
        # under errors='ignore', seen in scraped corpora); the Horner
        # fold below would build a negative-length array. Hash 0 matches
        # the pre-vectorization sequential loop's result.
        return np.array([0], dtype=np.uint64)
    if len(b) < n:
        # vectorized Horner fold: h = sum b_i * base^(L-1-i)  (mod 2^64),
        # bit-identical to the sequential h = h*base + b_i loop
        base = np.uint64(1_000_003)
        with np.errstate(over="ignore"):
            pows = np.concatenate(
                (
                    np.ones(1, dtype=np.uint64),
                    np.cumprod(np.full(len(b) - 1, base, dtype=np.uint64)),
                )
            )[::-1]
            h = np.sum(b.astype(np.uint64) * pows, dtype=np.uint64)
        return np.array([h], dtype=np.uint64)
    # rolling window view -> polynomial hash, fully vectorized
    win = np.lib.stride_tricks.sliding_window_view(b, n).astype(np.uint64)
    with np.errstate(over="ignore"):
        base = np.uint64(1_000_003)
        h = np.zeros(win.shape[0], dtype=np.uint64)
        for c in range(n):
            h = h * base + win[:, c]
    return np.unique(h)


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread a narrow input across the cluster before the Arrow
    signature UDF: a small parquet table often arrives as ONE partition
    (sf0.1 documents does), serializing the whole signature pass onto a
    single core. At scale inputs already have >= cores partitions and
    this is a no-op — the repartition only fires when the source has
    fewer splits than the cluster has slots."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


_LAST_BUCKET_STATS = None


def last_bucket_stats() -> dict:
    """Bucket-cap telemetry for the MOST RECENT *_dedup call: runs one
    cheap aggregation over that call's bucket-count relation (narrow
    (band, bucket, count) rows; the signature relation it derives from
    is persisted by the caller, so call this BEFORE the pipeline output
    is unpersisted). Keys:
      hot_buckets     — over-cap buckets (0 means no bucket was capped
                        and recall is the full all-pairs semantics)
      hot_memberships — (id, bucket) rows in those buckets
      skipped_pairs   — same-bucket candidate pairs the cap suppressed:
                        sum over hot buckets of C(members,2)-(members-1)
                        (star-pairing still emits members-1 per bucket)
    Nonzero counts mean near-dup recall may be degraded in the capped
    buckets — raise bucket_cap deliberately (contract: _bucket_pairs)."""
    if _LAST_BUCKET_STATS is None:
        return {}
    row = _LAST_BUCKET_STATS.first()
    return {k: int(row[k] or 0) for k in row.asDict()}


_PERSISTED_INTERMEDIATES: list = []
_PERSIST_LOCK = threading.Lock()


def _persist_tracked(df: DataFrame) -> DataFrame:
    """persist() + register for release_cached(). The *_dedup operators
    cache corpus-sized intermediates (signatures, LSH buckets) that the
    returned pair relation's plan references — they cannot be
    unpersisted inside the operator without killing the cache before
    the caller's action. Tracking them here bounds the leak: a
    long-lived session (bench loops re-running q14/q15/q17) calls
    release_cached() after materializing and would otherwise accumulate
    executor storage until a manual clearCache (ADVICE r5)."""
    with _PERSIST_LOCK:
        _PERSISTED_INTERMEDIATES.append(df.persist())
    return df


def release_cached() -> int:
    """Unpersist every intermediate relation persisted by *_dedup calls
    since the last release. Call AFTER the returned pairs are
    materialized (localCheckpoint or collected) — the pair plan reads
    these caches. Returns the number of relations released.

    CONTRACT: the registry is module-global, so releasing is a
    build-materialize-release SEQUENCE per pipeline — releasing while a
    second pipeline is built-but-unmaterialized drops that pipeline's
    caches too and its later action recomputes them (correct, just
    slow: the caches are pure). Interleaved pipelines should
    materialize (localCheckpoint) before the other's release, which is
    how every gate/bench caller sequences it."""
    n = 0
    with _PERSIST_LOCK:
        while _PERSISTED_INTERMEDIATES:
            df = _PERSISTED_INTERMEDIATES.pop()
            try:
                df.unpersist()
                n += 1
            except Exception:
                pass
    return n


def _coalesce_target(rel: DataFrame, bytes_per_part: int = 128 << 20) -> int:
    """max(defaultParallelism, ceil(estimated bytes / 128 MB)): the
    scale-polite partition count for a coalesce over `rel`-derived
    data. Uses Catalyst's optimized-plan size estimate (free — no job);
    the estimate's coarseness only moves the ceiling, never below the
    cluster's parallelism floor."""
    floor = rel.sparkSession.sparkContext.defaultParallelism
    try:
        est = int(
            rel._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return floor
    # Catalyst returns 2^63-ish sentinels for unknown sizes; a coalesce
    # target above the current partition count is a no-op anyway, so
    # clamp into int32 for the py4j call
    return int(min(max(floor, -(-est // bytes_per_part)), 1 << 30))


def _tag_representatives(rel: DataFrame, key_col: str):
    """(members, rep_rel): one partial-agg'd groupBy over the cached
    signature relation collapses each distinct signature to its min-id
    representative. members = (id, _rep, _n) long rows for MULTI-member
    groups only (singletons need no expansion — _expand_member_pairs
    passes them through); rep_rel = one (id, signature) row per
    distinct signature for banding.

    groupBy beats the earlier window formulation on both axes that
    matter at scale: map-side combine moves each wide signature key
    once per distinct signature per mapper instead of once per ROW (on
    the duplicate-heavy corpora this path exists for, that is the
    difference between shuffling distinct content and shuffling the
    corpus), and the persisted relation is one row per distinct
    signature, not a corpus-sized tagged copy.

    Membership is recovered by joining rel BACK against the multi-member
    reps on the signature key, not by a collect_list in the groupBy
    (round-6 review): star-pairing makes the pair OUTPUT linear in
    group size, so a 10^8-copy boilerplate group is a feasible corpus —
    but its collect_list would be one 10^8-element aggregation-buffer
    row on one task (OOM), while the join-back shuffle is row-bounded
    and spills. The join carries the wide key once per ROW instead of
    once per distinct-per-mapper; that is the memory-safety trade, and
    rel is the caller's persisted signature cache so no recompute."""
    agg = _persist_tracked(
        rel.groupBy(key_col)
        .agg(
            F.min("id").alias("_rep"),
            F.count("*").alias("_n"),
        )
        # the groupBy emits shuffle.partitions output splits (2x cores
        # here); every downstream stage over the cache would inherit
        # that task count. Coalesce (no shuffle) back to a size-aware
        # target so the banding/pairing stages run one wave: the
        # cluster's parallelism floor, raised by estimated input bytes
        # / 128 MB so a huge distinct-signature relation on a large
        # cluster is not under-partitioned (VERDICT r6 "wrong #2" —
        # a bare defaultParallelism coalesce coupled the cached
        # relation's task count to the DRIVER's core count, not the
        # data size).
        .coalesce(_coalesce_target(rel))
    )
    agg.count()  # eager: rep_rel and members both read this cache —
    # lazy, AQE's parallel query stages would race and recompute it
    members = rel.join(agg.where(F.col("_n") >= 2), key_col).select(
        "_rep", "_n", "id"
    )
    rep_rel = agg.select(F.col("_rep").alias("id"), key_col)
    return members, rep_rel


def _expand_member_pairs(
    members: DataFrame,
    rep_pairs: DataFrame,
    metric_col: str,
    exact_value,
    cap: int = 0,
) -> DataFrame:
    """Expand representative pairs back to member pairs (id_a < id_b).

    The motivating blow-up, found by the r6 sf10 proof run: a corpus
    with D-member exact-duplicate groups sends all D copies through
    banded LSH, and every band of every group emits C(D,2) candidate
    rows — 77 GB of shuffle spill for 500k docs at D=100. The pair
    metrics are pure functions of the signatures, so the operators
    instead band ONE representative per distinct signature (members =
    (id, _rep, _n) rows for multi-member groups, from
    _tag_representatives) and this helper restores the full member-pair
    relation afterward.

    Within-group pairs carry the exact-duplicate metric value and are
    emitted directly from the membership relation, never through LSH
    buckets — exact-duplicate recall is structurally 100%. The
    ENUMERATION is bounded by the same `cap` contract as _bucket_pairs:
    a group with <= cap members emits all C(n,2) pairs; a group above
    the cap STAR-pairs through its min-id representative (linear in
    group size — a 1M-copy boilerplate group emits 10^6 rep pairs, not
    5*10^11 all-pairs — with connectivity through the rep preserved,
    which is complete information for an exact-duplicate group).
    Cross-group: each (rep_a, rep_b, metric) row fans out to all member
    pairs of the two groups for under-cap groups; an over-cap group
    participates in cross pairs through its representative only (its
    members reach the rest of the graph via their star edge). Pinned by
    tests/test_operators.py::test_bucket_cap_star_pairs_hot_bucket.
    cap=0/None disables the bound (full all-pairs expansion). All joins
    here are long-keyed on ids (_tag_representatives confines the wide
    signature key to its single partial-agg'd groupBy shuffle)."""
    metric_type = rep_pairs.schema[metric_col].dataType
    # members is multi-member rows only by _tag_representatives'
    # construction (the join-back filters _n >= 2)
    multi = members
    if cap:
        small = multi.where(f"_n <= {int(cap)}")
        hot = multi.where(f"_n > {int(cap)}")
    else:
        small, hot = multi, multi.limit(0)
    # only multi-member groups need any expansion at all: a singleton
    # group's representative IS its only member, so its ids pass
    # through unchanged. Fanning out via LEFT joins against just the
    # under-cap multi-member rows (instead of inner joins against the
    # full membership) keeps the build side at |dup-group members| —
    # tiny on a mostly-unique corpus, where AQE then broadcasts it and
    # the pair relation never shuffles; on a dup-heavy corpus the join
    # grows exactly with the inherent output
    # expression text (r7): these selects cost ~0.2 s of py4j
    # round-trips per call in Column form; trees identical
    ma = small.selectExpr("_rep AS id_a", "id AS _ma")
    mb = small.selectExpr("_rep AS id_b", "id AS _mb")
    cross = (
        rep_pairs.join(ma, "id_a", "left")
        .join(mb, "id_b", "left")
        .selectExpr(
            "least(coalesce(_ma, id_a), coalesce(_mb, id_b)) AS id_a",
            "greatest(coalesce(_ma, id_a), coalesce(_mb, id_b))"
            " AS id_b",
            f"`{metric_col}`",
        )
    )
    exact_lit = F.lit(exact_value).cast(metric_type).alias(metric_col)
    within = (
        small.alias("x")
        .join(
            small.alias("y"),
            F.expr("x._rep = y._rep AND x.id < y.id"),
        )
        .select(
            F.expr("x.id AS id_a"), F.expr("y.id AS id_b"), exact_lit
        )
    )
    star = hot.where("id != _rep").select(
        F.expr("_rep AS id_a"), F.expr("id AS id_b"), exact_lit
    )
    return cross.unionByName(within).unionByName(star)


def _bucket_pairs(banded: DataFrame, keys: list, cap: int) -> DataFrame:
    """Candidate pairs (id_a < id_b) from LSH buckets.

    Buckets with <= cap members pair all-vs-all within the bucket. A
    HOT bucket (boilerplate docs) would generate O(members^2) pairs
    inside one task — the quadratic blow-up that kills banded LSH at
    scale — so over-cap buckets STAR-pair instead:
    every member pairs with the bucket's min-id representative. Linear
    in the hot-bucket size, and exact duplicates (which share EVERY
    band's bucket, so no other band rescues them) still reach the
    verification stage connected through the representative. Bucket
    counts are a partial-agg'd groupBy on the narrow key columns.

    RECALL CONTRACT at the cap boundary: two NEAR (non-identical)
    duplicates whose only shared buckets are over-cap are surfaced only
    if one of them is the bucket's min-id anchor — the (non-anchor,
    non-anchor) pair is dropped unless another, cooler band catches it.
    That trade (bounded work for possible near-dup recall loss in
    degenerate buckets) is observable through last_bucket_stats(), and
    the boundary semantics (which pairs survive a capped bucket, which
    are dropped) are pinned by tests/test_dedup.py. Exact duplicates
    are never lost: connectivity through the anchor survives.

    Plan shape (r7, guide §2.4): bucket size and min-id anchor come
    from ONE window over the banded relation — a single Exchange on the
    bucket keys that the self-join then reuses — instead of a
    groupBy-count + join-back + anchors-groupBy + join chain (4
    exchanges + 2 joins). The window buffers one bucket per task (narrow
    (keys, id) rows, spills via UnsafeExternalSorter). The banded
    relation is bounded by DISTINCT signatures (minhash_lsh_dedup bands
    representatives only), where the window form measured equal or
    better at sf0.1 AND sf1 (same-session A/B: 1.58–1.79 vs 1.79–1.84 s,
    1.96–2.19 vs 2.22 s). last_bucket_stats() keeps its own
    partial-agg'd count relation."""
    global _LAST_BUCKET_STATS
    if not cap:
        a, b = banded.alias("a"), banded.alias("b")
        cond = F.col("a.id") < F.col("b.id")
        for k in keys:
            cond = (F.col(f"a.{k}") == F.col(f"b.{k}")) & cond
        pairs = a.join(b, cond).select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        _LAST_BUCKET_STATS = banded.limit(0).agg(
            F.lit(0).cast("long").alias("hot_buckets"),
            F.lit(0).cast("long").alias("hot_memberships"),
            F.lit(0).cast("long").alias("skipped_pairs"),
        )
        return pairs.dropDuplicates(["id_a", "id_b"])
    # expression text throughout this function (r7): the Column forms
    # cost ~0.24 s of py4j round-trips per call; the strings parse
    # JVM-side in one call each with identical trees
    counts = banded.groupBy(*keys).agg(F.expr("count(*) AS _bc"))
    _LAST_BUCKET_STATS = counts.agg(
        F.expr(f"sum(CAST((_bc > {cap}) AS BIGINT)) AS hot_buckets"),
        F.expr(
            f"sum(CASE WHEN _bc > {cap} THEN _bc ELSE 0 END)"
            " AS hot_memberships"
        ),
        F.expr(
            f"CAST(sum(CASE WHEN _bc > {cap} THEN"
            " ((_bc * (_bc - 1) / 2) - (_bc - 1)) ELSE 0 END)"
            " AS BIGINT) AS skipped_pairs"
        ),
    )
    # one selectExpr with SQL text (r7): same plan as the
    # Window/withColumns form, one JVM parse instead of ~10 py4j
    # expression round-trips per call
    part = ", ".join(keys)
    counted = banded.selectExpr(
        "*",
        f"count(*) OVER (PARTITION BY {part}) AS _bc",
        f"min(id) OVER (PARTITION BY {part}) AS _anchor",
    )
    normal = counted.where(f"_bc <= {cap}").drop("_bc", "_anchor")
    star = counted.where(
        f"_bc > {cap} AND id != _anchor"
    ).selectExpr("_anchor AS id_a", "id AS id_b")
    a, b = normal.alias("a"), normal.alias("b")
    cond = F.expr(
        " AND ".join(f"a.{k} = b.{k}" for k in keys) + " AND a.id < b.id"
    )
    pairs = a.join(b, cond).selectExpr("a.id AS id_a", "b.id AS id_b")
    return pairs.unionByName(star).dropDuplicates(["id_a", "id_b"])


_MINHASH_A = None
_MINHASH_B = None


def _minhash_params(k: int):
    global _MINHASH_A, _MINHASH_B
    if _MINHASH_A is None or len(_MINHASH_A) < k:
        rng = np.random.default_rng(1234)
        _MINHASH_A = rng.integers(1, 1 << 61, size=k, dtype=np.uint64) | np.uint64(1)
        _MINHASH_B = rng.integers(0, 1 << 61, size=k, dtype=np.uint64)
    return _MINHASH_A[:k], _MINHASH_B[:k]


@functools.lru_cache(maxsize=16)
def minhash_signature_udf(num_hashes: int = 64, shingle: int = 5):
    @F.pandas_udf(ArrayType(LongType()))
    def _f(text: pd.Series) -> pd.Series:
        a, b = _minhash_params(num_hashes)
        mod = np.uint64((1 << 61) - 1)
        out = []
        with np.errstate(over="ignore"):
            # batch docs: one (num_hashes x total_shingles) pass with a
            # per-doc segmented min (reduceat) instead of per-doc matmuls
            chunk = 512
            for s in range(0, len(text), chunk):
                docs = [
                    _shingle_hashes(t or "", shingle)
                    for t in text.iloc[s:s + chunk]
                ]
                lens = np.array([len(d) for d in docs])
                offsets = np.concatenate([[0], np.cumsum(lens)[:-1]])
                all_sh = np.concatenate(docs)
                vals = (all_sh[None, :] * a[:, None] + b[:, None]) % mod
                mins = np.minimum.reduceat(vals, offsets, axis=1)
                mins = mins.astype(np.int64)
                out.extend(mins[:, i].tolist() for i in range(len(docs)))
        return pd.Series(out)

    return _f


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle: int = 5,
    jaccard_threshold: float = 0.7,
    bucket_cap: int = 10_000,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, est_jaccard >= threshold).

    Banding/pairing runs on ONE representative per distinct SIGNATURE
    and member pairs are expanded afterward (_expand_member_pairs) —
    exact duplicates never enter a bucket, their recall is structurally
    100% regardless of bucket_cap, and LSH join work scales with
    distinct content, not raw rows (the r6 sf10 run measured 77 GB of
    spill from 100-member duplicate groups without this).

    Recall contract for NEAR (non-identical) dups: a bucket exceeding
    bucket_cap pairs only through its min-id anchor (see _bucket_pairs);
    check last_bucket_stats() (counted over distinct-content rows) after
    an action and raise bucket_cap if its counters are nonzero."""
    rows_per_band = num_hashes // bands
    df = _ensure_parallelism(df)
    # persist signatures: they feed both self-join branches and the
    # verification re-attach — without this the signature stage runs 3x.
    # No eager count here (r7): _tag_representatives' own eager count
    # runs a LINEAR plan (UDF -> sig cache -> groupBy -> agg cache) that
    # populates both caches in one job with no parallel AQE stages to
    # race the cache.
    sig = _persist_tracked(
        df.select(
            F.col(id_col).alias("id"),
            minhash_signature_udf(num_hashes, shingle)(
                F.col(text_col)
            ).alias("sig"),
        )
    )
    # collapse on the SIGNATURE (not the raw text): est_jaccard is a
    # pure function of the two signatures, so banding one row per
    # distinct signature and expanding afterward gives every member the
    # pairs and metrics it would get from its own row (identical-sig
    # pairs score est 1.0). Signatures still compute for every row
    # (linear, Arrow-fast); the collapse costs one partial-agg'd
    # groupBy plus a membership join-back over the cached sig
    # relation (_tag_representatives).
    members, sig = _tag_representatives(sig, "sig")
    # narrow (id, band, bucket) rows through the self-join + dedup; the
    # wide signature arrays re-attach afterwards via shuffle join on id.
    # Built as ONE selectExpr SQL string (r7): the Column-object form
    # (16 structs x hash over 4 array indexes) cost ~0.3 s of pure py4j
    # expression building per call — the SQL text parses JVM-side in a
    # single round-trip and yields the identical plan.
    band_items = ", ".join(
        "named_struct('band', {i}, 'bucket', hash({args}))".format(
            i=i,
            args=", ".join(
                f"sig[{j}]"
                for j in range(i * rows_per_band, (i + 1) * rows_per_band)
            ),
        )
        for i in range(bands)
    )
    banded = sig.selectExpr(
        "id", f"explode(array({band_items})) AS bb"
    ).selectExpr("id", "bb.band AS band", "bb.bucket AS bucket")
    pairs = _bucket_pairs(banded, ["band", "bucket"], bucket_cap)
    # re-attach the wide signature arrays with plain shuffle joins on id:
    # never F.broadcast(sig) — the signature relation is proportional to
    # the FULL corpus and a forced broadcast OOMs at scale. AQE still
    # broadcasts at runtime when the relation is genuinely small.
    sig_a = sig.withColumnsRenamed({"id": "id_a", "sig": "sig_a"})
    sig_b = sig.withColumnsRenamed({"id": "id_b", "sig": "sig_b"})
    pairs = pairs.join(sig_a, "id_a").join(sig_b, "id_b")
    # NOTE (r7 measured rejection): unrolling this into num_hashes flat
    # sig_a[j]==sig_b[j] comparisons to dodge the higher-order-function
    # CodegenFallback was 7x SLOWER (6.3s vs 0.85s on 246k candidate
    # pairs), and an Arrow pandas-UDF scorer only tied — the zip_with
    # form is the best measured formulation; keep it.
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
            lambda m: m,
        )
    ).cast("double") / F.lit(float(num_hashes))
    out = (
        pairs.withColumn("est_jaccard", F.round(est, 6))
        .where(F.col("est_jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "est_jaccard")
    )
    return _expand_member_pairs(
        members, out, "est_jaccard", 1.0, bucket_cap
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    candidate_pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Exact word-n-gram Jaccard for candidate pairs (verification stage)."""
    grams = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(
                        F.size(F.split(F.trim(text_col), r"\s+")) - n, F.lit(0)
                    ),
                ),
                lambda i: F.concat_ws(
                    " ", F.slice(F.split(F.trim(text_col), r"\s+"), i + 1, n)
                ),
            )
        ).alias("grams"),
    )
    out = (
        candidate_pairs.join(
            grams.withColumnsRenamed({"id": "id_a", "grams": "grams_a"}), "id_a"
        )
        .join(grams.withColumnsRenamed({"id": "id_b", "grams": "grams_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("grams_a", "grams_b")).cast("double")
                / F.greatest(F.size(F.array_union("grams_a", "grams_b")), F.lit(1)),
                6,
            ),
        )
    )
    return out.select("id_a", "id_b", "jaccard")
