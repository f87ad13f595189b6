"""Shared helpers for operator modules."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import BROADCAST_TABLES
from ..sources import load_table


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a fixture table; constant-size dims come back broadcast-hinted.

    region/nation are 5/25 rows at every scale factor, so the broadcast hint
    is always right and removes a shuffle from every join that touches them.
    """
    df = load_table(spark, sf_dir, name)
    if name in BROADCAST_TABLES:
        return F.broadcast(df)
    return df


def r2(c: Column | str) -> Column:
    """Round a double aggregate to 2dp (sums / revenues).

    Spark and DuckDB sum doubles in different orders; the ~1e-5 relative
    wobble would break the oracle's value hash. 2dp is far above the wobble
    and at/below the precision of the input money columns.
    """
    return F.round(c if isinstance(c, Column) else F.col(c), 2)


def r4(c: Column | str) -> Column:
    """Round to 4dp (averages, ratios, stats)."""
    return F.round(c if isinstance(c, Column) else F.col(c), 4)


def rbin(c: Column | str, decimals: int = 2) -> Column:
    """Binary-faithful round-half-up: floor(x * 10^d + 0.5) / 10^d.

    For PER-ROW derived money columns (not aggregates), Spark's round()
    and DuckDB's round() can disagree ON THE SAME DOUBLE at a decimal
    half boundary: Spark re-reads the double's shortest decimal string
    through BigDecimal (40792.004999999997 -> "40792.005" -> HALF_UP ->
    40792.01) while DuckDB rounds the binary value itself (-> 40792.00).
    Found by the r8 sf0.1 gate on proj_computed/udf_pandas_charge —
    invisible at sf0.01 because no row landed on a boundary. This
    formulation is the same three IEEE ops (multiply, add, floor) on
    both engines, so the result is bit-identical by construction; valid
    for non-negative values (all money columns here). Oracle side must
    use the literal `floor(x * 100 + 0.5) / 100` form, NOT round()."""
    x = c if isinstance(c, Column) else F.col(c)
    p = float(10**decimals)
    return F.floor(x * p + F.lit(0.5)) / p


def cents(c: Column | str, decimals: int = 2) -> Column:
    """Exact bigint quantization of a fixed-decimal INPUT column.

    The exact-integer-core discipline (r8 lesson, r9 margin sweep): a
    double sum reduced in partition-dependent order can land within an
    ulp of a round() half-boundary, and different hosts then round
    opposite ways (the r8 embed_dim_covariance driver fail, margin
    1.9e-8). The structural fix is to quantize the d-decimal-generated
    input onto its integer grid BEFORE aggregating: `round(v * 10^d)`
    cast bigint is safe on raw inputs (a d-dp-generated double sits
    ~0.5 grid units from any half-boundary, so the single round cannot
    wobble), bigint sums are exact and tie-order invariant, and the
    final display value is produced by integer half-up division
    ((2*s*10^k + n) div (2*n), numerator shifted non-negative first —
    Spark `div` and DuckDB `//` both truncate toward zero) instead of
    round()-ing an order-dependent double. Oracle side mirrors with
    `CAST(round(v * 10^d) AS BIGINT)`."""
    x = c if isinstance(c, Column) else F.col(c)
    return F.round(x * (10**decimals) if decimals else x).cast("long")


def ts(lit: str) -> Column:
    """Timestamp literal (session TZ is pinned to UTC => bit-equal to DuckDB)."""
    return F.lit(lit).cast("timestamp")


def cap_bucket_occupancy(
    keyed: DataFrame, key_cols: list[str], id_col: str, cap: int
) -> DataFrame:
    """Append a `sub` column that splits any over-occupied bucket before a
    candidate self-join.

    LSH candidate generation (hyperplane buckets, MinHash bands) self-joins
    a keyed table on its bucket key; the compare count per bucket is
    occupancy^2, so ONE degenerate bucket — a corpus with thousands of
    near-identical members all hashing together — becomes a quadratic
    hotspot that AQE skew-splitting can redistribute but not shrink. The
    fix is to bound the compare count itself: buckets with more than `cap`
    members are re-split into ceil(occ/cap) sub-buckets on a secondary id
    hash, and the self-join adds `sub` to its key. Per bucket that is
    ~occ*cap compares instead of occ^2; normal buckets (occ <= cap) get
    sub = 0 everywhere and are untouched.

    Recall: a pair split across sub-buckets is missed IN THAT BUCKET but
    can still collide in any other table/band — and members of a
    degenerate bucket collide in nearly every table, so measured recall on
    a planted near-identical cluster stays high (tests/test_similarity.py,
    tests/test_dedup.py). The sub hash MUST mix in the bucket key, not
    just the id: identical members share their bucket value in EVERY
    table/band, and an id-only hash would carve the exact same
    sub-partition everywhere — members of different subs would never meet
    in any band and the duplicate cluster would fragment (caught by
    tests/test_dedup.py connectivity check).

    Cost: occupancy comes from a groupBy count (map-side partial combine,
    so the shuffle carries one row per DISTINCT bucket, not per member)
    filtered to over-cap buckets only. That over-cap list is materialized
    eagerly (one small job — callers pass `keyed` cached, so the scan it
    pays is reused by the self-join anyway): in the common case it is
    EMPTY and the cap degrades to a literal `sub = 0` — no join, no
    per-row hashing, zero plan change beyond the extra key column. Only
    when degenerate buckets exist does the splitter join come into play,
    broadcast back onto the keyed table. (A lazy window-count variant
    measured ~+40% on the minhash bench: it shuffles every member row on
    the bucket key and then the join re-shuffles on (key, sub).) The
    broadcast is bounded: over-cap buckets number at most rows/cap —
    with the default 10k cap, one entry per TEN THOUSAND member rows,
    and each entry is just the key plus an int.
    """
    sizes = over_cap_sizes(keyed, key_cols, cap)
    return attach_sub(keyed, sizes, key_cols, id_col)


def over_cap_sizes(
    keyed: DataFrame, key_cols: list[str], cap: int
) -> DataFrame | None:
    """The over-cap bucket list cap_bucket_occupancy splits on, exposed so
    an ASYMMETRIC join (multiprobe LSH: probe rows vs index rows) can
    attach the SAME sub assignment to both sides — the probe side must
    derive `sub` from the INDEX side's occupancy, not its own probe
    fan-out counts, or the two sides' sub keys would partition the same
    bucket differently and matching pairs would never meet. Returns None
    when no bucket exceeds the cap (the common case — callers degrade to
    a literal sub=0, zero plan change)."""
    sizes = (
        keyed.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_occ"))
        .filter(F.col("_occ") > cap)
        .select(
            *key_cols,
            F.ceil(F.col("_occ") / F.lit(cap)).cast("int").alias("_nsub"),
        )
    )
    return None if sizes.isEmpty() else sizes


def attach_sub(
    df: DataFrame, sizes: DataFrame | None, key_cols: list[str], id_col: str
) -> DataFrame:
    """Append the sub-bucket column for a given over-cap sizes table (see
    cap_bucket_occupancy for the splitting rationale). The sub hash mixes
    `id_col` with the bucket key so identical members land in different
    subs across tables/bands; any two rows (from EITHER side of a join)
    carrying the same id and bucket get the same sub."""
    if sizes is None:
        return df.withColumn("sub", F.lit(0))
    return (
        df.join(F.broadcast(sizes), key_cols, "left")
        .withColumn(
            "sub",
            F.pmod(
                F.xxhash64(
                    F.col(id_col), *[F.col(c) for c in key_cols], F.lit(0x5B5B5B)
                ),
                F.coalesce(F.col("_nsub"), F.lit(1)),
            ).cast("int"),
        )
        .drop("_nsub")
    )


_LABEL_MAP_BROADCAST_ROWS = 4_000_000


def hint_label_map(linked: DataFrame) -> DataFrame:
    """Deterministic, size-safe join hint for a MATERIALIZED label map.

    The connected-component label maps (propagate_min_label output) are
    |E|-participant bounded — tiny on a deduplicated corpus — but on a
    duplicate-HEAVY corpus they approach one row per document, and an
    unconditional F.broadcast() would bypass Catalyst's size estimate
    and blow the broadcast limit / driver memory exactly where the job
    matters most (ADVICE r7). The unconditional hint existed to make
    cold/warm plans deterministic (VERDICT r6: Catalyst's size estimate
    for the localCheckpoint subtree flips broadcast<->SMJ with cache
    state); this keeps that determinism while bounding the build side:

    - the input is always localCheckpoint'ed (propagate_min_label
      materializes every round), so `count()` is a cheap scan of
      in-memory partitions, no recompute;
    - under the row gate -> F.broadcast (the common, near-free case);
    - over it -> an explicit shuffle_hash hint: still deterministic
      (hint, not estimate), still avoids a sort on the big probe side,
      and the build side is distributed across partitions instead of
      replicated to every executor.

    The gate is rows, not bytes, because the map is two fixed-width id
    columns — 4M rows ~ 64 MB serialized, comfortably under the 8 GB
    broadcast ceiling with margin for row overhead.
    """
    if linked.count() <= _LABEL_MAP_BROADCAST_ROWS:
        return F.broadcast(linked)
    return linked.hint("shuffle_hash")


# Target rows per Arrow task for row-counted spreads: below this, the
# per-task scheduler + Python-worker + Arrow-batch overhead exceeds the
# work (measured r16: the 2000-row embeddings fixture split into 32
# tasks of ~60 rows made the flat/IVF ANN scorers 26-75% SLOWER than a
# single task, and the whole suite ran faster at 8 cores than 32).
# A/B-tuned on the ADC scorers (guide §2.5: partition count should
# follow data size, not core count); env override for re-tuning.
import os as _os

_SPREAD_ROWS_PER_TASK = int(
    _os.environ.get("SPARK_GRAFT_SPREAD_ROWS_PER_TASK", "256")
)


def spread_small_input(
    df: DataFrame, *key: str, n_rows: int | None = None
) -> DataFrame:
    """Repartition ONLY when the plan has fewer input splits than cores.

    The text-heavy operators (shingling, gram hashing, simhash) are
    CPU-dominated, and a small fixture arrives as one parquet file = one
    input split, which would serialize them onto a single task. But the
    repartition moves the full document text column — at real scale,
    where file splits already provide the parallelism, an unconditional
    repartition is a pure-cost full-corpus shuffle (VERDICT r3). The gate
    reads the planned partition count driver-side (no job runs) and
    leaves an adequately-split input untouched.

    n_rows: when the caller already knows the input's row count (parquet
    footer metadata / an already-collected id array — never a job), the
    spread is additionally capped at ceil(n_rows / _SPREAD_ROWS_PER_TASK)
    partitions so a tiny input is not shredded into core-count crumbs
    (VERDICT r16 item 1: 32 Arrow tasks of ~60 rows each cost 26-75%
    more than the parallelism bought back on the ANN scorers), and an
    input that arrives OVER-split for its size (a hive-partitioned
    fixture whose 16 bucket files each become a scan split of ~100
    rows) is merged DOWN to that cap with a narrow coalesce — no
    shuffle (VERDICT r16 item 3). The coalesce branch only fires when
    the row-derived target is provably tiny (< defaultParallelism), so
    a well-split production scan, where ceil(n/256) >> cores, is never
    touched in either direction.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    cur = df.rdd.getNumPartitions()
    if n_rows is not None:
        target = max(1, min(par, -(-int(n_rows) // _SPREAD_ROWS_PER_TASK)))
        if target < par and cur > target:
            return df.coalesce(target)
        if cur < target:
            return df.repartition(target, *key)
        return df
    if cur >= par:
        return df
    return df.repartition(par, *key)


_CACHE_ONCE: dict[tuple, DataFrame] = {}


def cache_once(spark: SparkSession, key: tuple, build) -> DataFrame:
    """Per-application memo for `.cache()`'d intermediates.

    A `.cache()` inside an operator function registers a FRESH cache entry
    per invocation (each call builds a new logical plan, so Spark's cache
    manager cannot dedup them), and bench runs every query 3x — without
    this memo the duplicate copies accumulate and lean on LRU eviction
    (ADVICE r3). Keyed by (applicationId, *key) so a restarted session
    never reuses a dead plan; entries are handles, not data — executor
    memory still holds exactly one copy per key.

    Entries for dead applications are dropped on insert (their plans are
    unusable and their executors are gone, so eviction is free), keeping
    the dict bounded to the live application in long-lived driver
    processes (ADVICE r4). `cache_once_clear()` additionally unpersists
    live entries for harnesses that finish a query family early.
    """
    app = spark.sparkContext.applicationId
    for stale in [k for k in _CACHE_ONCE if k[0] != app]:
        del _CACHE_ONCE[stale]
    full = (app, *key)
    df = _CACHE_ONCE.get(full)
    if df is None:
        df = build().cache()
        _CACHE_ONCE[full] = df
    return df


def cache_once_clear(spark: SparkSession | None = None) -> None:
    """Unpersist and forget every cache_once entry (current application
    only when `spark` is given, else all). For bench/test harnesses that
    want executor storage back before the application ends."""
    app = spark.sparkContext.applicationId if spark is not None else None
    for k in list(_CACHE_ONCE):
        if app is None or k[0] == app:
            df = _CACHE_ONCE.pop(k)
            try:
                df.unpersist()
            except Exception:
                pass  # application already stopped; nothing to release


_MEMO_ONCE: dict[tuple, object] = {}
# r17: 8 -> 16. The serve paths now hold ~3 entries per live index
# (codebook arrays, validated codes plan, artifact dir) and the bench
# alternates several index-backed rows; at 8 the FIFO evicted a live
# row's entries mid-rotation and re-paid the validation aggregates.
# Entries are small (plan handles, ~0.6 MB codebook arrays), so 16 is
# still a few MB of driver memory at worst.
_MEMO_ONCE_MAX = 16


def memo_once(spark: SparkSession, key: tuple, build):
    """Per-application memo for driver-side artifacts that are NOT
    DataFrames (trained PQ codebooks, built index dirs) — the
    cache_once lifecycle discipline (VERDICT r5 item 8) applied to
    plain objects: keyed (applicationId, *key) so a restarted session
    never reuses dead state, dead-application entries dropped on
    insert, `memo_once_clear()` as the one forget hook. Unlike
    cache_once entries (plan handles), these artifacts hold real driver
    memory, so the dict is additionally FIFO-bounded. Callers put a
    content fingerprint in the key (sources._table_fingerprint) so a
    rewritten source table misses instead of serving stale artifacts."""
    app = spark.sparkContext.applicationId
    for stale in [k for k in _MEMO_ONCE if k[0] != app]:
        del _MEMO_ONCE[stale]
    full = (app, *key)
    if full not in _MEMO_ONCE:
        while len(_MEMO_ONCE) >= _MEMO_ONCE_MAX:
            _MEMO_ONCE.pop(next(iter(_MEMO_ONCE)))
        _MEMO_ONCE[full] = build()
    return _MEMO_ONCE[full]


def memo_once_clear(spark: SparkSession | None = None) -> None:
    """Forget every memo_once artifact (current application only when
    `spark` is given, else all)."""
    app = spark.sparkContext.applicationId if spark is not None else None
    for k in list(_MEMO_ONCE):
        if app is None or k[0] == app:
            del _MEMO_ONCE[k]


_ARTIFACT_MARKER = "_ARTIFACT_OK"


def _artifacts_base(spark: SparkSession) -> str:
    """Root for persisted index/graph artifacts:
    <spark.sql.warehouse.dir>/_artifacts. Deliberately the warehouse
    dir, not a tempdir — artifacts described as 'persisted' must
    survive the session and be reused by the next one. A local `file:`
    warehouse yields a plain local path (so pyarrow fast-path readers
    like similarity._read_index_rows keep working); any other scheme is
    kept as a URI — the artifact lifecycle itself is Hadoop-FS-routed
    either way."""
    wh = spark.conf.get("spark.sql.warehouse.dir")
    if wh.startswith("file:"):
        wh = wh[len("file:") :]
    return wh.rstrip("/") + "/_artifacts"


def persisted_artifact(
    spark: SparkSession, kind: str, sf_dir: str, fingerprint: str, build
) -> str:
    """Content-addressed on-disk artifact directory (ADVICE r9: these
    used to live in memo_once'd tempfile.mkdtemp dirs, so memo eviction
    or a new application silently rebuilt them — orphaning the old dir
    — and 'persisted' artifacts never actually survived a session).

    Layout: <warehouse>/_artifacts/<kind>-<sf tag>/<fingerprint> (the
    sf tag keeps sf0.01 and sf0.1 artifacts in separate prune scopes —
    check.py and bench.py alternate SFs across sessions and must not
    evict each other's live artifact). Lifecycle:

    - REUSE across sessions: if the dir exists with its completion
      marker, return it without rebuilding (the fingerprint is a
      content hash of the source table, so stale state cannot be
      served — a rewritten table is a different dir).
    - CRASH-SAFE build: build(tmp) writes into a same-filesystem
      sibling, the marker lands last, then one atomic rename publishes
      it (the sinks.swap_dir discipline). A dir without a marker is a
      torn build: removed and rebuilt, never served.
    - NO ORPHANS: superseded fingerprints and dead tmp dirs under the
      same <kind> are pruned at publish time, bounding disk to one
      live artifact per kind.

    The fs probe is wrapped in memo_once so warm in-session calls skip
    the stat; memo_once_clear()/artifact_clear() force a re-probe /
    re-build respectively (the perturb gate clears both so artifact
    builds are exercised under every shuffle-partition setting).

    All filesystem traffic goes through the Hadoop FileSystem API
    (fsio.Fs) so the artifact lifecycle runs unchanged when the
    warehouse dir is an object-store URI (VERDICT r12 item 1); the
    no-replace publish uses Fs.rename_no_nest because Hadoop rename
    onto an existing directory NESTS instead of failing like
    os.rename."""
    import os
    import uuid

    from ..fsio import Fs, child

    tag = os.path.basename(os.path.normpath(sf_dir)) or "root"

    def resolve() -> str:
        kind_dir = child(_artifacts_base(spark), f"{kind}-{tag}")
        root = child(kind_dir, fingerprint)
        marker = child(root, _ARTIFACT_MARKER)
        fs = Fs(spark, kind_dir)
        if fs.is_file(marker):
            return root
        if fs.is_dir(root):  # torn build — never serve it
            # ADVICE r10: re-probe the marker immediately before the
            # delete — a concurrent builder's atomic rename may have
            # published between the is_file miss above and here, and the
            # marker lands inside the renamed dir, so marker-present
            # means complete.
            if fs.is_file(marker):
                return root
            fs.delete(root)
        tmp = child(kind_dir, f".tmp-{fingerprint}-{uuid.uuid4().hex[:8]}")
        fs.mkdirs(tmp)
        try:
            build(tmp)
            fs.write_text(child(tmp, _ARTIFACT_MARKER), fingerprint + "\n")
            if not fs.rename_no_nest(tmp, root):
                # concurrent builder won the publish; serve theirs
                if not fs.is_file(marker):
                    raise IOError(
                        f"artifact publish lost to a concurrent builder "
                        f"but no complete artifact at {root}"
                    )
        except BaseException:
            fs.delete(tmp)
            raise
        for entry in fs.listdir(kind_dir):
            if entry == fingerprint:
                continue
            p = child(kind_dir, entry)
            if entry.startswith(".tmp-"):
                # another builder may still be writing here — only
                # reap tmps that are clearly abandoned (crashed build).
                # Freshness = the NEWEST mtime anywhere in the tree, not
                # the tmp root's (ADVICE r10: writes into subdirectories
                # — e.g. parquet part files — do not touch the root's
                # mtime, so a long live build looked abandoned).
                try:
                    import time

                    if time.time() - fs.newest_mtime(p) < 3600:
                        continue
                except Exception:
                    # broad on purpose (ADVICE r13): a concurrent
                    # builder renaming its tmp away between the listing
                    # and this probe surfaces as Py4JJavaError
                    # (FileNotFoundException), NOT OSError — any probe
                    # failure means "can't prove abandoned", so skip.
                    continue
            try:
                fs.delete(p)
            except Exception:
                # reaping is best-effort housekeeping (the old shutil
                # path was ignore_errors=True): a concurrent session
                # racing the same stale entry must not fail THIS
                # session's successful artifact resolve.
                continue
        return root

    return memo_once(spark, ("persisted_artifact", kind, tag, fingerprint), resolve)


def artifact_clear(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Delete persisted artifact dirs AND the in-session memo AND the
    cache_once plan handles — the 'rebuild everything from source' hook
    the perturb sweep uses so the heavy artifact-build subtrees re-run
    under each partitioning.

    cache_once entries are cleared too (r17): a cached frame DERIVED
    FROM an artifact (dedup_pagerank's deg/outdeg over the mh_edges
    parquet) holds the old build's file listing in its plan — after the
    wipe, the content-addressed rebuild lands at the SAME dir with NEW
    part-file names, and the stale handle fails with
    FAILED_READ_FILE.FILE_NOT_EXIST (caught by the first post-r16-HEAD
    perturb run; the r16 gates predated the commit that introduced the
    caching). Wiping artifacts while keeping plans built on them was
    never a consistent state.

    sf_dir scopes the wipe to that fixture's `<kind>-<tag>` dirs
    (ADVICE r10: the unscoped rmtree crossed the per-SF prune boundary
    the persisted_artifact docstring promises — a concurrent bench/check
    session on the OTHER sf lost its live artifacts mid-query). None
    keeps the full wipe for single-session test teardown. Deletes go
    through the Hadoop FileSystem API (fsio.Fs) like the rest of the
    artifact lifecycle."""
    import os

    from ..fsio import Fs, child

    base = _artifacts_base(spark)
    fs = Fs(spark, base)
    if sf_dir is None:
        fs.delete(base)
    else:
        tag = os.path.basename(os.path.normpath(sf_dir)) or "root"
        try:
            entries = fs.listdir(base)
        except FileNotFoundError:
            entries = []
        for entry in entries:
            # Exact-tag match (ADVICE r11: a bare endswith("-{tag}") let
            # tag 'a' wipe 'kind-data-a'). Kind names are dash-free by
            # construction (snake_case identifiers: 'pq_index',
            # 'mh_index', 'eval_gram_index', ...), so `<kind>-<tag>`
            # splits unambiguously on the FIRST dash even when the tag
            # itself contains dashes.
            if "-" in entry and entry.split("-", 1)[1] == tag:
                fs.delete(child(base, entry))
    memo_once_clear(spark)
    cache_once_clear(spark)


def seq1(stop: Column) -> Column:
    """sequence(1, stop) that is EMPTY when stop < 1.

    F.sequence(1, 0) silently yields a DESCENDING [1, 0] (Spark
    auto-steps -1 when start > stop), so the classic
    sequence(1, greatest(size - k, 0)) shingle/n-gram index pattern
    evaluates element_at(arr, 0) on short inputs and throws under ANSI
    mode. Every 1-based index sequence in the engine goes through this
    guard instead."""
    return F.when(stop >= 1, F.sequence(F.lit(1), stop)).otherwise(
        F.array().cast("array<int>")
    )
