"""Deduplication operators for LLM-data pipelines (north-star extensions):

- exact dedup          hash-groupBy on content digest          (oracled)
- n-gram Jaccard       exact near-dup via shingle self-join    (oracled)
- MinHash + LSH        banded signature join                   (rows-only)
- SimHash              64-bit fingerprint + hamming bands      (rows-only)

Scale strategy: the oracled exact-Jaccard pair join is correct but its
shingle self-join fans out quadratically on common shingles — at 100 TB it
is the *verifier*, run only on candidate pairs. Candidate generation is
MinHash-LSH (dedup_minhash_pairs): cost is linear in corpus size with a
banding fan-out of B rows/doc, and the band-hash equi-join shuffles keys
only. SimHash gives the same shape for hamming-distance dedup. Everything
is seeded & deterministic — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..queries import query
from .util import (
    cache_once,
    cap_bucket_occupancy,
    hint_label_map,
    seq1,
    spread_small_input,
    t,
)

# MinHash parameters: 32 hashes = 16 bands x 2 rows. Banding theory: the
# probability a pair with Jaccard s shares >=1 band is 1-(1-s^rows)^bands;
# at s=0.5 this is 1-(1-0.25)^16 ~ 0.99, so the 0.5-threshold near-dup
# sweep keeps high recall while candidates stay sparse for unrelated docs
# (s=0.1 -> ~0.15 candidate rate before exact verification prunes them).
# 32-bit hash domain with multipliers < 2^30 keeps a*h + b < 2^63 — ANSI
# int64 arithmetic cannot overflow (Spark 4 errors on overflow by default).
_MH_K = 32
_MH_BANDS = 16
_MH_ROWS = 2
# Per-(band, band-hash) occupancy bound (see util.cap_bucket_occupancy):
# a corpus of near-identical documents puts them all in the same band
# bucket in EVERY band; capping turns that bucket's occ^2 candidate
# fan-out into ~occ*cap while near-identical members still meet in some
# band with overwhelming probability.
_MH_BAND_CAP = 10_000
_MH_PRIME = 4294967311  # smallest prime > 2^32
_MH_MASK = 0xFFFFFFFF
# Deterministic odd multipliers in [1, 2^30) and offsets in [0, P).
_MH_A = [(i * 0x9E3779B9 % (1 << 30)) | 1 for i in range(1, _MH_K + 1)]
_MH_B = [(i * 0xC2B2AE3D + 0x165667B1) % _MH_PRIME for i in range(_MH_K)]


def shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, s): distinct word n-gram shingles per document.

    Built-in expressions only: split -> index-sequence -> transform ->
    explode. A small fixture (one parquet file = one input split) is
    spread across cores first; an already-split input at real scale is
    left untouched (util.spread_small_input — the shuffle would move the
    full text column for nothing).
    """
    docs = spread_small_input(docs, "doc_id")
    w = F.split("text", " ")
    # Shingles as STRUCT n-tuples (arrays_zip of n shifted slices), not
    # concatenated strings: the column is only ever a join/distinct KEY,
    # and tokens are split on the separator so the string join is
    # injective — identical pairs/counts, no per-shingle string
    # allocation (profiled r7: 2x on the explode+distinct at sf0.1,
    # same trick as the funnel's struct-pair bigrams).
    # greatest(..., 0): a doc shorter than the shingle width must slice
    # ZERO elements — ANSI slice() errors on a negative length (the
    # struct-key rewrite's version of the sequence(1, 0) pitfall;
    # caught by test_shingle_helpers_handle_short_docs)
    take = F.greatest(F.size(w) - (n - 1), F.lit(0))
    grams = F.arrays_zip(*[F.slice(w, j + 1, take) for j in range(n)])
    return (
        docs.select("doc_id", F.explode(grams).alias("s"))
        .distinct()
    )


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text)    AS content_hash,
           min(doc_id)  AS canonical_doc,
           count(*)     AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content digest, keep the lowest doc_id as
    canonical. One shuffle on the digest; duplicate clusters collapse
    map-side first (partial agg)."""
    docs = t(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("canonical_doc"),
        F.count("*").alias("n_copies"),
    )


@query(
    "dedup_exact_normalized",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS norm_hash,
           min(doc_id)  AS canonical_doc,
           count(*)     AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text (lowercase + whitespace collapse) —
    catches trivially-reformatted duplicates."""
    docs = t(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    return docs.groupBy(F.md5(norm).alias("norm_hash")).agg(
        F.min("doc_id").alias("canonical_doc"),
        F.count("*").alias("n_copies"),
    )


_JACCARD_ORACLE = """
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1]
                                 || ' ' || w[CAST(i AS INT) + 2] AS s
        FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(common * 1.0 / (x.n + y.n - common), 4) AS jaccard
    FROM pairs
    JOIN sz x ON doc_a = x.doc_id
    JOIN sz y ON doc_b = y.doc_id
    WHERE common * 1.0 / (x.n + y.n - common) >= 0.5
"""


def _shingles_sized(spark: SparkSession, sf_dir: str, docs: DataFrame) -> DataFrame:
    """Cached (doc_id, s, n) frame shared by the exact-verifier pair
    queries: the per-document distinct-shingle count n rides along on
    every shingle row (one window count at cache-BUILD time), so the
    pair queries read both sizes straight off the joined rows and fold
    them into the intersection groupBy — no separate size aggregate
    and no two size joins per query (VERDICT r9 item 5: containment
    carried 10 exchanges / 14 hash aggregates; the fused plan drops
    the sz subtrees from both it and dedup_ngram_jaccard, paying one
    doc_id exchange once, inside the shared cache)."""
    return cache_once(
        spark,
        ("jaccard_shingles_sized", sf_dir),
        lambda: shingles(docs).withColumn(
            "n", F.count("*").over(W.partitionBy("doc_id"))
        ),
    )


@query("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-duplicate pairs by word-3-gram Jaccard >= 0.5.

    shingle -> self-join on shingle -> per-pair intersection count ->
    Jaccard from |A|+|B|-common (sizes pre-attached to the cached
    shingle rows and folded into the same aggregate — min() of a
    doc-constant). Exact and oracle-checkable; at corpus scale this
    runs only on LSH candidates (see dedup_minhash_pairs), because the
    self-join fans out quadratically on common shingles.
    """
    docs = t(spark, sf_dir, "documents")
    sh = _shingles_sized(spark, sf_dir, docs)
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(b, "s")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count("*").alias("common"),
            F.min("a.n").alias("na"),
            F.min("b.n").alias("nb"),
        )
    )
    jac = F.col("common") * 1.0 / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        pairs.filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


_CONTAINMENT_ORACLE = """
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1]
                                 || ' ' || w[CAST(i AS INT) + 2] AS s
        FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_small, b.doc_id AS doc_big, count(*) AS common
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_small, doc_big,
           round(common * 1.0 / x.n, 4) AS containment
    FROM pairs
    JOIN sz x ON doc_small = x.doc_id
    JOIN sz y ON doc_big = y.doc_id
    WHERE common * 1.0 / x.n >= 0.8 AND x.n <= y.n
"""


@query("dedup_ngram_containment", oracle=_CONTAINMENT_ORACLE)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-duplicate detection by shingle CONTAINMENT:
    |A ∩ B| / |A| >= 0.8 with |A| <= |B| — catches quotation, excerpt
    and subset duplication that symmetric Jaccard misses (a 100-word
    excerpt inside a 10k-word page has Jaccard ~0.01 but containment
    ~1.0). The standard second threshold in crawl dedup
    (Broder's resemblance vs containment distinction). Same plan family
    as dedup_ngram_jaccard — shingle equi-join + per-pair intersection
    count with both doc sizes folded into the same aggregate off the
    size-carrying cached shingle frame; at corpus scale the join runs
    on MinHash candidates only."""
    docs = t(spark, sf_dir, "documents")
    sh = _shingles_sized(spark, sf_dir, docs)
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(b, "s")
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_small"), F.col("b.doc_id").alias("doc_big")
        )
        .agg(
            F.count("*").alias("common"),
            F.min("a.n").alias("na"),
            F.min("b.n").alias("nb"),
        )
    )
    containment = F.col("common") * 1.0 / F.col("na")
    return (
        pairs.filter((containment >= 0.8) & (F.col("na") <= F.col("nb")))
        .select("doc_small", "doc_big", F.round(containment, 4).alias("containment"))
    )


def gram_hashes(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, grams): word n-gram shingles as an int64-hash ARRAY per
    document — no shingle strings, no explode.

    Each word is hashed once (one transform pass), then each shingle hash
    is xxhash64 over n consecutive word hashes. Keeping shingles as a
    per-row array lets the MinHash signature be computed with array_min/
    transform folds in the same projection — the signature step needs NO
    aggregation shuffle at all (vs the classic explode -> groupBy-min,
    which shuffles every shingle row).
    """
    docs = spread_small_input(docs, "doc_id")
    w = F.split("text", " ")
    wh = F.transform(w, lambda x: F.xxhash64(x))
    idx = seq1(F.size(w) - (n - 1))  # empty (not [1,0]!) for short docs
    grams = F.transform(
        idx, lambda i: F.xxhash64(*[F.element_at(wh, i + j) for j in range(n)])
    )
    return docs.select("doc_id", grams.alias("grams"))


def minhash_signatures(grams_df: DataFrame) -> DataFrame:
    """(doc_id, m0..m31): MinHash signature as 32 array_min folds over the
    per-document gram array — pure projection, zero shuffles."""
    mins = [
        F.array_min(
            F.transform(
                "grams",
                lambda g: (g.bitwiseAND(F.lit(_MH_MASK)) * F.lit(_MH_A[i]) + F.lit(_MH_B[i]))
                % _MH_PRIME,
            )
        ).alias(f"m{i}")
        for i in range(_MH_K)
    ]
    return grams_df.select("doc_id", *mins)


def minhash_band_rows(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bh): LSH banding of a wide (doc_id, m0..m31)
    signature frame — 16 bands x 2 rows, band hash via xxhash64 over
    the band's signature components. Shared by the one-shot pair sweep
    (dedup_minhash_pairs) and the persistent index
    (build_minhash_index / maintain_minhash_index), so the two can
    never disagree about bucket geometry."""
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            *[f"m{bi * _MH_ROWS + r}" for r in range(_MH_ROWS)]
                        ).alias("bh"),
                    )
                    for bi in range(_MH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.band", "b.bh")


@query("dedup_minhash_pairs")
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs verified by exact Jaccard (rows-only:
    signature arithmetic is not expressible in the SQL oracle; correctness
    is covered by tests/test_dedup.py recall-vs-exact property checks).

    Pipeline: per-doc gram-hash array -> 32-way MinHash signature
    (array_min folds, zero-shuffle) -> 16 banded hashes -> explode ->
    equi-join on (band, band_hash, sub) -> exact Jaccard verify on the
    candidate set only. `sub` is the occupancy-cap split
    (util.cap_bucket_occupancy): band buckets above _MH_BAND_CAP members
    re-split on a doc_id hash so a degenerate near-identical corpus costs
    ~occ*cap compares, never occ^2. The only shuffles in the whole job
    are the band join (16 rows/doc) and the candidate joins — at corpus
    scale that is the minimum possible data motion for LSH dedup.
    """
    docs = t(spark, sf_dir, "documents")
    # Per-doc int64 gram arrays; the verify step below intersects per-pair
    # arrays instead of re-joining an exploded shingle table (which fans
    # out one row per SHARED shingle — quadratic on near-identical docs).
    sh = cache_once(spark, ("mh_gram_hashes", sf_dir), lambda: gram_hashes(docs))
    # signature + banding expression trees are built INSIDE the cache
    # lambda: the 32 array_min folds are ~a thousand py4j expression
    # constructions, and building them on every call just to look up an
    # already-cached frame was pure driver overhead on the warm path
    def _bands():
        return minhash_band_rows(minhash_signatures(sh))
    # Cached: the cap's sizes subtree and the self-join both read bands;
    # without the cache the 32 signature folds would be computed twice.
    # Narrow rows (id + band + hash), so the cache is a few dozen bytes/doc.
    # The over-cap probe (an EAGER one-row job — see over_cap_sizes) is
    # additionally memoized per cached-bands key: the bands cache is
    # immutable for the application's lifetime, so re-running the probe
    # on every call paid one driver job per run for a constant answer.
    from .util import attach_sub, memo_once, over_cap_sizes

    bands_c = cache_once(spark, ("mh_bands", sf_dir), _bands)
    # Keyed like the bands cache itself (sf_dir, per-application), NOT a
    # content fingerprint, deliberately (ADVICE r16): the memo pins the
    # over-cap answer FOR THE CACHED BANDS FRAME — if the documents
    # table were rewritten mid-application, cache_once would serve the
    # same stale bands under this key anyway, so a fingerprint here
    # would only let the sizes diverge from the frame they split. The
    # whole mh_* family assumes fixtures are immutable for the
    # application's lifetime (the engine-wide cache_once convention); a
    # rewritten table needs a new session (or cache_once_clear +
    # memo_once_clear together, which the perturb gate already does).
    sizes = memo_once(
        spark,
        ("mh_band_capsizes", sf_dir),
        lambda: over_cap_sizes(bands_c, ["band", "bh"], _MH_BAND_CAP),
    )
    bands = attach_sub(bands_c, sizes, ["band", "bh"], "doc_id")
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "bh", "sub"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # Exact verification restricted to candidates: per-doc shingle-hash
    # sets (array_distinct — again no aggregation shuffle), one
    # array_intersect per candidate pair. Cached: the frame feeds BOTH
    # sides of the pair join, and uncached the corpus-wide
    # array_distinct pass would run once per reference.
    # (xxhash64 collisions across ~1e6 shingles: P ~ 1e-7 — negligible.)
    sets = cache_once(
        spark,
        ("mh_hsets", sf_dir),
        lambda: sh.select("doc_id", F.array_distinct("grams").alias("hset")),
    )
    common = F.size(F.array_intersect(F.col("x.hset"), F.col("y.hset")))
    na, nb = F.size(F.col("x.hset")), F.size(F.col("y.hset"))
    jac = common * 1.0 / (na + nb - common)
    return (
        cand.join(sets.alias("x"), F.col("doc_a") == F.col("x.doc_id"))
        .join(sets.alias("y"), F.col("doc_b") == F.col("y.doc_id"))
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 64-bit SimHash from word hashes.

    Bit j of the fingerprint is the sign of sum(+-1 over words, + where
    word-hash bit j is set). Computed entirely array-side: one aggregate
    fold over the per-doc word-hash array accumulating the 64 bit-sums —
    a pure projection with ZERO shuffles (vs the classic explode ->
    64-column groupBy, which shuffles every word row)."""
    docs = spread_small_input(docs, "doc_id")
    wh = F.transform(F.split("text", " "), lambda x: F.xxhash64(x))

    def contrib(h):
        return F.array(
            *[
                F.when(
                    F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                ).otherwise(F.lit(-1))
                for j in range(64)
            ]
        )

    bits = F.aggregate(
        wh,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(acc, contrib(h), lambda a, b: a + b),
    )
    # Stage the fold as its own column: the final select references it 64
    # times, and CollapseProject keeps a multiply-referenced non-trivial
    # alias materialized instead of inlining 64 copies of the fold.
    with_bits = docs.select("doc_id", bits.alias("bits"))
    return with_bits.select(
        "doc_id",
        # bit 63 as its negative two's-complement value: 1<<63 is not a
        # valid long literal, and summing bits 0..62 first keeps every
        # intermediate sum <= 2^63-1 (no ANSI overflow).
        sum(
            [
                F.when(
                    F.element_at(F.col("bits"), j + 1) > 0,
                    F.lit((1 << j) if j < 63 else -(1 << 63)).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
                for j in range(64)
            ],
            start=F.lit(0).cast("long"),
        ).alias("simhash"),
    )


@query("dedup_simhash")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (rows-only; tests/test_dedup.py).

    Pairs are banded by 4x16-bit chunks of the fingerprint (pigeonhole:
    hamming<=3 implies at least one equal chunk), then exact hamming
    distance via bit_count(xor) on the candidates only.
    """
    docs = t(spark, sf_dir, "documents")
    fp = simhash_fingerprints(docs)
    chunks = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("simhash"), 16 * c)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("ch"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("x"),
    ).select("doc_id", "simhash", "x.chunk", "x.ch")
    chunks = cap_bucket_occupancy(
        cache_once(spark, ("simhash_chunks", sf_dir), lambda: chunks),
        ["chunk", "ch"],
        "doc_id",
        _MH_BAND_CAP,
    )
    pairs = (
        chunks.alias("a")
        .join(chunks.alias("b"), ["chunk", "ch", "sub"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


def propagate_min_label(
    nodes: DataFrame, edges: DataFrame, max_iters: int = 15
) -> DataFrame:
    """Connected components by iterative min-label propagation, run to
    CONVERGENCE: (doc_id, label) x (doc_a, doc_b) -> (doc_id, label).

    Each round every node takes the min of its own label and its
    neighbors' labels (edges used in both directions); a round is one
    equi-join + one groupBy-min — all shuffles on doc_id. Rounds repeat
    until a round changes no label (labels propagate one hop per round,
    so the round count is the component diameter + 1); duplicate
    clusters are near-cliques (diameter 1-2), so convergence lands in
    2-3 rounds. A graph that is NOT converged after `max_iters` rounds
    has a large-diameter component (e.g. a path of documents each
    near-dup to the next, or a near-critical random similarity graph);
    instead of failing — or silently returning fragmented components —
    the loop ESCALATES to pointer doubling
    (propagate_min_label_doubling) seeded with the current labels, which
    finishes any remaining diameter D in O(log D) rounds. Escalation is
    sound because partial labels are a valid doubling seed: every label
    already points to a smaller node in the same component, which is the
    only invariant doubling needs. So the cheap per-round path handles
    the structurally-small diameters dedup graphs actually have, and the
    adversarial graph costs log rounds more instead of a dead job
    (found by SCALE_SWEEP r7: the random-gaussian embedding fixture
    builds a near-critical cosine graph with diameter > 15).
    Iterative algorithms are the one place the driver loops — each
    round is still a fully distributed plan, and the eager
    `localCheckpoint` both truncates lineage (the plan cannot grow
    superlinearly) and materializes the round so the convergence count
    never recomputes prior rounds.
    """
    both = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    labels = nodes
    for _ in range(max_iters):
        neighbor = (
            both.join(labels, both.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("label").alias("nlabel"))
        )
        stepped = (
            labels.join(neighbor, "doc_id", "left")
            .select(
                "doc_id",
                F.col("label").alias("_prev"),
                F.least(
                    F.col("label"), F.coalesce("nlabel", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        labels = stepped.select("doc_id", "label")
        # Converged when the round lowered no label. The scan is over the
        # checkpointed round (narrow int rows) and short-circuits via
        # limit(1); no prior round is recomputed.
        if stepped.filter(F.col("label") < F.col("_prev")).limit(1).isEmpty():
            return labels
    # Large-diameter component: escalate to the O(log D) path, seeded
    # with the partial labels (valid seed — see docstring).
    return propagate_min_label_doubling(labels, edges)


def propagate_min_label_doubling(
    nodes: DataFrame, edges: DataFrame, max_iters: int = 25
) -> DataFrame:
    """Connected components in O(log diameter) rounds: min-label
    propagation plus POINTER DOUBLING — the large-diameter scale path
    propagate_min_label escalates to when its round cap trips.

    Each round does (a) the same one-hop neighbor-min as
    propagate_min_label, then (b) a label-composition hop: every node
    also takes its label's OWN label (labels always point to a smaller
    node in the same component, so composing them is sound and roughly
    doubles the distance a minimum has travelled). A path graph of
    diameter d converges in ~log2(d) rounds instead of d — at max_iters
    = 25 that covers diameters beyond 2^20, i.e. any graph whose edge
    list fits in a cluster. Cost per round is one extra self-join on
    `label` versus the plain variant, so the near-clique duplicate
    graphs dedup actually produces (diameter 1-2) should keep using
    propagate_min_label; this variant is for adversarial/chain-heavy
    graphs (row-version lineages, citation chains, web mirrors).

    Same contract as propagate_min_label: fully distributed rounds, an
    eager localCheckpoint truncating lineage per round, convergence
    detected by a zero-changes round, RuntimeError past the cap.
    """
    both = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    labels = nodes
    for _ in range(max_iters):
        neighbor = (
            both.join(labels, both.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("label").alias("nlabel"))
        )
        hop = labels.join(neighbor, "doc_id", "left").select(
            "doc_id",
            F.col("label").alias("_prev"),
            F.least(F.col("label"), F.coalesce("nlabel", F.col("label"))).alias(
                "label"
            ),
        )
        # Pointer doubling: attach label(label). The right side is the
        # same round's (doc_id -> label) map re-keyed by doc_id = our
        # label; a missing entry (label outside `nodes`, impossible by
        # construction) falls back to the current label.
        lmap = hop.select(
            F.col("doc_id").alias("label"), F.col("label").alias("_ll")
        )
        stepped = (
            hop.join(lmap, "label", "left")
            .select(
                "doc_id",
                "_prev",
                F.least(F.col("label"), F.coalesce("_ll", F.col("label"))).alias(
                    "label"
                ),
            )
            .localCheckpoint(eager=True)
        )
        labels = stepped.select("doc_id", "label")
        if stepped.filter(F.col("label") < F.col("_prev")).limit(1).isEmpty():
            return labels
    raise RuntimeError(
        f"propagate_min_label_doubling did not converge within {max_iters} "
        "rounds — at O(log diameter) rounds this indicates a component of "
        f"diameter ~2^{max_iters}, which no physical edge list reaches; "
        "check the edge set for corruption."
    )


_CLUSTERS_ORACLE = """
    WITH RECURSIVE words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1]
                                 || ' ' || w[CAST(i AS INT) + 2] AS s
        FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT doc_a, doc_b FROM pairs
        JOIN sz x ON doc_a = x.doc_id
        JOIN sz y ON doc_b = y.doc_id
        WHERE common * 1.0 / (x.n + y.n - common) >= 0.5
    ),
    und AS (
        SELECT doc_a AS src, doc_b AS dst FROM edges
        UNION ALL
        SELECT doc_b, doc_a FROM edges
    ),
    reach(doc_id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.r FROM reach r JOIN und e ON e.src = r.doc_id
    ),
    labels AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id)
    SELECT doc_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
               AS cluster_size
    FROM labels
"""


@query("dedup_clusters", oracle=_CLUSTERS_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: MinHash-LSH near-dup pairs become
    edges; min-label propagation gives every document a canonical
    cluster_id (the smallest doc_id in its component); singleton docs are
    their own cluster. Output: (doc_id, cluster_id, cluster_size).

    Oracled via a DuckDB recursive CTE over the EXACT Jaccard >= 0.5 edge
    set (word-3-grams, the same grams MinHash banding approximates): the
    engine's LSH edge set equals the exact edge set on the test fixtures
    (verified both sf0.001 and sf0.01 — banding at 16x2 catches j >= 0.5
    pairs with p ~ 0.99 each, and the fixtures' near-dup pairs all sit
    well above the threshold), so the component structure matches
    deterministically. Cluster/cover invariants (label = component min,
    sizes partition the corpus) are ALSO property-tested in
    tests/test_dedup.py, independent of the fixture."""
    docs = t(spark, sf_dir, "documents").select("doc_id")
    edges = cache_once(
        spark,
        ("mh_edges", sf_dir),
        lambda: dedup_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b"),
    )
    # Iterate ONLY over nodes that touch an edge: in a deduplicated
    # corpus the overwhelming majority of documents are singletons, and
    # each propagation round over the full corpus would shuffle every
    # doc_id five times to conclude nothing changed. Edge-participant
    # nodes are |E|-bounded (tiny next to |V|); singletons join back at
    # the end as their own label with zero iterations.
    members = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .unionByName(edges.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    nodes = members.select("doc_id", F.col("doc_id").alias("label"))
    linked = propagate_min_label(nodes, edges)
    # Pin the join strategy explicitly — without a hint Catalyst's size
    # estimate for the localCheckpoint subtree flips broadcast<->SMJ
    # depending on whether the cache_once("mh_edges") subtree is already
    # materialized (VERDICT r6: warm-captured PLANS.md budget busted
    # from a cold session). hint_label_map keeps the plan deterministic
    # while staying size-safe: broadcast under a measured row gate,
    # shuffle_hash above it — an UNCONDITIONAL broadcast would OOM on a
    # duplicate-heavy corpus where the label map is O(|V|) (ADVICE r7).
    # The |V|-bounded `sizes` join stays sort-merge: one row per cluster
    # label can approach one row per document, which must never be
    # broadcast.
    labels = docs.join(hint_label_map(linked), "doc_id", "left").select(
        "doc_id", F.coalesce("label", "doc_id").alias("label")
    )
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(sizes, "label")
        .select("doc_id", F.col("label").alias("cluster_id"), "cluster_size")
    )


@query("dedup_clusters_doubling", oracle=_CLUSTERS_ORACLE)
def dedup_clusters_doubling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_clusters computed through the pointer-doubling variant —
    identical output contract and oracle (components are components),
    exercising the O(log diameter) path end-to-end against the same
    DuckDB recursive-CTE ground truth. At 100 TB choose per graph
    family: near-clique dup graphs -> plain propagation (cheaper
    rounds); chain-heavy graphs -> this."""
    docs = t(spark, sf_dir, "documents").select("doc_id")
    edges = cache_once(
        spark,
        ("mh_edges", sf_dir),
        lambda: dedup_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b"),
    )
    members = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .unionByName(edges.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    nodes = members.select("doc_id", F.col("doc_id").alias("label"))
    linked = propagate_min_label_doubling(nodes, edges)
    # Same deterministic-plan pin as dedup_clusters: size-gated
    # broadcast of the label map, |V|-bounded sizes join stays SMJ.
    labels = docs.join(hint_label_map(linked), "doc_id", "left").select(
        "doc_id", F.coalesce("label", "doc_id").alias("label")
    )
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(sizes, "label")
        .select("doc_id", F.col("label").alias("cluster_id"), "cluster_size")
    )


# Repeated-span detection: minimum span width in tokens (the k-gram
# width). A maximal run of consecutive cross-document-repeated k-grams
# [p1..p2] is reported as the token span [p1, p2+k-1] — the substring
# granularity between chunk-level (doc_boilerplate_chunks) and doc-level
# dedup.
_SPAN_K = 8


@query(
    "dedup_repeated_spans",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               array_to_string(
                   w[CAST(i AS INT) : CAST(i AS INT) + {_SPAN_K - 1}], ' '
               ) AS g
        FROM words, UNNEST(range(1, len(w) - {_SPAN_K - 2})) AS t(i)
    ),
    rep AS (
        SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2
    ),
    hits AS (SELECT doc_id, pos FROM grams JOIN rep USING (g)),
    isl AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS grp
        FROM hits
    )
    SELECT doc_id,
           CAST(min(pos) AS BIGINT)                  AS span_start,
           CAST(max(pos) + {_SPAN_K - 1} AS BIGINT)  AS span_end,
           CAST(max(pos) - min(pos) + {_SPAN_K} AS BIGINT) AS span_tokens,
           CAST(count(*) AS BIGINT)                  AS n_grams
    FROM isl GROUP BY doc_id, grp
    """,
)
def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (VERDICT r5 item 2): maximal
    cross-document repeated spans of >= _SPAN_K tokens, per document,
    with 1-based token coordinates — the granularity between chunk-level
    boilerplate detection and whole-document dedup; the output is the
    cut-list a repeated-span remover consumes.

    Method: every token position emits its forward word-{_SPAN_K}-gram;
    a gram occurring in >= 2 DISTINCT documents is "repeated"; within a
    document, maximal runs of consecutive repeated positions merge into
    islands (gaps-and-islands: pos - row_number is constant per run), and
    an island [p1..p2] covers tokens [p1, p2 + k - 1]. A true shared
    span of L >= k tokens makes all of its L - k + 1 gram positions
    repeated, so it surfaces as exactly one island of exactly L tokens
    (pinned in tests/test_dedup.py on planted spans).

    Scale shape: tokens become ROWS (posexplode) and each word is
    hashed exactly once; the k-gram hash is then xxhash64 over the
    token hash plus k-1 lead()s in a per-doc window — NOT the in-row
    element_at(transform(...)) pattern, which inlines the whole
    word-hash array k times per position and blows generated-code size
    past what Janino compiles cheaply (measured 20s+ of compile per
    stage at k=8 vs 2s end-to-end for this shape; the 5-gram
    decontaminate query sits under that cliff). Grams travel as 8-byte
    ints, never k-word strings. Keyed shuffles: doc_id (gram window),
    gram hash (distinct-doc count), gram hash (hit join), doc_id
    (island aggregate); every window partitions by doc_id — never
    global. Common-gram fan-out is bounded by the HAVING >= 2 filter
    happening BEFORE the join back, and at 100 TB the rep-gram table
    is the (vocabulary-sized) hot set while positions stream past it.
    Oracle joins on the gram STRING while Spark joins on xxhash64 —
    identical semantics up to int64 hash collisions (P ~ 1e-7
    corpus-wide, same argument as decontaminate_ngram_overlap)."""
    docs = spread_small_input(t(spark, sf_dir, "documents"), "doc_id")
    return repeated_spans_frame(docs)


def repeated_spans_frame(docs: DataFrame) -> DataFrame:
    """Core of dedup_repeated_spans over an arbitrary documents frame —
    shared with dedup_remove_spans so span detection and span removal
    can never disagree about coordinates."""
    from pyspark.sql import Window as W

    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p0", "word")
    ).select(
        "doc_id",
        (F.col("p0") + 1).cast("long").alias("pos"),
        F.xxhash64("word").alias("h"),
    )
    wspec = W.partitionBy("doc_id").orderBy("pos")
    gh = F.xxhash64(
        *([F.col("h")] + [F.lead("h", j).over(wspec) for j in range(1, _SPAN_K)])
    )
    grams = (
        toks.select(
            "doc_id",
            "pos",
            gh.alias("gh"),
            F.lead("h", _SPAN_K - 1).over(wspec).alias("tail"),
        )
        .filter(F.col("tail").isNotNull())  # only full k-token windows
        .select("doc_id", "pos", "gh")
    )
    rep = (
        grams.groupBy("gh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh")
    )
    hits = grams.join(rep, "gh").select("doc_id", "pos")
    rn = F.row_number().over(W.partitionBy("doc_id").orderBy("pos"))
    isl = hits.select("doc_id", "pos", (F.col("pos") - rn).alias("grp"))
    return isl.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + (_SPAN_K - 1)).alias("span_end"),
        (F.max("pos") - F.min("pos") + _SPAN_K).alias("span_tokens"),
        F.count(F.lit(1)).alias("n_grams"),
    ).drop("grp")


# ---------------------------------------------------------------------------
# Persistent MinHash index (VERDICT r5 item 1): a real crawl pipeline
# dedups each NEW batch against the accumulated corpus without
# recomputing old signatures. The index is two append-only tables under
# one root — `{root}/sigs` (doc_id, m0..m31) for verification and
# `{root}/bands` (doc_id, band, bh) for candidate generation — each
# growing one atomic `epoch=<lineage>-<id>` partition per ingested
# batch (sinks.commit_epoch_partition). Batch build below; streaming
# maintenance in streaming/ingest_stream.maintain_minhash_index.
# ---------------------------------------------------------------------------

# Signature-agreement threshold for index-only verification: the
# fraction of agreeing minhash components is an unbiased estimator of
# Jaccard similarity, so >= 0.5 matches dedup_minhash_pairs' exact
# threshold in expectation (sigma ~ sqrt(0.25/32) ~ 0.09 at the
# boundary). The point of the index is answering WITHOUT re-reading
# corpus text; a pipeline wanting exact boundaries re-verifies the
# (tiny) hit list against stored text afterwards.
_MH_INDEX_EST_THRESHOLD = 0.5


def minhash_index_rows(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(sigs, bands) frames for one batch of documents — the index's
    unit of growth. Signatures are the zero-shuffle array_min folds of
    gram_hashes; bands the shared LSH banding (minhash_band_rows)."""
    sig = minhash_signatures(gram_hashes(docs.select("doc_id", "text")))
    return sig, minhash_band_rows(sig)


def build_minhash_index(
    spark: SparkSession, docs: DataFrame, index_root: str,
    lineage: str = "batch", epoch_id: int = 0,
) -> None:
    """One-shot (re)build of the persistent MinHash index from a corpus
    DataFrame: computes signatures + band rows and commits them as one
    epoch partition each. The streaming maintainer calls the same
    commit per micro-batch, so a batch-built index and a stream-built
    index are byte-compatible readers of each other."""
    from ..sinks import commit_epoch_partition

    sig, bands = minhash_index_rows(docs)
    commit_epoch_partition(spark, sig, f"{index_root}/sigs", lineage, epoch_id)
    commit_epoch_partition(spark, bands, f"{index_root}/bands", lineage, epoch_id)


def purge_minhash_index(
    spark: SparkSession, index_root: str, keys: DataFrame, key: str = "doc_id"
) -> int:
    """Right-to-be-forgotten delete against the persisted MinHash index
    (VERDICT r15 item 1): remove every signature and band row whose
    doc_id appears in `keys` from both index tables, rewriting only the
    affected epoch partitions under their own names
    (sinks.purge_epoch_partitions — epoch identity, replay detection,
    and lineage checks are untouched). After the purge,
    dedup_against_index can never emit a purged id as index_doc: both
    candidate generation (bands) and verification (sigs) read the
    purged tables. Returns total rows removed across the two tables;
    idempotent and crash-convergent per the primitive's contract."""
    from ..sinks import purge_epoch_partitions

    removed = 0
    for sub in ("sigs", "bands"):
        removed += purge_epoch_partitions(
            spark, f"{index_root}/{sub}", keys, key
        )
    return removed


def dedup_against_index(
    spark: SparkSession,
    new_docs: DataFrame,
    index_root: str,
    threshold: float = _MH_INDEX_EST_THRESHOLD,
    batch_fingerprint: str | None = None,
) -> DataFrame:
    """Near-dup hits of a NEW batch against the persisted index:
    (new_doc, index_doc, est_jaccard) for every stored document whose
    estimated Jaccard with a batch document is >= threshold.

    Batch-1 work is never redone: candidate generation equi-joins the
    batch's 16 band rows/doc against the STORED band table, and
    verification joins the candidate pairs to the STORED signature
    table — corpus text is neither read nor re-hashed (est_jaccard is
    the per-component signature agreement fraction, the standard
    unbiased MinHash estimator). Self-pairs (a doc already indexed
    deduping against its own entry on replay/overlap) are dropped by
    doc_id inequality — which assumes doc_ids are globally unique
    across the corpus and every batch (the crawl-pipeline norm); an id
    REUSED for different content would silently suppress its own true
    matches.

    Scale shape: two keyed shuffles against the index (band join on
    (band, bh), signature join on doc_id); the batch side is small by
    definition and broadcasts under AQE. At warehouse scale the bands
    table is bucketed on bh so the candidate join co-locates; a
    degenerate hot bucket (corpus-wide boilerplate) is bounded
    upstream, where the pipeline drops exact-duplicate and boilerplate
    docs before indexing (dedup_exact / doc_boilerplate_chunks).

    batch_fingerprint: the batch signature frame feeds BOTH the band
    join and the verification join — without a cache the plan re-hashes
    the batch text once per reference (measured: the duplicate
    signature subtree was ~80% of the warm query at sf0.1). Callers
    with a stable batch pass a fingerprint that IDENTIFIES THE BATCH
    CONTENT (e.g. the source table's content hash, as the registered
    query does); the cache key is derived from it internally (ADVICE
    r10: a caller-assembled key reused with a DIFFERENT batch silently
    served stale signatures — deriving from the content fingerprint
    makes key/batch divergence the one misuse left, and pins it to a
    single documented argument). Pass None (the default) when the
    batch is not content-addressed — signatures are then recomputed
    per call, which is always correct."""
    if batch_fingerprint is not None:
        sig_new = cache_once(
            spark,
            ("mh_batch_sigs", batch_fingerprint),
            lambda: minhash_signatures(
                gram_hashes(new_docs.select("doc_id", "text"))
            ),
        )
        # banding the cached signatures is deterministic, so the banded
        # frame shares the signature cache's key and lifecycle — the
        # per-call 16-struct banding expression build (dozens of py4j
        # round trips) runs once per batch, not per query call (r17,
        # same driver-overhead class as the r16 minhash build fix)
        bands_new = cache_once(
            spark,
            ("mh_batch_bands", batch_fingerprint),
            lambda: minhash_band_rows(sig_new),
        )
    else:
        sig_new, bands_new = minhash_index_rows(new_docs)
    # converge any crashed purge swap before reading (a parked
    # partition with its live dir missing would silently shrink the
    # index for this query)
    from ..sinks import purge_recover
    from ..sources import _table_fingerprint
    from .util import memo_once

    purge_recover(spark, f"{index_root}/bands")
    purge_recover(spark, f"{index_root}/sigs")
    # the stored-table READS (directory listing + schema resolution,
    # ~150-300 ms of driver py4j work per call) are memoized on the
    # tables' content fingerprints — names+sizes+mtimes, the same walk
    # the artifact layer does — so a warm serve call reuses the plan
    # handles while an in-session purge rewrite (which changes the
    # partition files) fingerprints differently and re-reads (r17,
    # guide §1.2 driver overhead; purge staleness pinned in
    # tests/test_purge_index.py)
    fp_b = _table_fingerprint(f"{index_root}/bands", spark)
    fp_s = _table_fingerprint(f"{index_root}/sigs", spark)
    stored_bands, stored_sigs = memo_once(
        spark,
        ("mh_index_table_plans", index_root, fp_b, fp_s),
        lambda: (
            spark.read.parquet(f"{index_root}/bands").select(
                "doc_id", "band", "bh"
            ),
            spark.read.parquet(f"{index_root}/sigs").drop("epoch"),
        ),
    )
    cand = (
        bands_new.alias("n")
        .join(stored_bands.alias("s"), ["band", "bh"])
        .filter(F.col("n.doc_id") != F.col("s.doc_id"))
        .select(
            F.col("n.doc_id").alias("new_doc"),
            F.col("s.doc_id").alias("index_doc"),
        )
        .distinct()
    )
    agree = sum(
        [
            F.when(F.col(f"x.m{i}") == F.col(f"y.m{i}"), 1).otherwise(0)
            for i in range(_MH_K)
        ],
        start=F.lit(0),
    )
    est = agree * 1.0 / _MH_K
    return (
        cand.join(sig_new.alias("x"), F.col("new_doc") == F.col("x.doc_id"))
        .join(stored_sigs.alias("y"), F.col("index_doc") == F.col("y.doc_id"))
        .filter(est >= threshold)
        .select("new_doc", "index_doc", F.round(est, 4).alias("est_jaccard"))
    )


@query("dedup_incremental_index")
def dedup_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-corpus dedup, end to end (rows-only: signature
    arithmetic is not SQL-expressible — recall and replay safety are
    pinned in tests/test_dedup.py and tests/test_streaming.py): the
    deterministic md5 split plays time — 'corpus' (buckets >= '1a',
    ~90%) was ingested earlier and indexed; the 'new batch' (buckets
    < '1a', ~10%) arrives now and dedups against the persisted index
    alone. Returns (new_doc, index_doc, est_jaccard) hits.

    The index lands in a content-addressed warehouse artifact dir
    (util.persisted_artifact — crash-safe publish, cross-session
    reuse, superseded-fingerprint pruning), so a rewritten fixture
    rebuilds instead of serving stale signatures and a restarted
    session reuses the built index instead of rebuilding."""
    from .sampling import _TEST_LT, _split_bucket
    from ..sources import _table_fingerprint, table_path
    from .util import persisted_artifact

    docs = t(spark, sf_dir, "documents")
    is_new = _split_bucket() < _TEST_LT
    fp = _table_fingerprint(table_path(sf_dir, "documents"), spark)
    root = persisted_artifact(
        spark,
        "mh_index",
        sf_dir,
        fp,
        lambda tmp: build_minhash_index(spark, docs.filter(~is_new), tmp),
    )
    # fp is the documents table's content hash, so the derived signature
    # cache key changes whenever the batch content does (sf_dir is
    # folded into fp already via the table path's content)
    return dedup_against_index(
        spark,
        docs.filter(is_new),
        root,
        batch_fingerprint=f"{sf_dir}:{fp}",
    )


@query(
    "dedup_remove_spans",
    oracle=f"""
    WITH words0 AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               array_to_string(
                   w[CAST(i AS INT) : CAST(i AS INT) + {_SPAN_K - 1}], ' '
               ) AS g
        FROM words0, UNNEST(range(1, len(w) - {_SPAN_K - 2})) AS t(i)
    ),
    rep AS (
        SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2
    ),
    hits AS (SELECT doc_id, pos FROM grams JOIN rep USING (g)),
    isl AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS grp
        FROM hits
    ),
    spans AS (
        SELECT doc_id, min(pos) AS s, max(pos) + {_SPAN_K - 1} AS e
        FROM isl GROUP BY doc_id, grp
    ),
    words AS (
        SELECT doc_id, CAST(i AS BIGINT) AS i, w[CAST(i AS INT)] AS wd
        FROM words0, UNNEST(range(1, len(w) + 1)) AS t(i)
    ),
    removed AS (
        SELECT DISTINCT w.doc_id, w.i
        FROM words w JOIN spans s
          ON w.doc_id = s.doc_id AND w.i BETWEEN s.s AND s.e
    )
    SELECT w.doc_id,
           CAST(count(*) AS BIGINT)  AS n_tokens,
           CAST(count(r.i) AS BIGINT) AS n_removed,
           coalesce(string_agg(CASE WHEN r.i IS NULL THEN w.wd END,
                               ' ' ORDER BY w.i), '') AS clean_text
    FROM words w LEFT JOIN removed r
      ON w.doc_id = r.doc_id AND w.i = r.i
    GROUP BY w.doc_id
    """,
)
def dedup_remove_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the repeated-span cut-list (the consumer side of
    dedup_repeated_spans): every token covered by any cross-document
    repeated span is dropped, and each document comes back as
    (doc_id, n_tokens, n_removed, clean_text) — detect -> remove is the
    full substring-dedup pipeline a crawl cleaner runs. Documents with
    no repeated spans pass through untouched (n_removed = 0); a fully
    covered document yields clean_text = ''.

    Scale shape: spans come from the shared repeated_spans_frame (same
    plan as the detection query); the per-doc interval list attaches
    with one doc_id-keyed join (span lists are tiny — islands per doc,
    not tokens), and removal is IN-ROW: a filter over the word-index
    sequence tests each position against the collected intervals
    (O(n_tokens x n_spans) per doc, no token-level join, no range-join
    explosion), then one concat_ws rebuilds the text. The oracle does
    the equivalent with a positions x spans BETWEEN join — fine for
    DuckDB at fixture scale, exactly the shape the Spark side avoids."""
    docs = spread_small_input(t(spark, sf_dir, "documents"), "doc_id")
    spans = repeated_spans_frame(docs)
    iv = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("iv")
    )
    w = F.split("text", " ")
    empty_iv = F.array().cast(
        "array<struct<span_start:bigint,span_end:bigint>>"
    )
    staged = docs.join(iv, "doc_id", "left").select(
        "doc_id",
        w.alias("w"),
        F.coalesce(F.col("iv"), empty_iv).alias("iv"),
    )
    kept = F.filter(
        seq1(F.size("w")),
        lambda i: ~F.exists(
            F.col("iv"),
            lambda s: (i >= s.span_start) & (i <= s.span_end),
        ),
    )
    staged2 = staged.select("doc_id", "w", kept.alias("kept"))
    return staged2.select(
        "doc_id",
        F.size("w").cast("long").alias("n_tokens"),
        (F.size("w") - F.size("kept")).cast("long").alias("n_removed"),
        F.concat_ws(
            " ", F.transform("kept", lambda i: F.element_at(F.col("w"), i))
        ).alias("clean_text"),
    )


@query(
    "dedup_cluster_stats",
    oracle=_CLUSTERS_ORACLE.replace(
        """    SELECT doc_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
               AS cluster_size
    FROM labels""",
        """    , sizes AS (
        SELECT cluster_id, count(*) AS cluster_size
        FROM labels GROUP BY cluster_id
    )
    SELECT CAST(cluster_size AS BIGINT)      AS cluster_size,
           CAST(count(*) AS BIGINT)          AS n_clusters,
           CAST(sum(cluster_size) AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size""",
    ),
)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution — the dedup observability
    report (how much of the corpus is singletons vs small clusters vs
    mass-duplicated blobs, and how many documents a keep-one-per-cluster
    pass would drop): one row per cluster size with the cluster count
    and total documents at that size. Derived from the same component
    labels as dedup_clusters (shared min-label propagation + cached
    edge set), aggregated twice: label -> size, size -> histogram.
    Oracled via the same recursive-CTE ground truth.

    Scale shape: two shuffles past the cluster labeling (cluster_id
    count, size histogram), both map-side combined; output is bounded
    by the number of DISTINCT cluster sizes — dozens of rows at any
    corpus scale."""
    labels = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
    )


def _edges_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup edge set as a persisted parquet artifact.

    Built once per corpus fingerprint into a content-addressed
    warehouse artifact dir (util.persisted_artifact — crash-safe
    publish, cross-session reuse, superseded-fingerprint pruning) and
    scanned by consumers that reference the edges more than once —
    re-planning the whole LSH subtree per reference inflates plans
    and, uncached, would recompute it. A regenerated documents table
    changes the fingerprint and misses instead of serving stale
    edges."""
    import os

    from ..sources import _table_fingerprint
    from .util import persisted_artifact

    fp = _table_fingerprint(os.path.join(sf_dir, "documents.parquet"), spark)
    root = persisted_artifact(
        spark,
        "mh_edges",
        sf_dir,
        fp,
        lambda tmp: (
            dedup_minhash_pairs(spark, sf_dir)
            .select("doc_a", "doc_b")
            .write.mode("overwrite")
            .parquet(tmp)
        ),
    )
    return spark.read.parquet(root)


_TRIANGLE_ORACLE = """
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1]
                                 || ' ' || w[CAST(i AS INT) + 2] AS s
        FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT doc_a, doc_b FROM pairs
        JOIN sz x ON doc_a = x.doc_id
        JOIN sz y ON doc_b = y.doc_id
        WHERE common * 1.0 / (x.n + y.n - common) >= 0.5
    )
    SELECT e1.doc_a AS doc_a, e1.doc_b AS doc_b, e2.doc_b AS doc_c
    FROM edges e1
    JOIN edges e2 ON e1.doc_b = e2.doc_a
    JOIN edges e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
"""


@query("dedup_triangle_count", oracle=_TRIANGLE_ORACLE)
def dedup_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration over the near-duplicate graph — the graph
    quality metric behind duplicate-cluster density (a clique-heavy dup
    graph means mass duplication and safe aggressive dropping; a
    triangle-free one means chains of borderline pairs where
    keep-one-per-cluster loses content). Output: one row per triangle
    (doc_a < doc_b < doc_c).

    Algorithm: with every edge oriented low->high id, a triangle
    {a<b<c} appears EXACTLY once as edges (a,b), (b,c), (a,c) — two
    equi-joins, no dedup pass, no direction explosion. The id ordering
    is the standard degree-ordering surrogate: each wedge (a,b)x(b,c)
    is generated once, then confirmed by the closing-edge hash join.

    Scale shape: |E| is the LSH output (occupancy-capped, near-linear
    in corpus size); wedges are sum-of-squares of VERTEX degrees in
    the dup graph — bounded because near-dup cluster sizes are bounded
    by the banding threshold, and a pathological hub would already
    have blown up the LSH pair stage, not this one. Both joins shuffle
    on a single id column; the edge set is |E|-bounded so at any SF
    the whole stage is dwarfed by the LSH pass that produced it.

    Oracled against the exact Jaccard >= 0.5 edge set (same
    LSH-equals-exact fixture argument as dedup_clusters).

    Plan shape (r9, VERDICT r8 item 6): the edge set is MATERIALIZED
    once to a parquet artifact (memo_once keyed on the documents-table
    fingerprint — the embed_ann_pq_indexed build/query split) and the
    three self-join branches scan that table. The previous form read
    the cache_once("mh_edges") plan handle three times, which printed
    the full un-materialized LSH subtree per branch — 49 cold-plan
    exchanges for what is at runtime one subtree + two joins. Now the
    cold plan IS the runtime motion: three bounded scans + the wedge
    join on b + the closing-edge join on (a, c). At 100 TB this split
    is also the right architecture — the LSH edge table is an expensive
    shared artifact (clusters, sizes, triangles all consume it), built
    once per corpus version, not once per downstream query."""
    edges = _edges_parquet(spark, sf_dir)
    e1 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = edges.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    e3 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    return (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            F.col("c").alias("doc_c"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_pagerank — fixed-point integer PageRank over the dup graph
# ---------------------------------------------------------------------------

_PR_Q = 10**9  # initial rank per node, parts-per-billion units
_PR_ITERS = 5

_PR_STEP = """
    p{next} AS (
        SELECT n.doc_id,
               CAST(150000000 + (85 * COALESCE(s.insum, 0)) // 100
                    AS BIGINT) AS r
        FROM nodes n
        LEFT JOIN (
            SELECT o.dst AS doc_id, CAST(sum(p.r // o.deg) AS BIGINT) AS insum
            FROM outdeg o JOIN p{cur} p ON o.src = p.doc_id
            GROUP BY o.dst
        ) s USING (doc_id)
    )"""

_PR_ORACLE_HEAD = """
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1]
                                 || ' ' || w[CAST(i AS INT) + 2] AS s
        FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT doc_a, doc_b FROM pairs
        JOIN sz x ON doc_a = x.doc_id
        JOIN sz y ON doc_b = y.doc_id
        WHERE common * 1.0 / (x.n + y.n - common) >= 0.5
    ),
    sym AS (
        SELECT doc_a AS src, doc_b AS dst FROM edges
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM edges
    ),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY src),
    outdeg AS (SELECT s.src, s.dst, d.deg FROM sym s JOIN deg d USING (src)),
    nodes AS (SELECT doc_id FROM documents),
    p0 AS (SELECT doc_id, CAST(1000000000 AS BIGINT) AS r FROM nodes),"""

_PR_ORACLE_TAIL = """
    SELECT n.doc_id,
           CAST(COALESCE(d.deg, 0) AS BIGINT) AS degree,
           p.r AS rank_ppb
    FROM nodes n
    JOIN p{last} p USING (doc_id)
    LEFT JOIN deg d ON d.src = n.doc_id"""

_PR_ORACLE = (
    _PR_ORACLE_HEAD
    + ",".join(
        _PR_STEP.replace("{next}", str(i + 1)).replace("{cur}", str(i))
        for i in range(_PR_ITERS)
    )
    + _PR_ORACLE_TAIL.replace("{last}", str(_PR_ITERS))
)


@query("dedup_pagerank", oracle=_PR_ORACLE)
def dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the near-duplicate graph — the
    which-document-is-the-canonical-hub signal: in a dup cluster the
    highest-rank member is the one most connected to everything else
    (template pages, boilerplate roots), a better keep-one survivor
    prior than longest-doc when clusters mix quality tiers, and a
    triage key for cleanup (fixing the top-rank source kills the most
    duplication). Complements dedup_clusters (membership) and
    dedup_triangle_count (density) with per-NODE importance.

    FIXED-POINT INTEGER power iteration (the exact-core discipline
    applied to an iterative algorithm): ranks live in bigint
    parts-per-billion units, each of the 5 unrolled iterations computes
    r' = 15% * Q + 85% * sum over in-neighbors of (r div degree)
    entirely in integer arithmetic (div truncates identically in both
    engines; bigint sums are tie-order invariant), so after ANY number
    of iterations every rank is bit-exact on every host/partitioning —
    a float PageRank would amplify ulp wobble iteration over iteration
    and could never be hash-oracled. Mass flooring/dangling loss is
    deliberate: this is a centrality RANKING, not a probability
    distribution; the ordering is what consumers use. Overflow
    headroom: 85 * (n * Q) must stay under 2^63 -> n < 1e8 nodes at
    Q = 1e9; at larger graphs drop Q to 1e6 (units are arbitrary).

    Scale shape: the symmetric edge list and degree table derive from
    the persisted edge artifact (one LSH pass per corpus version,
    _edges_parquet); each iteration is one equi-join on src + one
    map-side-combined sum on dst + one left join back to the bounded
    node table — the propagate_min_label shuffle class, k=5 rounds.
    Oracled against the exact-Jaccard edge set with the iterations
    unrolled as chained CTEs (same integer ops), so the driver
    hash-checks all five rounds end to end."""
    edges = _edges_parquet(spark, sf_dir)
    sym = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(
        edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    # cached: deg feeds every iteration's outdeg join AND the final
    # degree column — uncached, each of the 5 unrolled iterations
    # re-derived the degree aggregate from the edge scan (the plan
    # carried the union+agg subtree once per iteration). Both frames
    # are edge/node sized and static for the application's lifetime
    # (they derive from the persisted edge artifact).
    deg = cache_once(
        spark,
        ("pr_deg", sf_dir),
        lambda: sym.groupBy("src").agg(
            F.count(F.lit(1)).cast("long").alias("deg")
        ),
    )
    outdeg = cache_once(
        spark, ("pr_outdeg", sf_dir), lambda: sym.join(deg, "src")
    )
    docs = t(spark, sf_dir, "documents").select("doc_id")
    r = docs.select("doc_id", F.lit(_PR_Q).cast("long").alias("r"))
    for _ in range(_PR_ITERS):
        insum = (
            outdeg.join(r, outdeg.src == r.doc_id)
            .select("dst", F.expr("r div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("insum"))
        )
        r = docs.join(insum, docs.doc_id == insum.dst, "left").select(
            "doc_id",
            (
                F.lit(15 * _PR_Q // 100).cast("long")
                + F.expr("(85 * coalesce(insum, 0)) div 100")
            ).alias("r"),
        )
    return (
        docs.join(r, "doc_id")
        .join(deg, docs.doc_id == deg.src, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("deg"), F.lit(0)).cast("long").alias("degree"),
            F.col("r").alias("rank_ppb"),
        )
    )
