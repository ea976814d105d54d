"""Deduplication operators — exact and near-duplicate, 100 TB-shaped.

The reference's only dedup is the anti-join vs destination keys
(manutencao.py:12-62, operator J3 in joins.py). A training-data pipeline
needs document-level dedup; this module adds:

- exact dedup (hash-groupBy): one shuffle on a 32-hex key.
- MinHash signatures + LSH banding: shingle → minhash → band → bucket
  self-join. Candidate generation touches only bucket-colliding pairs,
  never the full cross product — the standard way near-dup scales.
- SimHash (64→60-bit here to stay in signed BIGINT): per-token hash bit
  votes, Hamming-style similarity downstream.
- n-gram Jaccard verification for candidate pairs.

Hash choice: md5 (standardized, identical across Spark/DuckDB/anything),
so every stage is oracle-verifiable. MinHash needs only a uniformly
distributed *totally ordered* hash — the md5 hex string itself serves,
no hex→int conversion anywhere.

All array work uses higher-order functions (transform/filter/aggregate):
JVM-side, codegen-able, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import words
from ..query_scope import scoped_persist
from ..tables import fan_out_small_scan


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the min-id representative per exact text hash.

    groupBy on md5(text): map-side partial agg, single shuffle keyed by a
    uniform 128-bit hash — no skew even when one document dominates.
    """
    h = F.md5(F.col(text_col))
    return (
        df.withColumn("content_hash", h)
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def word_shingles(text: Column, k: int = 3) -> Column:
    """k-word shingles as strings; docs shorter than k words → empty array.

    Built as ``arrays_zip`` of k shifted slices, NOT element_at inside a
    transform lambda: common-subexpression elimination does not reach
    into higher-order-function lambdas, so the lambda form re-evaluates
    the regex word split once per element per position (~150×/doc) —
    this form references the words array exactly k times per row (~9×
    faster measured at sf0.1).
    """
    w = words(text)
    m = F.size(w) - (k - 1)  # number of shingles; <= 0 when doc too short
    zipped = F.arrays_zip(*[F.slice(w, j + 1, F.greatest(m, F.lit(0))) for j in range(k)])
    return F.transform(zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(k)]))


def hashed_shingle_set(text) -> "Column":
    """Distinct xxhash64-hashed word shingles of ``text`` — the exact-
    Jaccard set representation (hashes instead of strings: cheaper set
    ops, same set SIZES assuming no within-doc collisions). ONE owner
    for the three exact-Jaccard consumers (estimate-error QA, the
    recall sample, the band-tuning table) so the truth representation
    cannot drift between them (third r5 review)."""
    return F.array_distinct(
        F.transform(word_shingles(text), lambda s: F.xxhash64(s))
    )


def minhash_signature(text: Column, num_hashes: int = 8, k: int = 3) -> Column:
    """MinHash signature: per seed j, min over shingles of md5(j ':' shingle).

    The md5 hex string is the hash value — min() is lexicographic, which is
    a valid total order over a uniform hash. Empty shingle sets get the
    sentinel 'z'*32 (sorts after every hex digest).
    """
    sh = word_shingles(text, k)
    # ONE traversal of the shingle array accumulating all seed-minima in
    # a struct (2.5× faster than a transform+array_min pass per seed:
    # the per-seed passes each re-materialized an md5 array). The 'z'*32
    # initial value doubles as the empty-shingle sentinel, so the
    # coalesce of the per-seed form is implicit here.
    zero = F.struct(*[F.lit("z" * 32).alias(f"m{j}") for j in range(num_hashes)])

    def step(acc: Column, s: Column) -> Column:
        # single-param lambda only: a 2-param lambda would be taken as
        # Spark's (value, index) variant
        return F.struct(
            *[
                F.least(acc[f"m{j}"], F.md5(F.concat(F.lit(f"{j}:"), s))).alias(f"m{j}")
                for j in range(num_hashes)
            ]
        )

    agg = F.aggregate(sh, zero, step)
    sig = F.array(*[agg[f"m{j}"] for j in range(num_hashes)])
    # NULL text → NULL shingle array → F.aggregate yields NULL; fall back
    # to the sentinel signature so null-text docs bucket with empty docs
    # (matching minhash_signatures' explode_outer + coalesce path) instead
    # of silently dropping out of LSH banding
    sentinel = F.array(*[F.lit("z" * 32) for _ in range(num_hashes)])
    return F.when(sh.isNull(), sentinel).otherwise(sig)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    k: int = 3,
) -> DataFrame:
    """Signature via explode + groupBy-min, not nested array expressions.

    The naive form (num_hashes × array_min(transform(shingles, md5)))
    re-evaluates the shingle construction — and the regex word split
    under it — once per seed per element: Spark's common-subexpression
    elimination does not reach inside higher-order-function lambdas.
    Exploding evaluates the shingle array exactly once per row; the
    groupBy computes all seeds' mins in one pass with map-side partial
    aggregation, so the shuffle carries one (id × num_hashes) partial
    row per partition, not the shingles.

    CPU-bound stage parallelism: hashing is num_hashes × |shingles| md5
    calls — by far the dominant cost — and its parallelism is capped by
    the SCAN's split count. A small input (one parquet file under the
    128 MB split size → ONE task) would single-thread the whole hash
    stage, so when the scan yields fewer partitions than cores the
    input is fanned out first. At production split counts (100 TB =
    thousands of splits ≥ cores) the condition is false and no extra
    shuffle is ever added.
    """
    # fan out BY the aggregation key (r10 opt): the repartition the
    # small-scan case needs anyway doubles as the groupBy's exchange —
    # one shuffle of the raw docs instead of raw-docs + partial-sigs,
    # and the sort-aggregate runs one-phase (~40% faster measured at
    # sf0.1; identity at production split counts, like the keyless form)
    df = fan_out_small_scan(df, id_col)
    ex = df.select(
        F.col(id_col), F.explode_outer(word_shingles(F.col(text_col), k)).alias("__s")
    )
    agg = ex.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{j}:"), F.col("__s")))).alias(f"__h{j}")
            for j in range(num_hashes)
        ]
    )
    # empty docs: explode_outer keeps the row with a null shingle; md5(null)
    # is null, min(null)=null → sentinel, same as the expression form
    return agg.select(
        F.col(id_col),
        F.array(
            *[F.coalesce(F.col(f"__h{j}"), F.lit("z" * 32)) for j in range(num_hashes)]
        ).alias("minhash"),
    )


def _band_key_structs(num_hashes: int, rows_per_band: int) -> Column:
    """(band, bucket) key array for LSH banding over a `minhash` column —
    THE Spark-side owner of the banding scheme (band count, bucket key
    layout), mirroring the oracle-side `_lsh_pairs_ctes_sql` generator:
    band b's bucket is md5 of the '|'-joined signature rows
    [b·r+1, b·r+r]. Shared by the self-join pair generator below and
    the incremental batch-vs-corpus probe so a scheme edit cannot leave
    one consumer banding differently."""
    assert num_hashes % rows_per_band == 0
    n_bands = num_hashes // rows_per_band
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.element_at(F.col("minhash"), b * rows_per_band + r + 1)
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )


def _signature_match_est(sig_a: Column, sig_b: Column, num_hashes: int) -> Column:
    """Estimated Jaccard = fraction of matching signature positions —
    the verify rule, single-owned for the same reason as the band key."""
    matches = F.size(
        F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda m: m)
    )
    return matches.cast("double") / F.lit(float(num_hashes))


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    k: int = 3,
    min_jaccard_est: float = 0.5,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via LSH banding.

    signature → (num_hashes/rows_per_band) band keys → explode →
    self-join per (band, bucket) → distinct pairs → estimated Jaccard =
    fraction of matching signature positions. Only bucket-colliding pairs
    are ever joined; the shuffle key (band_id, bucket_hash) is uniform.

    ``signatures``: optional precomputed (id_col, minhash) table — the
    same shortcut ``incremental_lsh_dedup`` offers: a caller that
    already attached the signature column (the streaming curation sink
    computes it once per commit) skips the text re-hash entirely.
    Precomputed signatures must come from the SAME (num_hashes, k)
    trainer configuration.

    Returns (id_a, id_b, jaccard_est) with id_a < id_b.
    """
    # the signature frame feeds three subtrees (banding + both sides of
    # the pair join-back); persist so MinHash runs once, not three times.
    # MEMORY_AND_DISK: at 100 TB the signatures are ~num_hashes × 32 B
    # per doc — orders of magnitude smaller than the corpus — and spill
    # safely if even that exceeds executor memory.
    sigs = (
        signatures.select(id_col, "minhash")
        if signatures is not None
        else minhash_signatures(df, text_col, id_col, num_hashes, k)
    ).transform(scoped_persist)
    bands = sigs.select(
        F.col(id_col),
        F.explode(_band_key_structs(num_hashes, rows_per_band)).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    # candidate id-pairs first (distinct over SMALL rows), signatures
    # joined back after — never shuffle the signature arrays through the
    # bucket join or the distinct
    a = bands.select("band", "bucket", F.col(id_col).alias("id_a"))
    b = bands.select("band", "bucket", F.col(id_col).alias("id_b"))
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    pairs = cand.join(
        sigs.select(F.col(id_col).alias("id_a"), F.col("minhash").alias("sig_a")), "id_a"
    ).join(
        sigs.select(F.col(id_col).alias("id_b"), F.col("minhash").alias("sig_b")), "id_b"
    )
    est = _signature_match_est(F.col("sig_a"), F.col("sig_b"), num_hashes)
    return (
        pairs.withColumn("jaccard_est", est)
        .filter(F.col("jaccard_est") >= min_jaccard_est)
        .select("id_a", "id_b", "jaccard_est")
    )


def incremental_lsh_dedup(
    batch: DataFrame,
    corpus: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    k: int = 3,
    min_jaccard_est: float = 0.5,
    broadcast_batch: bool = True,
    corpus_signatures: DataFrame | None = None,
    batch_signatures: DataFrame | None = None,
) -> DataFrame:
    """Batch-vs-corpus incremental near-dup gate (VERDICT r6 #2).

    The cross-run fuzzy form of the reference's destination dedup
    (manutencao.py:12-62 anti-joins new rows against existing keys):
    a new batch document is dropped when its MinHash signature LSH-
    collides with an EXISTING corpus document and the signature match
    verifies at >= min_jaccard_est. Within-batch duplicates are out of
    scope by design (that is the batch's own self-dedup pass).

    Scale shape: signatures on both halves via the shared trainer
    (`minhash_signatures`, one fold per side), band keys from the SAME
    scheme owner as the self-join pair generator, then ONE
    (band, bucket) equi-join of batch bands against corpus bands —
    never batch x batch, never corpus x corpus, never all-pairs. The
    final keep-set is a left-anti join of the batch on the
    verified-contaminated id set (the J3 shape).

    ``corpus_signatures`` is the production path: pass the PERSISTED
    (id_col, minhash) signature table accumulated by previous runs and
    the corpus text is never re-hashed — only the (small) batch pays a
    signature fold per run (the streaming near-dup gate in
    streaming/curation.py commits exactly this table alongside the
    documents). Exactly one of ``corpus`` / ``corpus_signatures`` must
    be given. ``batch_signatures`` is the matching batch-side
    shortcut for callers that already attached the signature column
    (the streaming sink computes it once per commit). Precomputed
    signatures must come from the SAME (num_hashes, k) trainer
    configuration, which the streaming sink guarantees by computing
    them with this module's ``minhash_signature`` expression.

    ``broadcast_batch`` (default True) expresses the asymmetry the
    operator exists for — an incremental batch is small relative to
    the accumulated corpus — by broadcasting the batch's band keys
    (id + 4 x 32-hex, ~0.2 KB/doc) so the corpus bands NEVER shuffle:
    the dominant side streams map-side through the collision probe.
    A caller re-deduping a corpus-sized "batch" disables it and gets
    the co-partitioned shuffle join instead.

    Returns the SURVIVING batch rows' ids: (id_col,).
    """
    if (corpus is None) == (corpus_signatures is None):
        raise ValueError("pass exactly one of corpus / corpus_signatures")
    sig_b = (
        batch_signatures.select(id_col, "minhash")
        if batch_signatures is not None
        else minhash_signatures(batch, text_col, id_col, num_hashes, k)
    ).transform(scoped_persist)
    sig_c = (
        corpus_signatures.select(id_col, "minhash")
        if corpus_signatures is not None
        else minhash_signatures(corpus, text_col, id_col, num_hashes, k)
    ).transform(scoped_persist)

    def bands_of(sigs: DataFrame, out_id: str) -> DataFrame:
        return sigs.select(
            F.col(id_col).alias(out_id),
            F.explode(_band_key_structs(num_hashes, rows_per_band)).alias("bb"),
        ).select(out_id, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    # candidate (batch, corpus) id pairs from bucket collisions only;
    # distinct BEFORE the signature join-back so the verify stage sees
    # each pair once and never shuffles signature arrays through the
    # bucket join (same staging as lsh_candidate_pairs)
    batch_bands = bands_of(sig_b, "__id_b")
    if broadcast_batch:
        batch_bands = F.broadcast(batch_bands)
    cand = (
        batch_bands.join(bands_of(sig_c, "__id_c"), ["band", "bucket"])
        .select("__id_b", "__id_c")
        .distinct()
    )
    verified = (
        cand.join(
            sig_b.select(F.col(id_col).alias("__id_b"), F.col("minhash").alias("sig_a")),
            "__id_b",
        )
        .join(
            sig_c.select(F.col(id_col).alias("__id_c"), F.col("minhash").alias("sig_b")),
            "__id_c",
        )
        .filter(
            _signature_match_est(F.col("sig_a"), F.col("sig_b"), num_hashes)
            >= min_jaccard_est
        )
        .select(F.col("__id_b").alias(id_col))
        .distinct()
    )
    if broadcast_batch:
        # contaminated ⊆ batch: broadcastable whenever the batch is
        verified = F.broadcast(verified)
    return batch.select(id_col).join(verified, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 60  # 15 hex digits → fits a signed BIGINT without overflow


def simhash_from_hashes(hashes: Column, bits: int = _SIMHASH_BITS) -> Column:
    """SimHash from a pre-computed array of per-token hex-hash prefixes.

    Bit p of the fingerprint is the sign of sum over tokens of
    (2*bit_p(token) − 1); bit p of a token is bit (p mod 4) of hex digit
    (p div 4). Pure higher-order expressions — no explode, no shuffle.
    """

    def digit_val(h: Column, d: int) -> Column:
        # hex digit -> 0..15 (conv is Spark's hex→dec; oracle uses strpos)
        return F.conv(F.substring(h, d + 1, 1), 16, 10).cast("int")

    def bit_vote(p: int) -> Column:
        d, k = divmod(p, 4)
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc + (F.shiftright(digit_val(h, d), k) % 2) * 2 - 1,
        )

    out = F.lit(0).cast("long")
    for p in range(bits):
        out = out + F.when(bit_vote(p) > 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(
            F.lit(0).cast("long")
        )
    return out


def token_hashes(text: Column, bits: int = _SIMHASH_BITS) -> Column:
    """Per-token md5 prefixes feeding simhash (materialize this once — the
    60 bit-votes each reference it, and CollapseProject would otherwise
    inline the md5 computation 60×)."""
    return F.transform(words(text), lambda t: F.substring(F.md5(t), 1, bits // 4))


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = _SIMHASH_BITS
) -> DataFrame:
    """Fingerprints via explode + one groupBy with PACKED vote-sums.

    The expression form (simhash_from_hashes) folds the token array once
    per bit — bits × tokens interpreted lambda steps per doc, and a hex-
    digit decode per step. Exploding visits each token once, and the
    hash decodes ONCE to a single 60-bit long (not one conv per hex
    digit). The per-bit ±1 votes are equivalent to per-bit set-counts
    (vote_p = 2·c_p − n), and the 60 counts pack 4-per-long into 16-bit
    lanes, so the groupBy carries 16 sum aggregates instead of 60 — all
    map-side combined; lanes can't carry over until a doc exceeds 65 535
    tokens (an 8× safety margin over the longest fixture doc; at corpus
    scale pre-chunk pathological documents upstream). 1.8× measured.
    """
    n_digits = bits // 4
    lane, per = 16, 4
    n_packs = (bits + per - 1) // per

    def hv_shift(p: int) -> int:
        # oracle/expression bit p = bit (p%4) of the (p//4)-th hex digit
        # counted FROM THE LEFT of the md5 prefix; in the decoded integer
        # that digit sits at the high end
        d, k = divmod(p, 4)
        return 4 * (n_digits - 1 - d) + k

    ex = df.select(
        F.col(id_col), F.explode_outer(token_hashes(F.col(text_col), bits)).alias("__h")
    )
    exh = ex.withColumn("__hv", F.conv(F.col("__h"), 16, 10).cast("long"))
    aggs = [F.count(F.col("__h")).alias("__n")]
    for g in range(n_packs):
        v = F.lit(0).cast("long")
        for j in range(per):
            p = g * per + j
            if p >= bits:
                break
            v = v + F.shiftleft(
                F.shiftright(F.col("__hv"), hv_shift(p)) % 2, lane * j
            )
        aggs.append(
            F.sum(F.when(F.col("__h").isNotNull(), v).otherwise(F.lit(0).cast("long")))
            .alias(f"__s{g}")
        )
    agg = exh.groupBy(id_col).agg(*aggs)
    out = F.lit(0).cast("long")
    for g in range(n_packs):
        for j in range(per):
            p = g * per + j
            if p >= bits:
                break
            c = F.shiftright(F.col(f"__s{g}"), lane * j) % (1 << lane)
            out = out + F.when(
                2 * c > F.col("__n"), F.shiftleft(F.lit(1).cast("long"), p)
            ).otherwise(F.lit(0).cast("long"))
    return agg.select(F.col(id_col), out.alias("simhash"))


# ---------------------------------------------------------------------------
# character n-grams (shingles for the near-dup verification stage)
# ---------------------------------------------------------------------------


def char_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct character n-grams of the normalized text.

    Same construction discipline as ``word_shingles``: zip of n shifted
    slices over the char array, so the normalization regex is evaluated
    n times per row — not once per n-gram inside a lambda (the substr-
    in-transform form measured ~70 s vs ~1 s at sf0.1)."""
    norm = F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))
    chars = F.split(norm, "")
    m = F.size(chars) - (n - 1)
    zipped = F.arrays_zip(*[F.slice(chars, j + 1, F.greatest(m, F.lit(0))) for j in range(n)])
    grams = F.transform(zipped, lambda s: F.concat(*[s[str(j)] for j in range(n)]))
    return F.array_distinct(grams)


# ---------------------------------------------------------------------------
# cluster formation: connected components over near-dup pairs
# ---------------------------------------------------------------------------


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Group near-duplicate pairs into clusters: every node gets the
    minimum id reachable through the pair graph as its ``cluster_id``.

    Min-label propagation: each round every node takes the min of its
    own label and its neighbors' labels — one join + one min-groupBy per
    round, converging in O(graph diameter) rounds. Near-dup components
    are small and dense (diameter 1-3), so this beats the
    alternating-star algorithms (Kiveris et al., "Connected Components
    in MapReduce and Beyond") that only pay off on web-scale graphs with
    giant components; swap the loop body for large-star/small-star if
    components with millions of members are expected.

    Scale notes: ``localCheckpoint`` truncates lineage each round so the
    plan doesn't grow exponentially; convergence is detected by the
    monotonically non-increasing label sum (one scalar action per
    round, no collect of node data); edges are materialized once and
    reused every round.
    """
    edges = (
        pairs.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .union(pairs.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v")))
        .localCheckpoint(eager=True)
    )
    labels = nodes.select(
        F.col(id_col).alias("u"), F.col(id_col).cast("long").alias("lab")
    )
    prev_sum = None
    for _ in range(max_iter):
        nbr = edges.join(labels, "u").select(F.col("v").alias("u"), "lab")
        labels = (
            labels.union(nbr).groupBy("u").agg(F.min("lab").alias("lab"))
        ).localCheckpoint(eager=True)
        s = labels.agg(F.sum("lab")).first()[0]
        if s == prev_sum:
            break
        prev_sum = s
    return labels.select(F.col("u").alias(id_col), F.col("lab").alias("cluster_id"))


#: integer-PageRank contract constants — the ONE owner of the numbers;
#: the DuckDB oracle (queries_ext) formats the same values into its
#: unrolled CTEs, so engine and oracle cannot drift independently.
PR_INIT_PPM = 1_000_000  # every node starts with 1.0 in ppm
PR_BASE_PPM = 150_000  # (1 − d) teleport mass, d = 0.85
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # damping as an integer ratio


def integer_pagerank(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    iterations: int = 3,
) -> DataFrame:
    """PageRank over an undirected pair graph with INTEGER fixed-point
    arithmetic: every contribution is ``((r·85) div 100) div deg`` on
    BIGINT ppm masses, so the result is a deterministic pure function of
    the edge set — bit-identical in any engine, no float accumulation
    order anywhere. (Flooring leaks a little mass per hop; ranking
    fidelity is unaffected and exactness is the point.)

    Scale shape: edges are materialized once (``localCheckpoint``, the
    connected_components idiom) and the degree table — node grain, small
    — is scoped-persisted for its per-iteration reuse. Each iteration is
    the canonical distributed PageRank step: one node-keyed join to
    attach ranks, one edge-keyed re-key, one map-side-combined sum — no
    collect, no driver-side graph. A FIXED iteration count keeps the
    lineage shallow (no per-round checkpoint needed, unlike the
    convergence-driven components loop).

    Returns (u, pagerank_ppm, deg) for every node with ≥1 edge.
    """
    edges = (
        pairs.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .union(pairs.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v")))
        .localCheckpoint(eager=True)
    )
    deg = scoped_persist(edges.groupBy("u").agg(F.count(F.lit(1)).alias("deg")))
    contrib = F.expr(f"((r * {PR_DAMP_NUM}) div {PR_DAMP_DEN}) div deg")
    r = deg.select("u", F.lit(PR_INIT_PPM).cast("long").alias("r"))
    for _ in range(iterations):
        send = r.join(deg, "u").select("u", contrib.alias("c"))
        recv = (
            edges.join(send, "u")
            .select(F.col("v").alias("u"), "c")
            .groupBy("u")
            .agg(F.sum("c").alias("s"))
        )
        # symmetric edges mean every node has an in-edge, but the left
        # join + coalesce keeps the expression total (and matches the
        # oracle's LEFT JOIN) rather than relying on that invariant
        r = (
            deg.select("u")
            .join(recv, "u", "left")
            .select(
                "u",
                (F.lit(PR_BASE_PPM) + F.coalesce(F.col("s"), F.lit(0)))
                .cast("long")
                .alias("r"),
            )
        )
    return r.join(deg, "u").select("u", F.col("r").alias("pagerank_ppm"), "deg")


def band_key_strings(num_hashes: int = 8, rows_per_band: int = 2) -> Column:
    """The banding scheme's keys as flat strings ('band:bucket') over a
    ``minhash`` column — built FROM ``_band_key_structs`` (the single
    scheme owner), so a scheme edit cannot desynchronize this view.

    Purpose: derived-key Bloom indexing of a signature sink
    (sinks/versioned.commit_append's ``bloom_frames``) — a near-dup
    history probe collides on (band, bucket), so a history file whose
    band-key bloom misses EVERY batch band key cannot produce a
    candidate pair and is pruned from the probe's scan (no false
    negatives: the bloom sees exactly the keys the equi-join would)."""
    return F.transform(
        _band_key_structs(num_hashes, rows_per_band),
        lambda bb: F.concat_ws(":", bb["band"].cast("string"), bb["bucket"]),
    )
