"""Deduplication operators for training-data pipelines.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard near-dup — the four
standard corpus-dedup families, each designed around ONE property:
no pairwise comparison ever touches the full corpus; candidates come
from an equi-join on a bucket key, which Spark executes as a plain
shuffled hash join (linear, skew-handled by AQE).

Engine-portable parts (exact dedup, n-gram Jaccard) carry DuckDB
oracles; hash-based sketches (minhash/simhash) use Spark's xxhash64,
which has no DuckDB twin — those are validated by invariant tests
(identical texts collide, perturbed texts mostly collide) and
rows-only driver checks.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from demv_spark.operators.text import fingerprint, tokens


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", normalized: bool = True
) -> DataFrame:
    """Keep one representative (min id) per distinct text.

    `normalized=True` dedups on the md5 fingerprint of
    whitespace/case-normalized text; False on raw text equality, with
    NULL text its own (single) identity group — the join back is
    null-SAFE on the key, because a plain equi-join would silently
    drop every NULL-text row instead of keeping one representative
    (NULL == NULL is never true; the normalized path was already
    immune via the fingerprint's coalesce).
    Plan: one groupBy on the key — partial aggregation means the
    shuffle carries (key, min_id) only, not documents."""
    keyed = fingerprint(df, text_col, "__key") if normalized else df.withColumn(
        "__key", F.col(text_col)
    )
    keep = keyed.groupBy("__key").agg(F.min(id_col).alias(id_col))
    cond = keyed["__key"].eqNullSafe(keep["__key"]) & (
        keyed[id_col] == keep[id_col]
    )
    return (
        keyed.join(keep, cond, "inner")
        .select(*[keyed[c] for c in df.columns])
    )


def _window_starts(k):
    """[1..k], or empty when k < 1 (sequence(1,0) would be the
    DESCENDING [1,0] — a footgun for sliding windows)."""
    return F.when(k >= 1, F.sequence(F.lit(1), k)).otherwise(
        F.array().cast("array<int>")
    )


def _shingles_of(toks, n: int):
    """Shingle windows from an already-computed token-array column —
    the shared core of ``shingles`` and the decontaminate-report
    shared-scan path (round 13), where one materialized token array
    feeds both the exact n-gram and MinHash layers."""

    def _sh(tk):
        k = F.size(tk) - F.lit(n - 1)
        return F.transform(
            _window_starts(k), lambda i: F.array_join(F.slice(tk, i, n), " ")
        )

    return F.element_at(F.transform(F.array(toks), _sh), 1)


def shingles(col, n: int = 3):
    """Word n-gram (shingle) array: sliding windows over the token
    array via transform+slice — no UDF, no explode-then-regroup.
    Documents with fewer than n tokens yield an empty array.

    The token array is bound as a lambda variable (single-element
    transform scope) so it is evaluated once per row — referencing the
    ``tokens(col)`` subexpression directly inside the window lambda
    would make Catalyst re-inline the split at every window start,
    O(L²) per document."""
    return _shingles_of(tokens(col), n)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    hash_shingles: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs by word-n-gram Jaccard similarity.

    Plan (inverted-index pair generation — ONE shuffle of the shingle
    set, no self-join):
      1. explode distinct shingles per doc  (linear)
      2. document-frequency via a count window over the shingle key,
         then cap: shingles in more than ``max_df`` docs are dropped —
         a shingle shared by thousands of documents contributes O(df²)
         pair rows while carrying no discriminative signal; this is
         the lever that keeps pair volume linear on corpora with heavy
         shingle collision (at 100 TB it is mandatory, exactly like
         stopword removal in classic near-dup systems). The window
         keeps rows, so the SAME exchange feeds both the cap and the
         posting lists — a groupBy census + re-join would shuffle the
         shingle set twice more (measured: 22 exchanges, 0 reused).
      3. posting list per surviving shingle: groupBy(sh) directly on
         the window's partitioning (no new exchange), sorted ids
      4. pair explosion from each posting list (array combinations,
         ≤ max_df(max_df−1)/2 per shingle) → groupBy(pair) count =
         intersection size. Hot shingles are bounded by max_df, so the
         per-row array is bounded by construction. When max_df is None
         (uncapped) this path is unsafe — a 100k-doc shingle would put
         ~5e9 structs in one row — so the pair source falls back to a
         streamed self-equi-join with AQE skew handling.
      5. |A∪B| = |A|+|B|−|A∩B| from per-doc capped-shingle counts;
         filter jaccard >= threshold
    Returns (id_a, id_b, inter, size_a, size_b, jaccard), id_a < id_b.

    ``hash_shingles=True`` is the scale lever PERFORMANCE.md lists:
    the shingle shuffle key becomes ``xxhash64(shingle)`` (8 bytes)
    instead of the n-gram string (tens of bytes) — the whole inverted
    index shuffles at a fraction of the bytes. The pair set is
    identical unless two distinct shingles collide in 64 bits
    (birthday bound ≈ d²/2⁶⁵ for d distinct shingles — ~3% chance of
    a single collision at d=10⁹, which would overcount ONE pair's
    intersection by one). Default stays False because the exact
    string key is what the DuckDB oracle reproduces; turn it on for
    production-scale candidate generation where downstream exact
    verification absorbs the rounding.
    """
    sh = (
        df.select(F.col(id_col).alias("id"), F.explode(F.array_distinct(shingles(text_col, n))).alias("sh"))
    )
    if hash_shingles:
        sh = sh.withColumn("sh", F.xxhash64("sh"))
    if max_df is not None:
        w = Window.partitionBy("sh")
        sh = sh.withColumn("__df", F.count(F.lit(1)).over(w)).filter(
            F.col("__df") <= max_df
        )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    if max_df is not None:
        # posting-list pair explosion: a shingle's pairs materialize
        # as ONE array of ≤ max_df(max_df−1)/2 structs — safe ONLY
        # because df is capped
        postings = (
            sh.groupBy("sh")
            .agg(F.sort_array(F.collect_list("id")).alias("ids"))
            .filter(F.size("ids") >= 2)
        )
        k = F.size("ids")
        pair_arr = F.flatten(
            F.transform(
                F.sequence(F.lit(1), k - 1),
                lambda i: F.transform(
                    F.slice(F.col("ids"), i + 1, k - i),
                    lambda j: F.struct(
                        F.element_at(F.col("ids"), i).alias("id_a"), j.alias("id_b")
                    ),
                ),
            )
        )
        pairs = (
            postings.select(F.explode(pair_arr).alias("p"))
            .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        # uncapped df: a hot shingle's pair set must NOT collapse into
        # one array value (df=100k → ~5e9 structs in a single row) —
        # stream the pairs through a self-equi-join instead and let
        # AQE's skew-join split the hot keys
        pairs = (
            sh.alias("a")
            .join(sh.alias("b"), (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    out = (
        pairs.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "size_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "size_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")
    )
    return out


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup pairs by n-gram CONTAINMENT —
    ``max(|A∩B|/|A|, |A∩B|/|B|)`` — which Jaccard structurally
    misses: a document quoted whole inside a much larger one has
    containment ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0. This is the
    doc-inside-doc detector (boilerplate wrappers, quote-and-expand
    spam, prompt-in-completion leaks); same inverted-index plan as
    ``ngram_jaccard_pairs`` (one shingle shuffle, df-capped pair
    explosion — see that docstring for the 100 TB analysis), only the
    final ratio differs. Returns (id_a, id_b, inter, size_a, size_b,
    cont_a, cont_b) with id_a < id_b, where cont_a = inter/size_a is
    the fraction of A contained in B; filter keeps
    ``max(cont_a, cont_b) >= threshold``."""
    base = ngram_jaccard_pairs(
        df, text_col, id_col, n, threshold=0.0, max_df=max_df
    ).drop("jaccard")
    return (
        base.withColumn("cont_a", F.col("inter") / F.col("size_a"))
        .withColumn("cont_b", F.col("inter") / F.col("size_b"))
        .filter(F.greatest(F.col("cont_a"), F.col("cont_b")) >= threshold)
    )


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word ``n``-gram with a held-out benchmark corpus — the standard
    pre-training hygiene pass (the real-world form uses 8–13-gram
    overlap against eval sets).

    Plan: distinct shingles per side (linear explodes), equi-join on
    the shingle string, per-doc distinct-hit count. The benchmark
    shingle set is typically tiny next to the corpus (eval sets are
    thousands of docs, the corpus billions) — Catalyst broadcasts it
    when under the threshold, so the pass over the corpus is map-only
    at scale; otherwise it is a shuffled hash join on the shingle key.

    Returns (id_col, n_hits) for contaminated documents only —
    anti-join the result against the corpus to drop them.
    """
    sh_train = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(text_col, n))).alias("__sh"),
    )
    sh_bench = (
        benchmark.select(
            F.explode(F.array_distinct(shingles(text_col, n))).alias("__sh")
        ).distinct()
    )
    return (
        sh_train.join(sh_bench, "__sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def shingle_hashes(col, n: int = 3):
    """64-bit hashes of word n-gram shingles, built without
    materializing shingle strings: each token is hashed ONCE
    (xxhash64 of the string), then a shingle hash combines the n
    token hashes with another xxhash64 over fixed-width longs —
    integer-only inner loop."""
    th = F.transform(tokens(col), lambda t: F.xxhash64(t))
    k = F.size(th) - F.lit(n - 1)
    # combine the n offset views of the token-hash array with zip_with
    # chains. CRITICAL perf property: `th` appears only at TOP level
    # (n slices) → n evaluations per ROW. Referencing it inside a
    # per-element lambda (element_at(th, i+j)) would re-evaluate the
    # whole tokenize+hash subtree per element: O(tokens²) per row in
    # interpreted higher-order eval.
    guarded_k = F.greatest(k, F.lit(0))
    acc = F.slice(th, 1, guarded_k)
    for j in range(1, n):
        nxt = F.slice(th, j + 1, guarded_k)
        acc = F.zip_with(acc, nxt, lambda a, b: F.xxhash64(a, b))
    return F.when(k >= 1, acc).otherwise(F.array().cast("array<bigint>"))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signature per document: sig[i] = min over shingle
    hashes re-keyed with seed i.

    Entirely row-local — a document's shingle set already lives in its
    own row, so there is NO explode and NO shuffle: per row,
    ``array_min(transform(shingle_hashes, h -> xxhash64(i, h)))`` per
    seed. At 100 TB this is a pure map stage that scales with input
    splits. (Shingle identity is by 64-bit hash; the collision rate is
    negligible relative to MinHash's own approximation error.)
    Documents with fewer than ``shingle_n`` tokens get the SENTINEL
    signature — every entry is (2^63 − 1), the fold's untouched init
    — NOT NULL: filter degenerates by comparing element_at(sig, 1)
    against the sentinel, as minhash_lsh_pairs does (an isNull test
    matches nothing). Returns (id_col, sig array<long>)."""
    sh = F.array_distinct(shingle_hashes(text_col, shingle_n))
    seeds = F.array(*[F.lit(i).cast("long") for i in range(num_hashes)])
    init = F.array_repeat(F.lit((1 << 63) - 1).cast("long"), num_hashes)
    # ONE fold over the shingle array maintains all num_hashes minima
    # simultaneously (zip_with against the seed vector). Building 32
    # separate array_min(transform(...)) expressions instead would
    # re-evaluate the whole tokenize→hash→shingle pipeline per seed —
    # higher-order funcs are interpreted, not codegen'd, and project
    # collapsing re-inlines the shared subexpression.
    sig = F.aggregate(
        sh,
        init,
        lambda acc, h: F.zip_with(
            acc, seeds, lambda a, s: F.least(a, F.xxhash64(s, h))
        ),
    )
    return df.select(F.col(id_col), sig.alias("sig"))


def lsh_band_buckets(
    sig: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band, bucket) rows from a signature table: the signature
    splits into ``bands`` slices of num_hashes/bands rows, bucket =
    one integer hash over the slice (fixed-width longs, no strings).
    Map-only explode, bands rows per doc — the joinable form of the
    LSH index, shared by the batch self-join and the streaming
    incremental index."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    return sig.select(
        id_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        *[F.element_at("sig", b * rows_per_band + j + 1)
                          for j in range(rows_per_band)]
                    ).alias("bucket"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """LSH candidate pairs: split the signature into `bands` rows of
    num_hashes/bands, bucket = hash(band rows); docs sharing any
    band-bucket are candidates. Linear explode (bands per doc) + an
    equi-join on (band, bucket) — never all-pairs. Returns distinct
    (id_a, id_b) candidates with estimated jaccard (signature overlap)."""
    assert num_hashes % bands == 0
    # signatures feed BOTH sides of the self-join; as a pure map plan
    # they would be recomputed twice (no shuffle to reuse) —
    # materialize the slim (id, 32×long) table once with an eager
    # localCheckpoint. At warehouse scale this is the step you'd
    # checkpoint to a table. Round 13 (VERDICT r12 item 7): was a
    # persist whose CacheManager entry lived until session eviction;
    # checkpoint blocks instead release with the returned DataFrame
    # and cost no per-query cached-plan matching.
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    sig = sig.localCheckpoint(eager=True)
    # docs with no shingles (fewer than shingle_n tokens) all carry
    # the sentinel signature and would spuriously pair with each
    # other — exclude them from candidate generation
    sentinel = (1 << 63) - 1
    sig = sig.filter(F.element_at("sig", 1) != sentinel)
    banded = lsh_band_buckets(sig, num_hashes=num_hashes, bands=bands, id_col=id_col)
    # dedup candidates on bare id pairs (ints), NOT on rows carrying
    # two signature arrays — then join the signature table back for
    # the overlap estimate
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    # plain id-keyed joins, NOT F.broadcast: the signature table is
    # one row PER DOCUMENT (it scales with the corpus, not with the
    # candidate count), so a forced broadcast bypasses
    # autoBroadcastJoinThreshold straight into the 8 GB broadcast
    # ceiling / a driver OOM at the scale this module targets; AQE
    # still picks a broadcast when the table is actually small
    sigs = sig.select(F.col(id_col), F.col("sig"))
    cand = (
        cand.join(sigs.withColumnRenamed(id_col, "id_a").withColumnRenamed("sig", "sig_a"), "id_a")
        .join(sigs.withColumnRenamed(id_col, "id_b").withColumnRenamed("sig", "sig_b"), "id_b")
    )
    overlap = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    return cand.select(
        "id_a", "id_b", (overlap / F.lit(num_hashes)).alias("est_jaccard")
    )


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """SimHash per document: per-bit majority vote over token hashes.

    Row-local like minhash_signatures — the token multiset is in the
    row, so each bit's vote is ``size(filter(hashes, bit set))``
    against half the token count; no explode, no shuffle, pure map
    stage. Tie votes resolve to 0 (matching the Σ±1 > 0 formulation).
    Returns (id_col, simhash long)."""
    assert bits == 64, "simhash is defined for 64-bit signatures"
    th = F.transform(tokens(text_col), lambda t: F.xxhash64(t))
    n_tok = F.size(tokens(text_col))
    # per-bit set-counts in ONE fold (bit positions descending 63..0;
    # bit_get takes a Column position — shiftright only takes ints)
    bit_idx = F.array(*[F.lit(i).cast("int") for i in range(bits - 1, -1, -1)])
    init = F.array_repeat(F.lit(0).cast("long"), bits)
    counts = F.aggregate(
        th,
        init,
        lambda acc, h: F.zip_with(
            acc, bit_idx, lambda a, b: a + F.bit_get(h, b).cast("long")
        ),
    )

    # assemble the signature as two 32-bit halves folded MSB-first
    # (s*2 + bit stays < 2^32 — no ANSI long-overflow at bit 63)
    def fold_half(arr):
        return F.aggregate(
            arr,
            F.lit(0).cast("long"),
            lambda s, c: s * 2 + F.when(c * 2 > n_tok, F.lit(1)).otherwise(F.lit(0)),
        )

    hi = fold_half(F.slice(counts, 1, 32))    # bits 63..32
    lo = fold_half(F.slice(counts, 33, 32))   # bits 31..0
    sig = F.shiftleft(hi, 32).bitwiseOR(lo)
    return df.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket: "Optional[int]" = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64-bit signature into
    `bands` chunks — any pair within hamming distance < bands shares
    at least one identical band (pigeonhole) — equi-join on (band,
    chunk), then exact hamming filter via bit_count(xor). Historical
    contract: max_hamming MAY exceed bands-1, recall beyond the
    pigeonhole bound is then best-effort (strict=False on the generic
    core).

    Empty/NULL/whitespace-only documents are EXCLUDED from pairing
    (the minhash wrapper's sentinel rule): they all share one
    signature, so m blank pages would otherwise mint m(m−1)/2
    distance-0 pairs — the exact quadratic blow-up the banding
    exists to avoid. ``max_bucket`` passes through to the generic
    core's degenerate-bucket cap."""
    nonempty = df.filter(
        F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))) != ""
    )
    # materialize once: both join sides read the signature table (see
    # minhash_lsh_pairs; eager localCheckpoint, round 13)
    sig = simhash(nonempty, text_col, id_col).localCheckpoint(eager=True)
    return hamming_near_dup(
        sig, id_col, "simhash", max_hamming=max_hamming, bands=bands,
        max_bucket=max_bucket, strict=False,
    ).withColumnRenamed("dist", "hamming")


def hamming_near_dup(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
    bands: "Optional[int]" = None,
    max_bucket: "Optional[int]" = None,
    strict: bool = True,
) -> DataFrame:
    """All pairs (id_a < id_b, dist) within ``max_hamming`` bits over
    ANY 64-bit integer hash column — the generic near-dup core behind
    SimHash text pairs and equally applicable to perceptual hashes
    and embedding sign-sketches.

    Scale shape: the hash is split into ``bands`` contiguous
    bit-chunks (default max_hamming+1 — pigeonhole: a pair within
    max_hamming agrees EXACTLY on at least one chunk), candidates
    come from per-(band, chunk) equi-joins — one shuffle on the band
    key, never all-pairs — and one exact ``bit_count(xor)`` verifies.
    ``max_bucket`` (optional) drops degenerate band buckets larger
    than the cap (e.g. a constant hash region at corpus scale) at a
    documented recall cost; default None keeps the operator exact.
    Rows with NULL hash are dropped at entry; ``id_col`` must be
    unique per row (pairs are keyed by id). ``strict=False`` permits
    max_hamming beyond the pigeonhole bound (recall above bands-1
    bits is then best-effort — the SimHash wrapper's historical
    contract).

    A 64-bit hash supports at most 64 one-bit bands, so the
    pigeonhole guarantee tops out at max_hamming=63; at
    max_hamming >= 64 EVERY pair qualifies and no banding can
    guarantee recall (that regime is inherently best-effort — the
    default caps bands at 64 rather than degenerating to zero-width
    bands, which would silently put every row in one bucket)."""
    if max_hamming > 64:
        raise ValueError(
            f"max_hamming={max_hamming} > 64: a 64-bit hash cannot "
            "differ in more than 64 bits"
        )
    bands = bands if bands is not None else min(max_hamming + 1, 64)
    if strict and bands < max_hamming + 1 and max_hamming <= 63:
        raise ValueError(
            f"bands={bands} < max_hamming+1={max_hamming + 1}: the "
            "pigeonhole guarantee breaks — candidates would miss "
            "pairs (pass strict=False for best-effort recall)"
        )
    if not 1 <= bands <= 64:
        raise ValueError(
            f"bands={bands} out of range: a 64-bit hash supports 1..64 "
            "bands (more would make zero-width bands — every row in "
            "one bucket, a silent all-pairs join)"
        )
    # distribute ALL 64 bits: the first 64 % bands bands are one bit
    # wider, so no bit is left out of every band (uniform 64//bands
    # chunks left the top remainder bits unbanded — hashes differing
    # only there collided in every band, inflating candidates; and
    # bands=1 needs the mask-free whole-hash band, since a 64-bit
    # all-ones literal overflows a Java long)
    base, rem = divmod(64, bands)
    widths = [base + 1 if b < rem else base for b in range(bands)]
    offsets = [sum(widths[:b]) for b in range(bands)]

    def _band_val(b: int):
        v = F.shiftrightunsigned(F.col(hash_col), offsets[b])
        if widths[b] < 64:
            v = v.bitwiseAND(F.lit((1 << widths[b]) - 1))
        return v

    sig = df.select(id_col, hash_col).filter(F.col(hash_col).isNotNull())
    banded = sig.select(
        id_col,
        hash_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    _band_val(b).alias("chunk"),
                )
                for b in range(bands)
            ])
        ).alias("bc"),
    ).select(
        id_col, hash_col,
        F.col("bc.band").alias("band"), F.col("bc.chunk").alias("chunk"),
    )
    if max_bucket is not None:
        w = Window.partitionBy("band", "chunk")
        banded = banded.withColumn(
            "__bn", F.count(F.lit(1)).over(w)
        ).filter(F.col("__bn") <= max_bucket).drop("__bn")
    pairs = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{hash_col}").alias("__h_a"),
            F.col(f"b.{hash_col}").alias("__h_b"),
        )
        .distinct()
    )
    dist = F.bit_count(F.col("__h_a").bitwiseXOR(F.col("__h_b")))
    return pairs.select(
        "id_a", "id_b", dist.cast("int").alias("dist")
    ).filter(F.col("dist") <= max_hamming)


# ---------------------------------------------------------------------------
# Engine-portable sketch variants (cross-engine verifiable)
#
# The xxhash64 sketches above are the scale path (integer-only inner
# loop, no shingle strings materialized) but xxhash64 has no twin in
# other engines, so they can only be validated by invariants. The
# variants below trade a little per-row CPU for an ANSI-SQL-portable
# hash family — every step is reproducible in DuckDB (or any engine
# with md5), which upgrades minhash / LSH banding / simhash from
# rows-only checks to exact value-hash oracles. Plan shape is
# identical to the fast path: map-only signatures, linear explode,
# equi-join candidates.
# ---------------------------------------------------------------------------

_P31 = (1 << 31) - 1  # Mersenne prime 2^31 - 1: modulus of the hash family
_BAND_C = 1_000_003  # polynomial-combine base for band buckets


# canonical definition lives with the other cross-engine parity
# primitives; re-exported here for the sketch family's callers
from demv_spark.functions.compat import portable_hash  # noqa: E402


def _seed_pairs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) coefficients of the universal hash
    family h_i(x) = (a_i*x + b_i) mod P31; same table is embedded in
    the SQL oracle."""
    return [
        (((2654435761 * (i + 1)) % _P31) or 1, (40503 * (i + 1) + 17) % _P31)
        for i in range(num_hashes)
    ]


def _band_pows(rows_per_band: int) -> list[int]:
    """C^j mod P31 for the in-band polynomial bucket combine."""
    out, c = [], 1
    for _ in range(rows_per_band):
        out.append(c)
        c = (c * _BAND_C) % _P31
    return out


def _portable_sig_expr(sh_col, num_hashes):
    """Signature fold expression over a shingle-array column: hash
    each shingle with the portable family, fold all ``num_hashes``
    minima in one pass. Shared by the text-column and shared-token
    entry points so both produce bit-identical signatures."""
    hs = F.transform(sh_col, lambda s: portable_hash(s) % _P31)
    seeds = F.array(
        *[
            F.struct(F.lit(a).cast("long").alias("a"), F.lit(b).cast("long").alias("b"))
            for a, b in _seed_pairs(num_hashes)
        ]
    )
    init = F.array_repeat(F.lit(_P31).cast("long"), num_hashes)
    return F.aggregate(
        hs,
        init,
        lambda acc, h: F.zip_with(
            acc, seeds, lambda m, s: F.least(m, (s["a"] * h + s["b"]) % F.lit(_P31))
        ),
    )


def _portable_sig(df, text_col, id_col, num_hashes, shingle_n):
    """(id, sig array<long>) with the portable family; docs with no
    shingles are dropped (mirrors the sentinel filter in the fast
    path). Same single-fold shape as minhash_signatures: one pass
    over the shingle array maintains all minima — all arithmetic
    stays below 2^62, so ANSI overflow checking never trips."""
    sh = F.array_distinct(shingles(text_col, shingle_n))
    base = df.select(F.col(id_col).alias("id"), sh.alias("__sh")).filter(
        F.size("__sh") > 0
    )
    return base.select("id", _portable_sig_expr(F.col("__sh"), num_hashes).alias("sig"))


def minhash_signatures_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signatures in exploded form (id_col, h_idx, min_h) —
    one row per (document, hash function), all scalar integers, so a
    SQL oracle can hash-match the exact values. Same map-only plan as
    the fast path (reference: demv has no sketch ops; this is the
    training-data extension family)."""
    sig = _portable_sig(df, text_col, id_col, num_hashes, shingle_n)
    return sig.select(
        F.col("id").alias(id_col),
        F.posexplode("sig").alias("h_idx", "min_h"),
    )


def _portable_bands(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, bucket) rows from a ``_portable_sig`` table: band
    bucket = polynomial combine of the band's signature rows mod P31
    (SQL-reproducible). Shared by the self-join pair generator and
    the cross-corpus decontamination join."""
    rows_per_band = num_hashes // bands
    pows = _band_pows(rows_per_band)

    def bucket(b):
        # sum of (sig[j]*C^j mod P) stays < bands*P < 2^36 — no overflow
        acc = sum(
            (F.element_at("sig", b * rows_per_band + j + 1) * F.lit(pows[j]))
            % F.lit(_P31)
            for j in range(rows_per_band)
        )
        return (acc % F.lit(_P31)).alias("bucket")

    return sig.select(
        "id",
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band"), bucket(b)) for b in range(bands)])
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def decontaminate_near(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """FUZZY benchmark decontamination: near-duplicate matches
    between the training corpus and an eval corpus by portable
    MinHash-LSH — the contamination exact n-gram overlap
    (``decontaminate`` / ``decontaminate_spans``) misses when the
    leaked eval item was paraphrased, reformatted, or lightly edited
    (the Lee et al. 2022 observation that near-duplicates carry the
    same memorization risk as exact ones applies doubly to eval
    leakage). Returns (id_col, bench_id, est_jaccard) for every
    corpus×benchmark candidate pair clearing ``threshold`` —
    anti-join the corpus against it to drop flagged docs, or feed the
    pairs to a review queue.

    Plan shape: both sides sign once (linear), band buckets from the
    shared polynomial combine, then ONE (band, bucket)-keyed
    equi-join RESTRICTED to cross-side pairs — candidates only where
    a corpus doc and a bench doc share a bucket, never all-pairs; the
    benchmark side is eval-set-sized, so Catalyst broadcasts it and
    the corpus pass is map-only at scale. Signature re-joins are
    id-keyed on the ≤candidate survivors (the minhash_lsh_pairs
    discipline). Both signature tables are eagerly localCheckpointed
    (round 13): each is consumed twice (banding + the candidate
    re-join), and without materialization every consumer re-runs the
    full tokenize→shingle→32-seed-fold pipeline over its corpus."""
    assert num_hashes % bands == 0
    sig_c = _portable_sig(
        df, text_col, id_col, num_hashes, shingle_n
    ).localCheckpoint(eager=True)
    sig_b = _portable_sig(
        benchmark, text_col, bench_id_col, num_hashes, shingle_n
    ).localCheckpoint(eager=True)
    return _near_matches_from_sigs(
        sig_c, sig_b, num_hashes, bands, threshold, id_col
    )


def _near_matches_from_sigs(
    sig_c: DataFrame,
    sig_b: DataFrame,
    num_hashes: int,
    bands: int,
    threshold: float,
    id_col: str,
) -> DataFrame:
    """Cross-side banded candidate join + exact signature-overlap
    estimate from two prebuilt ``_portable_sig`` tables — the shared
    tail of ``decontaminate_near`` and the decontaminate-report
    shared-scan path (round 13)."""
    banded_c = _portable_bands(sig_c, num_hashes, bands)
    banded_b = _portable_bands(sig_b, num_hashes, bands)
    cand = (
        banded_c.withColumnRenamed("id", "__cid")
        .join(banded_b.withColumnRenamed("id", "__bid"), ["band", "bucket"])
        .select("__cid", "__bid")
        .distinct()
    )
    cand = cand.join(
        sig_c.select(F.col("id").alias("__cid"), F.col("sig").alias("sig_a")),
        "__cid",
    ).join(
        sig_b.select(F.col("id").alias("__bid"), F.col("sig").alias("sig_b")),
        "__bid",
    )
    overlap = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    return (
        cand.select(
            F.col("__cid").alias(id_col),
            F.col("__bid").alias("bench_id"),
            (overlap / F.lit(num_hashes)).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= float(threshold))
    )


def decontaminate_report(
    train_docs: DataFrame,
    bench_docs: DataFrame,
    corpus_emb: DataFrame,
    bench_emb: DataFrame,
    n: int = 4,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    dim: int = 64,
    tau: float = 0.98,
    text_col: str = "text",
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
) -> DataFrame:
    """LAYERED decontamination verdict — the e2e composition a
    production pipeline actually runs before training: every doc is
    checked against the eval set by (1) EXACT n-gram overlap
    (``decontaminate``), (2) FUZZY MinHash-LSH near-duplication
    (``decontaminate_near`` — paraphrased/lightly-edited leaks), and
    (3) SEMANTIC embedding proximity
    (``similarity.decontaminate_semantic`` — translated/re-rendered
    leaks with no shared n-grams). One layer alone under-flags: Lee
    et al. 2022 for (1) vs (2); the embedding layer is standard in
    current decontamination stacks for (3).

    Returns one row per doc flagged by ANY layer:
    (id_col, hit_exact, hit_near, hit_semantic) with 0/1 integer
    flags — anti-join the corpus against it for the clean set, or
    group by the flag triple for the layer-overlap census. Text and
    embedding corpora are joined on id (docs without an embedding
    simply can't be semantically flagged — layer coverage is a
    per-modality fact, not an error).

    Scale shape: each layer keeps its own documented plan (gram
    join / banded cross-side LSH / bench-broadcast map-only scan);
    the combiner is a three-way FULL outer join of id-distinct flag
    sets — output-sized, never corpus-sized.

    The exact and MinHash layers share ONE tokenize pass per side
    (round 13, VERDICT r12 item 5): each side is scanned once into an
    eagerly localCheckpointed (id, toks, sig) table — the n-gram
    layer derives its shingle strings from ``toks`` and the near
    layer reads the prebuilt ``sig`` — instead of each layer
    re-running lower/trim/split (and the near layer its 32-seed
    MinHash fold, twice) over the same text. At warehouse scale this
    intermediate is the step you'd persist to a table; the
    checkpoint blocks release with the returned DataFrame."""
    from demv_spark.operators.similarity import decontaminate_semantic

    def _tok_sig(docs: DataFrame) -> DataFrame:
        toks = tokens(text_col)
        sh_min = F.array_distinct(_shingles_of(F.col("toks"), shingle_n))
        return (
            docs.select(F.col(id_col).alias("id"), toks.alias("toks"))
            .select(
                "id",
                "toks",
                F.when(
                    F.size(sh_min) > 0, _portable_sig_expr(sh_min, num_hashes)
                ).alias("sig"),
            )
            .localCheckpoint(eager=True)
        )

    base_c = _tok_sig(train_docs)
    base_b = _tok_sig(bench_docs)

    def _sh_exact(base: DataFrame) -> DataFrame:
        return base.select(
            "id",
            F.explode(
                F.array_distinct(_shingles_of(F.col("toks"), n))
            ).alias("__sh"),
        )

    exact = (
        _sh_exact(base_c)
        .join(_sh_exact(base_b).select("__sh").distinct(), "__sh")
        .select(F.col("id").alias(id_col))
        .distinct()
        .withColumn("hit_exact", F.lit(1))
    )
    sig_c = base_c.filter(F.col("sig").isNotNull()).select("id", "sig")
    sig_b = base_b.filter(F.col("sig").isNotNull()).select("id", "sig")
    near = (
        _near_matches_from_sigs(
            sig_c, sig_b, num_hashes, bands, threshold, id_col
        )
        .select(id_col).distinct()
        .withColumn("hit_near", F.lit(1))
    )
    sem = (
        decontaminate_semantic(
            corpus_emb, bench_emb, dim=dim, tau=tau,
            id_col=vec_id_col, bench_id_col=vec_id_col,
        )
        .select(F.col(vec_id_col).alias(id_col)).distinct()
        .withColumn("hit_semantic", F.lit(1))
    )
    return (
        exact.join(near, id_col, "full")
        .join(sem, id_col, "full")
        .select(
            id_col,
            F.coalesce("hit_exact", F.lit(0)).cast("int").alias("hit_exact"),
            F.coalesce("hit_near", F.lit(0)).cast("int").alias("hit_near"),
            F.coalesce("hit_semantic", F.lit(0)).cast("int")
            .alias("hit_semantic"),
        )
    )


def leakage_free_split(
    df: DataFrame,
    pairs: DataFrame,
    val_pct: int = 10,
    id_col: str = "doc_id",
    pair_a: str = "id_a",
    pair_b: str = "id_b",
    seed: int = 7,
) -> DataFrame:
    """Contamination-safe train/validation split (round 12, ninth
    wave): the split decision is made per near-dup CLUSTER, not per
    document — every member of a connected component of ``pairs``
    lands on the same side, so a validation item can never be a
    near-copy of a training item. A per-doc random split silently
    allows exactly that leak (near-dups straddle the boundary with
    probability 2·p·(1−p) per pair), which inflates eval metrics the
    same way benchmark contamination does; splitting on the component
    label closes the hole by construction.

    Returns (``id_col``, cluster_id, side) for EVERY input doc — docs
    in no pair are their own singleton cluster — with
    side = 'val' iff portable_hash('split{seed}:' || cluster_id)
    % 100 < ``val_pct``. Everything is a pure function of the data
    (md5-portable), so the assignment reproduces across engines,
    partitionings and retries, and the oracle recomputes it exactly.

    Scale shape: components close in O(log n) shuffle rounds
    (``duplicate_clusters`` large/small-star); the side decision is
    map-only arithmetic on the cluster label; the only other work is
    one left join of the doc universe against the component labels
    (pair-bounded, usually far smaller than the corpus)."""
    from demv_spark.functions.compat import portable_hash

    cc = duplicate_clusters(
        pairs.select(F.col(pair_a).alias("id_a"), F.col(pair_b).alias("id_b"))
    )
    out = (
        df.select(F.col(id_col)).distinct()
        .join(cc.withColumnRenamed("doc_id", id_col), id_col, "left")
        .withColumn(
            "cluster_id", F.coalesce("cluster_id", F.col(id_col))
        )
    )
    side = F.when(
        F.pmod(
            portable_hash(
                F.concat(
                    F.lit(f"split{seed}:"),
                    F.col("cluster_id").cast("string"),
                )
            ),
            F.lit(100),
        )
        < int(val_pct),
        F.lit("val"),
    ).otherwise(F.lit("train"))
    return out.withColumn("side", side)


def minhash_lsh_pairs_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """LSH candidate pairs with the portable hash family: band bucket
    = polynomial combine of the band's signature rows mod P31 (both
    the banding and the signature arithmetic are SQL-reproducible).
    Returns (id_a, id_b, est_jaccard) like minhash_lsh_pairs; same
    linear explode → equi-join → ids-only distinct → broadcast
    signature re-join plan."""
    assert num_hashes % bands == 0
    # eager localCheckpoint, not persist (round 13 — see
    # minhash_lsh_pairs): blocks release with the returned DataFrame
    sig = _portable_sig(df, text_col, id_col, num_hashes, shingle_n)
    sig = sig.localCheckpoint(eager=True)
    banded = _portable_bands(sig, num_hashes, bands)
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sigs_a = sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sigs_b = sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    # plain id-keyed joins (see minhash_lsh_pairs: the signature
    # table is corpus-sized — never force-broadcast it)
    cand = cand.join(sigs_a, "id_a").join(sigs_b, "id_b")
    overlap = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    return cand.select(
        "id_a", "id_b", (overlap / F.lit(num_hashes)).alias("est_jaccard")
    )


def simhash_portable(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """SimHash over the portable token hash — 32-bit signature whose
    per-bit majority votes (and thus the exact fingerprint integer)
    are SQL-reproducible. Same single-fold, map-only shape as
    simhash(). Returns (id_col, fp long)."""
    assert 1 <= bits <= 32
    th = F.transform(tokens(text_col), lambda t: portable_hash(t))
    n_tok = F.size(tokens(text_col))
    bit_idx = F.array(*[F.lit(i).cast("int") for i in range(bits - 1, -1, -1)])
    init = F.array_repeat(F.lit(0).cast("long"), bits)
    counts = F.aggregate(
        th,
        init,
        lambda acc, h: F.zip_with(
            acc, bit_idx, lambda a, b: a + F.bit_get(h, b).cast("long")
        ),
    )
    fp = F.aggregate(
        counts,
        F.lit(0).cast("long"),
        lambda s, c: s * 2 + F.when(c * 2 > n_tok, F.lit(1)).otherwise(F.lit(0)),
    )
    return df.select(F.col(id_col), fp.alias("fp"))


def _canonical_edges(edges: DataFrame) -> DataFrame:
    """Undirected edge set as distinct (hi, lo) pairs, self-loops and
    NULL endpoints dropped."""
    hi = F.greatest("src", "dst")
    lo = F.least("src", "dst")
    return (
        edges.filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .select(hi.alias("src"), lo.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star step: every node connects its strictly-larger
    neighbors to its minimum neighborhood label min(N(u) ∪ {u})."""
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    m = sym.groupBy("src").agg(F.least(F.min("dst"), F.first("src")).alias("m"))
    return _canonical_edges(
        sym.filter(F.col("dst") > F.col("src"))
        .join(m, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star step: orient edges toward the smaller endpoint; each
    node links its smaller neighbors (and itself) to the minimum."""
    directed = edges  # already canonical (src > dst): neighbors below src
    m = directed.groupBy("src").agg(F.min("dst").alias("m"))
    linked = (
        directed.join(m, "src")
        .filter(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_link = m.select(F.col("src"), F.col("m").alias("dst"))
    return _canonical_edges(linked.union(self_link))


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over a candidate-pair graph → duplicate
    clusters labeled by their minimum member id.

    The last step of a real corpus-dedup pipeline: LSH/Jaccard pair
    generation yields EDGES (a~b, b~c), but dedup must drop whole
    transitive groups, so pairs have to be closed into components
    before a canonical representative can be kept per group.

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — the
    standard shuffle-based CC algorithm. Each round is two
    groupBy+join passes keyed on node id; the edge set converges to a
    star per component (every member → component min) in O(log n)
    rounds regardless of component diameter, unlike naive min-label
    flooding which needs O(diameter) rounds. Duplicate clusters in
    practice are shallow, so 3-5 rounds close sf-scale graphs; the
    log bound is what makes the same plan safe on a 100 TB pair set.
    Per round the lineage is truncated with an eager localCheckpoint
    — without it the iterated plan grows exponentially and Catalyst
    re-optimizes the whole history each round. Convergence is
    detected by an order-insensitive (count, xor of pair-hashes)
    checksum's aggregate is the action that MATERIALIZES a LAZY
    localCheckpoint (round 13, VERDICT r12 item 4): the edge set is
    computed once inside the checksum job and its blocks cached by
    the checkpoint machinery as they stream through — one pass per
    round instead of an eager checkpoint job plus a separate
    full-edge-set collect. (An ``observe()`` fusion was measured
    equivalent but is UNUSABLE: registering any Observation
    initializes the session's lazily-created ObservationManager, a
    non-serializable field that then breaks Java serialization of
    every later MLlib model closure — q_ml_out_of_fold failed the
    full gate until the Observation was removed.)

    Returns (doc_id, cluster_id) for every node that appears in
    ``pairs``; cluster_id = min doc id of the component. Reference
    analogue: none (the reference dedups nothing); this extends
    SURVEY §2 dedup family D with the grouping step.
    """

    # DataFrame.unpersist() does NOT release localCheckpoint blocks
    # (they are RDD-level, CacheManager-free, normally freed only when
    # the ContextCleaner notices the RDD is garbage — i.e. on some
    # later JVM GC). Measured: every superseded round's edge blocks
    # stayed pinned for the call's lifetime. Each round's own
    # checkpoint RDD (the LogicalRDD under the checkpointed frame, as
    # in evaluation._owned_checkpoint) is released deterministically
    # once the NEXT round has materialized (its checkpoint no longer
    # reads it); only the final round — the returned result — stays,
    # ContextCleaner-managed. No other RDD is touched, so concurrent
    # callers' pinned RDDs survive.
    def _ckpt_with_checksum(e: DataFrame):
        ck = e.localCheckpoint(eager=False)
        row = ck.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0).cast("long")
            ).alias("h"),
        ).collect()[0]
        return ck, (row["n"], row["h"]), ck._jdf.queryExecution().logical().rdd()

    edges, prev, rdd = _ckpt_with_checksum(
        _canonical_edges(
            pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        )
    )

    for _ in range(max_iter):
        nxt, cur, nrdd = _ckpt_with_checksum(_small_star(_large_star(edges)))
        rdd.unpersist(False)
        edges, rdd = nxt, nrdd
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"duplicate_clusters: no convergence in {max_iter} rounds")

    # at the fixpoint every canonical edge is (member, root)
    members = edges.select(F.col("src").alias("doc_id"), F.col("dst").alias("cluster_id"))
    roots = edges.select(F.col("dst").alias("doc_id"), F.col("dst").alias("cluster_id")).distinct()
    return members.union(roots)


def canonical_filter(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop every duplicate-cluster member except the canonical
    (minimum-id) representative. Left-anti join on the id — docs
    that never appeared in a candidate pair pass through untouched.
    The non-canonical id list is the only thing shuffled; the corpus
    itself streams through one hash join (broadcast when the dupe
    list is small, which it usually is)."""
    dupes = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(dupes, id_col, "left_anti")


def first_wins_matches(
    scored_pairs: DataFrame,
    threshold: float,
    id_a: str = "id_a",
    id_b: str = "id_b",
    est: str = "est_jaccard",
) -> DataFrame:
    """First-wins duplicate verdicts from scored candidate pairs:
    each doc that clears ``threshold`` against any smaller id is
    rejected, attributed to its SMALLEST matching id (deterministic).
    The batch twin of the streaming maintainer's per-batch rule
    (streaming/dedup_stream.py) — one filter + one min_by aggregate,
    shuffle keyed on the rejected id only. The score column keeps the
    CALLER'S name (``est``): hardcoding est_jaccard would mislabel an
    exact-jaccard input as an estimate and silently mix semantics in
    a unionByName."""
    return (
        scored_pairs.filter(F.col(est) >= threshold)
        .groupBy(F.col(id_b).alias("doc_id"))
        .agg(F.min_by(F.struct(id_a, est), id_a).alias("m"))
        .select(
            "doc_id",
            F.col(f"m.{id_a}").alias("dup_of"),
            F.col(f"m.{est}").alias(est),
        )
    )


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    window: int = 8,
    min_shared: int = 2,
    max_df: int = 50,
) -> DataFrame:
    """Local-overlap candidate pairs from winnowing fingerprints
    (SIGMOD'03 matching step): documents sharing ≥ ``min_shared``
    selected fingerprints are overlap candidates. Winnowing keeps
    ~2/(window+1) of the shingles, so the inverted index here is an
    order of magnitude smaller than the raw-shingle index of
    ``ngram_jaccard_pairs`` — the cheap first pass for
    plagiarism-style local overlap (a guaranteed hit for any shared
    run of ≥ window + n − 1 tokens per fingerprint theory).

    Same scale discipline as the Jaccard index: document frequency is
    capped at ``max_df`` through the one-exchange count window (a
    fingerprint shared by thousands of docs is boilerplate, not
    signal), and pair explosion happens per capped posting list, so
    pair volume is bounded by df²·|index| with df ≤ max_df.
    Returns (id_a, id_b, shared), id_a < id_b.
    """
    from demv_spark.operators.text import winnow_fingerprints

    fps = winnow_fingerprints(df, text_col, id_col, n, window).select(
        F.col(id_col).alias("id"), F.col("fp").alias("sh")
    )
    w = Window.partitionBy("sh")
    capped = fps.withColumn("__df", F.count(F.lit(1)).over(w)).filter(
        F.col("__df") <= max_df
    )
    postings = (
        capped.groupBy("sh")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    k = F.size("ids")
    pair_arr = F.flatten(
        F.transform(
            F.sequence(F.lit(1), k - 1),
            lambda i: F.transform(
                F.slice(F.col("ids"), i + 1, k - i),
                lambda j: F.struct(
                    F.element_at(F.col("ids"), i).alias("id_a"), j.alias("id_b")
                ),
            ),
        )
    )
    return (
        postings.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def incremental_admission(
    batch: DataFrame,
    existing_fps: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "fp",
    verdict_col: str = "verdict",
) -> DataFrame:
    """Batch-ingest admission — the daily-delta twin of
    ``exact_dedup``: per batch row, verdict ``dup_corpus`` (its
    fingerprint already exists in the corpus store), ``dup_batch``
    (a smaller-id row in the SAME batch carries the same new
    fingerprint — first-wins, deterministic), or ``admitted``.
    Admitted rows' fingerprints are what you append to the store,
    keeping ingest idempotent across re-runs.

    ``existing_fps`` needs only the fingerprint column; it is
    deduplicated here so a non-unique store can never fan out batch
    rows. NULL fingerprints never match the store (SQL join
    semantics) and compete first-wins among themselves — normalize
    upstream if NULL should mean reject.

    Scale shape: the within-batch rank window and the store join are
    BOTH keyed on the fingerprint, so the batch is shuffled once and
    the exchange is reused. The store side shuffles once for its
    distinct (skip by declaring the store pre-bucketed by fp — then
    the whole plan is one batch shuffle). A daily batch is usually
    ≪ the store: Spark's SMJ streams the store side, and at extreme
    asymmetry broadcast the BATCH's distinct fps into a semi-join
    instead (flip callers: the store never broadcasts).
    """
    store = (
        existing_fps.select(F.col(fp_col).alias("__fp"))
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    w = Window.partitionBy(fp_col).orderBy(id_col)
    b = batch.withColumn("__rk", F.row_number().over(w))
    j = b.join(store, b[fp_col] == F.col("__fp"), "left")
    verdict = (
        F.when(F.col("__hit").isNotNull(), F.lit("dup_corpus"))
        .when(F.col("__rk") > 1, F.lit("dup_batch"))
        .otherwise(F.lit("admitted"))
    )
    return j.select(*batch.columns, verdict.alias(verdict_col))


def cross_doc_dup_rate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-document cross-corpus n-gram duplication: of the doc's
    DISTINCT word n-grams, how many occur in at least one OTHER
    document — the C4/RefinedWeb "duplicated n-gram fraction"
    curation signal (docs that mostly restate corpus-common text are
    boilerplate/spam candidates even when no single pair clears a
    near-dup threshold). Returns (id, n_ngrams, n_shared) as exact
    integers; divide downstream for the rate. Docs with fewer than
    ``n`` tokens have no n-grams and are absent (the family's
    convention, same as ngram_containment_pairs).

    Plan: distinct (doc, shingle) explode (linear) → document-
    frequency via a count window over the shingle key → per-doc
    re-aggregate. Two shuffles total; the window keeps rows so the
    shingle exchange feeds the shared-flag directly (the
    ngram_jaccard_pairs lesson: a census + re-join would shuffle the
    shingle set twice more). No pair explosion anywhere — cost is
    linear in total distinct shingle occurrences at any corpus size."""
    sh = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(F.col(text_col), n))).alias("__sh"),
    )
    w = Window.partitionBy("__sh")
    flagged = sh.withColumn(
        "__shared", (F.count(F.lit(1)).over(w) >= 2).cast("long")
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_ngrams"),
        F.sum("__shared").alias("n_shared"),
    )


def best_of_cluster(
    clusters: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "quality",
) -> DataFrame:
    """Per-cluster canonical selection by QUALITY: production dedup
    keeps the BEST copy of a duplicate group, not the smallest id —
    e.g. the longest / highest-quality-score variant of a mirrored
    page. Winner = (max quality, tie → min id); returns every cluster
    member as (doc_id, cluster_id, quality, keep) so both the
    keep-set and the drop-set are one filter away.

    ``clusters`` is ``duplicate_clusters`` output (doc_id,
    cluster_id); ``quality`` is any (id, quality) table — ints or
    floats (ints recommended for cross-engine exactness). Plan: one
    id-keyed join of membership to quality, then a partial-aggregate
    argmax per cluster (max_by on a (quality, -id) struct — the
    linkage best-match pattern, NOT a window: the shuffle carries one
    partial winner per cluster per map task) joined back to flag
    members. Rows of ``clusters`` with no quality row — or a NULL
    quality — are dropped (NULL struct fields order differently
    across engines; score everything upstream)."""
    qd = quality.select(
        F.col(id_col).alias("doc_id"), F.col(quality_col).alias("quality")
    ).filter(F.col("quality").isNotNull())
    m = clusters.join(qd, "doc_id")
    # two partial aggregates instead of max_by on (quality, -id):
    # negation would break for the non-numeric ids duplicate_clusters
    # legitimately carries — max quality first, then min id among the
    # max-quality rows, both type-generic
    winners = (
        m.groupBy("cluster_id")
        .agg(F.max("quality").alias("__qmax"))
        .join(m, "cluster_id")
        .filter(F.col("quality") == F.col("__qmax"))
        .groupBy("cluster_id")
        .agg(F.min("doc_id").alias("__winner"))
    )
    return (
        m.join(winners, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "quality",
            (F.col("doc_id") == F.col("__winner")).alias("keep"),
        )
    )


def repeated_ngram_census(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_df: int = 2,
    max_df: "int | None" = None,
) -> DataFrame:
    """Per-document repeated-substring exposure at token-n-gram
    granularity — the census behind Lee et al. 2022's "Deduplicating
    Training Data Makes Language Models Better" exact-substring
    dedup: a position whose n-gram also occurs in ≥ ``min_df``
    documents is memorization-prone training signal. Returns one row
    per document: ``n_grams`` (total n-gram positions),
    ``n_repeated_pos`` (positions whose gram reaches corpus document
    frequency ≥ min_df) and ``n_distinct_repeated`` (distinct such
    grams in the doc) — all exact BIGINTs, the inputs to a
    drop/trim policy (Lee et al. remove spans; the census is the
    decision table that sizes that removal before paying for it).

    Reference scope note: the reference has no corpus-dedup surface;
    this extends the repo's dedup family (ngram_jaccard/containment
    measure PAIRWISE overlap — this measures each doc's overlap with
    the WHOLE corpus, which pairwise misses when a phrase is spread
    thinly across thousands of docs).

    Plan shape: one posexplode of the gram array (linear), ONE
    shuffle of the distinct (doc, gram) set for the document-
    frequency census, and one gram-keyed join back onto positions.
    The df census is map-side combined; per-doc aggregation carries a
    bounded ``collect_set`` (≤ doc length). ``max_df`` optionally
    drops stop-phrase grams (df > max_df) from the repeated set — at
    100 TB the df head is boilerplate (the ngram_jaccard cap lesson);
    dropped grams still count in ``n_grams``."""
    from demv_spark.operators.text import tokens  # noqa: F401 (twin doc)

    sh = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(shingles(text_col, n)).alias("pos", "sh"),
    )
    docsh = sh.select("id", "sh").distinct()
    dfc = docsh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    rep = dfc.filter(F.col("df") >= int(min_df))
    if max_df is not None:
        rep = rep.filter(F.col("df") <= int(max_df))
    joined = sh.join(
        rep.select("sh", F.lit(1).alias("__r")), "sh", "left"
    )
    return (
        joined.groupBy(F.col("id").alias(id_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.when(F.col("__r").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_repeated_pos"),
            F.size(
                F.array_distinct(
                    F.collect_list(
                        F.when(F.col("__r").isNotNull(), F.col("sh"))
                    )
                )
            )
            .cast("long")
            .alias("n_distinct_repeated"),
        )
    )


def span_trim(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_df: int = 2,
    max_df: "int | None" = None,
) -> DataFrame:
    """Exact-substring span REMOVAL — the dedup action
    ``repeated_ngram_census`` is the decision table for (Lee et al.
    2022 "Deduplicating Training Data Makes Language Models Better"):
    every token covered by a corpus-repeated n-gram (document
    frequency ≥ ``min_df``, optionally ≤ ``max_df`` to spare
    stop-phrases) is dropped from the document, and adjacent/
    overlapping covered windows merge into maximal spans so a long
    verbatim quote is removed once, not per-position.

    Returns one row per input document:
    ``(id_col, text_col [trimmed], n_tokens_before, n_tokens_after,
    n_spans_removed)`` — the integer census plus the surviving text
    (surviving tokens re-joined with single spaces; the original
    inter-token whitespace is not reconstructed, matching
    ``tokens()``'s canonicalization). Documents with no repeated
    grams (including docs shorter than ``n`` tokens) pass through
    with ``n_spans_removed = 0``.

    Reference scope note: the reference engine has no corpus-dedup
    surface; this completes the repo's Lee-et-al pair (census →
    removal) in the dedup family.

    Plan shape (all linear): one posexplode of the gram positions,
    ONE shuffle of the distinct (doc, gram) set for the df census
    (map-side combined), a gram-keyed join back onto positions, one
    (doc)-keyed window pass that merges covered windows into maximal
    spans (lag + running span id — the sessionize idiom), and one
    join of the span lists (bounded by doc length) onto the
    documents. No UDFs; the trim itself is a higher-order filter
    evaluated row-local."""
    docs = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))

    sh = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(shingles(text_col, n)).alias("__pos", "__sh"),
    )
    dfc = (
        sh.select("__id", "__sh")
        .distinct()
        .groupBy("__sh")
        .agg(F.count(F.lit(1)).alias("__df"))
    )
    rep = dfc.filter(F.col("__df") >= int(min_df))
    if max_df is not None:
        rep = rep.filter(F.col("__df") <= int(max_df))
    starts = sh.join(rep.select("__sh"), "__sh").select("__id", "__pos")
    return _trim_covered(docs, starts, n, 0, id_col, text_col)


def _trim_covered(
    docs: DataFrame,
    starts: DataFrame,
    n: int,
    margin: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Shared tail of the span-removal family: merge the covered
    windows [p − margin, p + n − 1 + margin] of the (``__id``,
    ``__pos``) start positions into maximal spans (lag + running
    span-id — a start whose gap to the previous exceeds
    n + 2·margin opens a new span; equality is adjacency and
    merges), then drop every covered token from ``docs`` (``__id``,
    ``__text``) and emit the trimmed text + integer census."""
    reach = n + 2 * int(margin)
    w = Window.partitionBy("__id").orderBy("__pos")
    flagged = starts.withColumn(
        "__new",
        F.when(
            F.lag("__pos").over(w).isNull()
            | ((F.col("__pos") - F.lag("__pos").over(w)) > reach),
            1,
        ).otherwise(0),
    ).withColumn(
        "__sid",
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    spans = (
        flagged.groupBy("__id", "__sid")
        .agg(
            F.greatest(
                F.min("__pos") - F.lit(int(margin)), F.lit(0)
            ).alias("s"),
            (F.max("__pos") + F.lit(n - 1 + int(margin))).alias("e"),
        )
        .groupBy("__id")
        .agg(
            F.sort_array(F.collect_list(F.struct("s", "e"))).alias("__spans")
        )
    )

    joined = docs.join(spans, "__id", "left")
    tk = tokens(F.col("__text"))
    sp = F.coalesce(
        F.col("__spans"),
        F.array().cast("array<struct<s:int,e:int>>"),
    )
    kept = F.filter(
        tk,
        lambda x, i: ~F.exists(
            sp, lambda r: (i >= r["s"]) & (i <= r["e"])
        ),
    )
    return joined.select(
        F.col("__id").alias(id_col),
        F.array_join(kept, " ").alias(text_col),
        F.size(tk).cast("long").alias("n_tokens_before"),
        F.size(kept).cast("long").alias("n_tokens_after"),
        F.coalesce(F.size("__spans"), F.lit(0))
        .cast("long")
        .alias("n_spans_removed"),
    )


def decontaminate_spans(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    margin: int = 0,
) -> DataFrame:
    """Span-level benchmark decontamination — the surgical form of
    ``decontaminate``: instead of DROPPING every training document
    sharing an n-gram with the eval corpus, remove just the
    contaminated token spans (each benchmark-matching n-gram window,
    widened by ``margin`` tokens each side, overlaps merged into
    maximal spans) and keep the rest of the document — the GPT-3
    appendix-C style dirty-window removal (Brown et al. 2020 removed
    a fixed window around each collision rather than whole docs,
    preserving training tokens eval-dropping would burn).

    Returns the ``span_trim`` shape: (id_col, text_col [trimmed],
    n_tokens_before, n_tokens_after, n_spans_removed); documents with
    no benchmark overlap pass through with n_spans_removed = 0.

    Plan shape (all linear): one posexplode of the corpus gram
    positions, one distinct over the benchmark's grams (eval sets are
    tiny next to the corpus, so Catalyst broadcasts the join), one
    (doc)-keyed span-merge window pass, and one join of the span
    lists onto the documents — ``decontaminate``'s join cost plus the
    ``span_trim`` merge, nothing quadratic anywhere."""
    docs = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
    sh = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(shingles(text_col, n)).alias("__pos", "__sh"),
    )
    sh_bench = (
        benchmark.select(
            F.explode(F.array_distinct(shingles(text_col, n))).alias("__sh")
        ).distinct()
    )
    starts = sh.join(sh_bench, "__sh").select("__id", "__pos")
    return _trim_covered(docs, starts, n, margin, id_col, text_col)
