"""Deduplication for LLM-data pipelines (SURVEY §2.10): exact, MinHash+LSH,
SimHash, n-gram Jaccard.

Scale design (the whole point of these operators at 100 TB):
  * exact dedup: one hash-aggregate shuffle on the fingerprint — never a
    self-join on raw text.
  * near-dedup: NEVER all-pairs. MinHash signatures are computed per-row
    (narrow, codegen'd higher-order functions — no Python), candidate pairs
    come from an LSH *band bucket equi-join* (shuffle on band hash, so cost
    is Σ bucket², not n²), and exact Jaccard verification runs only on
    candidates.
  * All hashing is md5-based → engine-portable (identical in DuckDB), which
    is what makes the near-dup pipeline oracle-checkable end to end.

MinHash/LSH background: Broder '97 resemblance sketches; banding analysis as
in Mining of Massive Datasets ch.3. With b bands of r rows the candidate
threshold is ≈ (1/b)^(1/r).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from apache_flink_essentials_spark.functions import sql_ident
from apache_flink_essentials_spark.operators.skew import hot_bucket_salted_join
from apache_flink_essentials_spark.operators.text import tokens_expr, tokens_sql
from apache_flink_essentials_spark.session import (
    driver_frame,
    driver_small_path,
    loop_conf,
    loop_partitions,
)


def text_fingerprint_expr(text_col: str = "text") -> Column:
    """md5 of whitespace-normalized lower-cased text — THE whole-document
    fingerprint every exact-dedup consumer (operators, registry oracles,
    reports) must share; one definition so tokenization changes cannot
    silently diverge between them."""
    return F.md5(F.concat_ws(" ", tokens_expr(text_col)))


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups on normalized text: keep the min-id
    representative, count members. One hash-agg shuffle on a 128-bit md5 key
    (never shuffles the raw text payload at full width)."""
    normalized = text_fingerprint_expr(text_col)
    return (
        df.select(normalized.alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_dups"),
        )
    )


def exact_dedup_stream(
    df: DataFrame,
    ts_col: str,
    text_col: str = "text",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: keep the FIRST occurrence of each normalized
    text within the watermark horizon (``dropDuplicatesWithinWatermark`` —
    state GC'd once the watermark passes, so state stays bounded; the batch
    form `exact_dedup` is the unbounded-horizon equivalent).

    The fingerprint (md5 of normalized tokens) is the dedup key, so state
    holds 16-byte keys, not documents — same scale argument as the batch op.
    """
    normalized = text_fingerprint_expr(text_col)
    return (
        df.withColumn("fingerprint", normalized)
        .withWatermark(ts_col, watermark_delay)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def shingles_expr(text_col: str = "text", k: int = 3) -> Column:
    """k-token shingles (distinct) from whitespace tokens, all JVM-side.

    Built as a zip_with fold over k array SLICES instead of per-index
    element_at inside a transform lambda: expressions referenced inside a
    higher-order-function lambda are re-evaluated per element (no common-
    subexpression elimination across the lambda boundary — the same
    O(tokens²) pathology measured in repetition_stats), while top-level
    slices of the token array are CSE'd to one tokenization per row."""
    toks = tokens_sql(text_col)
    n = f"size({toks})"
    width = f"{n} - {k} + 1"
    zipped = f"slice({toks}, 1, {width})"
    for j in range(2, k + 1):
        zipped = (f"zip_with({zipped}, slice({toks}, {j}, {width}), "
                  "(a, b) -> concat_ws(' ', a, b))")
    return F.expr(f"CASE WHEN {n} >= {k} THEN array_distinct({zipped}) "
                  f"ELSE array(concat_ws(' ', {toks})) END")


def hashed_shingles_expr(shingles_col: str, seed: int) -> Column:
    """One md5 per shingle of column ``shingles_col`` per seed."""
    return F.expr(f"transform({sql_ident(shingles_col)}, s -> md5(concat('{seed}:', s)))")


def minhash_from_hashed(hashed_col: str, chunk: int) -> Column:
    """Min-hash from a precomputed md5 list: chunk c of the 32-hex digest is
    an independent 32-bit hash (md5 bits are uniform), so ONE md5 yields
    FOUR hash functions — 4× fewer digest computations than hashing per
    function. Lexicographic min over fixed-width lowercase hex ≡ numeric min
    — portable across engines."""
    return F.expr(f"array_min(transform({sql_ident(hashed_col)}, "
                  f"h -> substring(h, {chunk * 8 + 1}, 8)))")


def _tok_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_k: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared MinHash signature pipeline: the (id, tok_set, mh0..mh{n-1})
    signature frame plus the exploded (id, band_idx, band_hash) frame.
    Every stage narrow; the repartition spreads the md5-heavy signature
    work across cores (a single small parquet file would otherwise
    serialize it on one task).

    Null ids are dropped BEFORE the repartition: they join no candidate
    (``collect_list`` skips them, the join-back drops them), and the
    join-back's inferred ``isnotnull(id)`` filter is pushed below the
    repartition on that side only — without the explicit filter the two
    sides shuffle the same documents through two different exchanges
    instead of one reused exchange."""
    assert num_hashes % 4 == 0 and num_hashes // 4 >= 1
    num_seeds = num_hashes // 4
    rows_per_band = num_hashes // bands
    spark = df.sparkSession
    base = df.filter(F.col(id_col).isNotNull()).repartition(
        spark.sparkContext.defaultParallelism, F.col(id_col)
    ).select(
        F.col(id_col),
        F.array_distinct(tokens_expr(text_col)).alias("tok_set"),
        shingles_expr(text_col, shingle_k).alias("shingles"),
    )
    hashed = base.select(
        id_col,
        "tok_set",
        *[hashed_shingles_expr("shingles", s).alias(f"h{s}") for s in range(num_seeds)],
    )
    sig = hashed.select(
        id_col,
        "tok_set",
        *[
            minhash_from_hashed(f"h{i // 4}", i % 4).alias(f"mh{i}")
            for i in range(num_hashes)
        ],
    )
    band_cols = [
        F.expr("md5(concat_ws('|', " + ", ".join(
            f"mh{b * rows_per_band + r}" for r in range(rows_per_band)) + "))").alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sig.select(F.col(id_col), *band_cols)
    exploded = banded.select(
        F.col(id_col),
        F.expr(f"posexplode(array({', '.join(f'band{b}' for b in range(bands))}))").alias(
            "band_idx", "band_hash"
        ),
    )
    return sig, exploded


# exact Jaccard of the candidate sides' distinct-token sets
_TOKEN_JACCARD = "size(array_intersect(tok_a, tok_b)) / size(array_union(tok_a, tok_b))"


def _lsh_candidates(
    exploded: DataFrame,
    sides: DataFrame,
    id_col: str,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) of every band bucket of ``exploded``,
    each side's ``sides`` columns joined back in (column ``c`` arrives as
    ``c_a`` and ``c_b``).

    ONE groupBy (band_idx, band_hash) shuffle of (id, band) tuples, then
    all id<id pairs generated WITHIN each bucket (posexplode + slice —
    JVM-side, no Python): the only pairwise step, confined to same-bucket
    docs. A bucket of more than ``max_bucket_size`` ids is dropped."""
    buckets = (
        exploded.groupBy("band_idx", "band_hash")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    # all i<j pairs within a bucket: anchor row per position, slice() the
    # sorted tail — streams pairs without materializing an m² array
    candidates = (
        buckets.select(F.posexplode("ids").alias("i", "id_a"), F.col("ids"))
        .select(
            "id_a",
            F.explode(F.slice("ids", F.col("i") + F.lit(2), F.size("ids"))).alias("id_b"),
        )
        .distinct()
    )
    cols = [c for c in sides.columns if c != id_col]
    for side in ("a", "b"):
        candidates = candidates.join(
            sides.select(F.col(id_col).alias(f"id_{side}"),
                         *[F.col(c).alias(f"{c}_{side}") for c in cols]),
            on=f"id_{side}",
        )
    return candidates


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding + exact verification.

    Stages (each narrow until the single band-bucket shuffle):
      1. per-doc: shingles → num_hashes minhashes → bands hashes
      2. ONE groupBy (band_idx, band_hash) shuffle of (id, band) tuples,
         then all id<id pairs generated WITHIN each bucket (posexplode +
         slice — JVM-side, no Python) — the only pairwise step, confined
         to same-bucket docs
      3. exact Jaccard on candidates (array_intersect/union on distinct
         token sets), keep >= threshold

    Returns (id_a, id_b, jaccard) with id_a < id_b.

    PRODUCTION NOTE: the cap defaults to ``None`` (exact — every
    pair emitted, matching the DuckDB oracle on test fixtures). At
    100 TB ALWAYS set it: one uncapped hot bucket/block emits m²/2
    pairs in a single task. Recommended starting points and the
    recall argument are in SCALING.md §'Hot-block caps'.

    Performance structure (measured 70× faster than the naive all-pairs
    shape at sf0.1; the bucket-groupBy form below is another ~1.7× over a
    band self-join because the md5-heavy signature subtree is evaluated
    ONCE, not once per join side, and (id, band) is shuffled once, not
    twice):
      * explicit repartition before the signature stage — a single small
        parquet file otherwise serializes the md5-heavy work on one core
        (explicit count so AQE doesn't coalesce the CPU-bound stage away)
      * 2 md5 digests/shingle (chunked into 8 hash fns), not 8
      * the bucket shuffle carries ONLY (id, band) — token sets join back
        in for verification afterwards, so the wide arrays never enter the
        pairwise shuffle
      * skew note for 100 TB: a pathological bucket of m docs yields m²
        pairs; cap with ``max_bucket_size`` (oversized buckets are almost
        always boilerplate better handled by exact_dedup first)
    """
    sig, exploded = _tok_bands(
        df, id_col, text_col, num_hashes, bands, shingle_k
    )
    verified = _lsh_candidates(
        exploded, sig.select(id_col, F.col("tok_set").alias("tok")), id_col, max_bucket_size
    )
    # NO rounding: int/int division of identical operands is bit-identical
    # across engines, while decimal-string rounding (Spark) vs binary-scaled
    # rounding (DuckDB) DISAGREE on exact-boundary rationals like 1923/1920
    return (
        verified.withColumn("jaccard", F.expr(_TOKEN_JACCARD))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _cap_blocks(
    base: DataFrame, block_cols: list[str], max_block_size: int | None
) -> DataFrame:
    """Drop blocks larger than ``max_block_size`` BEFORE a blocked pairwise
    join — the `minhash_lsh_pairs` bucket-cap idiom applied to equi-join
    blocking. At 100 TB one hot block (all English web docs from one
    source) makes in-block pair generation quadratic; an m-doc block emits
    m² pairs no executor can hold. Oversized blocks are near-certainly
    boilerplate/skew better handled by exact dedup or a finer block key,
    so skipping them is the documented recall trade. The sizes table is one
    slim row per block key (keys + a count); with a HIGH-cardinality block
    key it is proportional to the number of distinct blocks, so we do NOT
    force a broadcast hint (which could OOM the driver at 100 TB) — the
    left_semi join lets AQE pick broadcast when the keys table is small
    and shuffle-hash when it is not."""
    if max_block_size is None:
        return base
    keep = (
        base.groupBy(*block_cols)
        .agg(F.count(F.lit(1)).alias("_block_n"))
        .filter(F.col("_block_n") <= max_block_size)
        .drop("_block_n")
    )
    return base.join(keep, on=block_cols, how="left_semi")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: list[str] | None = None,
    threshold: float = 0.5,
    max_block_size: int | None = None,
    max_token_df: int | None = None,
) -> DataFrame:
    """Exact n-gram (token-set) Jaccard over BLOCKED pairs: a cheap blocking
    key (default: same lang + same source) confines the quadratic step.
    Complement to minhash_lsh_pairs when a natural blocking key exists.
    ``max_block_size`` skips hot blocks entirely (see ``_cap_blocks``).

    Scale shape (round-11, the containment_pairs rewrite): for
    ``threshold > 0`` intersections come from a TOKEN-POSTING join —
    explode distinct tokens, self-equi-join on (block, token),
    count per pair — so only pairs that actually share a token ever
    materialize (any pair passing a positive threshold must), and
    ``jaccard = _i / (na + nb − _i)`` derives from the count plus a slim
    per-doc size relation. Work is ``Σ_token C(df_token, 2)``, bounded
    by co-occurrence instead of block-size² (the all-pairs join this
    replaces measured alpha≈1.8 super-linear on containment's identical
    shape). ``threshold <= 0`` asks for EVERY blocked pair including
    zero-intersection ones — only the all-pairs join can express that,
    so it falls back (and at scale is exactly the full quadratic it
    looks like). Heavy-hitter tokens (stopwords!) are the posting join's
    skew hazard — at 100 TB strip stopwords upstream or set
    ``max_block_size``.

    ``max_token_df`` (r12, the `containment_pairs.max_shingle_df` twin)
    is the posting join's LINEARIZER: tokens whose in-block document
    frequency exceeds it are dropped from the posting join but still
    counted in every doc's denominator, so capped jaccard is a
    guaranteed UNDER-estimate (no false positives — a pair glued only
    by ubiquitous tokens scores lower). With the cap, posting work is
    bounded by ``cap × Σ df`` — LINEAR in corpus size, where the
    uncapped form is ``Σ C(df, 2)`` (the r12 sf0.1→sf1 curve measured
    alpha 1.89 on the densifying fixture). Requires ``threshold > 0``.

    PRODUCTION NOTE: the cap defaults to ``None`` (exact — every
    pair emitted, matching the DuckDB oracle on test fixtures). At
    100 TB ALWAYS set it: one uncapped hot bucket/block emits m²/2
    pairs in a single task. Recommended starting points and the
    recall argument are in SCALING.md §'Hot-block caps'.
    """
    if max_token_df is not None and threshold <= 0:
        raise ValueError(
            "max_token_df requires threshold > 0 (the all-pairs fallback "
            "computes intersections from full arrays and cannot honor a "
            "posting-df cap)"
        )
    block_cols = block_cols or ["lang"]
    base = df.select(
        F.col(id_col), *[F.col(c) for c in block_cols], F.array_distinct(tokens_expr(text_col)).alias("tok")
    )
    base = _cap_blocks(base, block_cols, max_block_size)
    if threshold > 0:
        sized = base.select(
            F.col(id_col), *[F.col(c) for c in block_cols],
            F.col("tok"), F.size("tok").alias("_n"),
        )
        # r12: each doc's token-set size rides WITH its postings, so the
        # pair relation never joins back to a size table — the old form
        # joined the (duplicate-density-quadratic) pair table twice just
        # to attach _na/_nb, re-deriving the tokenize subtree each time
        # (guide §2.4: the pair table is the big relation here; widening
        # each posting row by one int is the cheap direction). NO
        # checkpoint on the postings: an interleaved A/B at sf0.1 read
        # ckpt 1.75 s vs no-ckpt 1.63 s for best_match — whitespace
        # tokenization is cheap enough that recomputing it for the
        # second join input beats materializing the posting relation
        # (contrast containment_pairs, whose k-shingle assembly is the
        # expensive subtree).
        posts = sized.select(
            F.col(id_col), *[F.col(c) for c in block_cols],
            F.explode("tok").alias("_t"),
            "_n",
        )
        if max_token_df is not None:
            # window count per (block, token): one pass over the
            # postings, same partitioning the join needs anyway (the
            # containment_pairs.max_shingle_df idiom)
            from pyspark.sql.window import Window as _W

            posts = (
                posts.withColumn(
                    "_df",
                    F.count(F.lit(1)).over(
                        _W.partitionBy(*block_cols, "_t")
                    ),
                )
                .filter(F.col("_df") <= max_token_df)
                .drop("_df")
            )
        # block_cols ride through the pair groupBy, so an id that appears
        # in several blocks (or on several rows) keeps per-(block, pair)
        # semantics — identical to the all-pairs form, which emitted one
        # row per block-pair (r11 advisory)
        inter_counts = (
            posts.select(
                F.col(id_col).alias("id_a"), *block_cols, "_t",
                F.col("_n").alias("_na"),
            )
            .join(
                posts.select(
                    F.col(id_col).alias("id_b"), *block_cols, "_t",
                    F.col("_n").alias("_nb"),
                ),
                on=[*block_cols, "_t"],
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy(*block_cols, "id_a", "id_b")
            .agg(
                F.count(F.lit(1)).cast("int").alias("_i"),
                # max(): the size is constant per doc side, so this just
                # rides the pair groupBy. Degenerate-input caveat (r12
                # advisory): an id appearing on MULTIPLE rows of one
                # block would now yield ONE pair row with the max size,
                # where the old size-table join fanned out one row per
                # size variant — the one-row-per-block-pair contract is
                # intended, not a regression, if such input ever shows.
                F.max("_na").alias("_na"),
                F.max("_nb").alias("_nb"),
            )
        )
        # unrounded int/int division — engine-portable (see minhash_lsh_pairs)
        return (
            inter_counts.withColumn(
                "jaccard",
                F.col("_i") / (F.col("_na") + F.col("_nb") - F.col("_i")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
    a = base.select(
        F.col(id_col).alias("id_a"), F.col("tok").alias("tok_a"), *[F.col(c) for c in block_cols]
    )
    b = base.select(
        F.col(id_col).alias("id_b"), F.col("tok").alias("tok_b"), *[F.col(c) for c in block_cols]
    )
    pairs = a.join(b, on=block_cols, how="inner").filter(F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect(F.col("tok_a"), F.col("tok_b")))
    union = F.size(F.array_union(F.col("tok_a"), F.col("tok_b")))
    # unrounded: see minhash_lsh_pairs — int/int division is engine-portable
    return (
        pairs.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_best_match(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: list[str] | None = None,
    threshold: float = 0.5,
    max_block_size: int | None = None,
    max_token_df: int | None = None,
) -> DataFrame:
    """Per-document BEST near-dup partner: for every doc with at least one
    blocked pair at ``jaccard ≥ threshold``, the single highest-jaccard
    partner (ties → smallest partner id). Output ``(doc_id, best_match_id,
    best_jaccard)`` — O(corpus) rows by construction.

    This is the corpus-bounded OUTPUT CONTRACT for pair-emitting dedup:
    `ngram_jaccard_pairs` emits one row per qualifying pair, and pair
    count grows with duplicate DENSITY squared, not corpus size — the
    sf0.1→sf1 scaling curve measured 97× output growth for 10× data
    (11.08M pairs at sf1). At 100 TB the pair list itself becomes the
    bottleneck regardless of join shape; downstream curation almost
    always wants a per-doc decision anyway (drop if best ≥ τ, or route
    to the rep via `dedup_clusters`).

    Scale shape: the posting join's pair stream feeds a groupBy(doc)
    with two conditional ``max_by`` — Catalyst PIPELINES the pairs into
    the aggregate's map-side partial combine, so the full pair relation
    is reduced to ≤|docs| rows per task BEFORE the exchange; the
    unbounded pair list is never shuffled or materialized. Both
    directions of each unordered pair are claimed by exploding (doc,
    partner) and (partner, doc) from one pair row.
    """
    pairs = ngram_jaccard_pairs(
        df,
        id_col=id_col,
        text_col=text_col,
        block_cols=block_cols,
        threshold=threshold,
        max_block_size=max_block_size,
        max_token_df=max_token_df,
    )
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("doc"),
                    F.col("id_b").alias("partner"),
                    F.col("jaccard"),
                ),
                F.struct(
                    F.col("id_b").alias("doc"),
                    F.col("id_a").alias("partner"),
                    F.col("jaccard"),
                ),
            )
        ).alias("_e")
    ).select("_e.doc", "_e.partner", "_e.jaccard")
    # max_by key (jaccard, -partner): highest score first, then the
    # SMALLEST partner id — a total order, so the pick is deterministic
    return (
        sym.groupBy(F.col("doc").alias(id_col))
        .agg(
            F.expr("max_by(partner, struct(jaccard, -partner))").alias(
                "best_match_id"
            ),
            F.max("jaccard").alias("best_jaccard"),
        )
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32) -> DataFrame:
    """SimHash fingerprint (Charikar '02): sum ±1 per bit over token hashes,
    sign → bit. Near-dups differ in few bits (Hamming distance).

    Portable construction: bit j of token t = parity of hex digit j of
    md5(t); contribution ±1; fingerprint bit = 1 if the sum > 0.
    bits ≤ 32 (md5 hex digits). Returns (id, simhash BIGINT).
    """
    # ONE md5 per token and ONE bit-sliced fold. Three generations,
    # measured at sf0.1 (5000 docs, hot):
    #   1. 32 aggregate() folds, one per bit, each re-deriving the md5
    #      array (HOF subtrees aren't CSE'd): md5 computed 32× per token;
    #      19.2 s at sf0.1 / 626.6 s at sf1 — the repo's slowest plan.
    #   2. one fold with an array<long> of 32 per-bit counters via
    #      zip_with: 2.6 s — the 32-element array allocation per TOKEN
    #      dominates.
    #   3. (this form, 0.76 s) bit-sliced counters: each token becomes one
    #      BIGINT parity mask — translate() maps each md5 hex digit to
    #      '0'/'1' by parity, conv(·, 2, 10) packs the 32-char string so
    #      mask bit (31−j) = parity of digit j+1 — and the fold adds the
    #      mask's bits into 8 BIGINT accumulators holding 4 sixteen-bit
    #      counter lanes each (pure shift/mask/add, no per-token
    #      allocation). Fingerprint bit j = 2·count_j − n_tokens > 0,
    #      algebraically identical to the per-bit ±1 sum (contrib_j =
    #      2·S_j − n), so results are bit-equal to the original
    #      construction and the DuckDB oracle twin is untouched.
    # The counts/n pair is bound ONCE via a single-element transform()
    # (HOFs have no let-binding; referencing the fold from the 32-term
    # fingerprint expression directly would re-evaluate it per term).
    # 16-bit lanes bound distinct-tokens-per-doc at 65535 — enforced with
    # an assert_true folded into the n field (same idiom as
    # graph.triangle_stats' packed-order guard).
    # Built as one SQL string: the Column-API HOF form pays a py4j round
    # trip per lambda literal.
    if bits != 32:
        raise ValueError("simhash bit-sliced fold is specified for bits=32")
    toks_sql = f"array_distinct({tokens_sql(text_col)})"
    mask_sql = (
        "cast(conv(translate(md5(t), '02468ace13579bdf', "
        "'0000000011111111'), 2, 10) as bigint)"
    )

    def _spread(lane: int) -> str:
        return " + ".join(
            f"shiftleft(shiftright(m, {31 - (4 * lane + s)}) & 1, {16 * s})"
            for s in range(4)
        )

    acc0 = ", ".join(["0L"] * 8)
    upd = ", ".join(f"acc[{lane}] + ({_spread(lane)})" for lane in range(8))
    counts = (
        f"aggregate(transform({toks_sql}, t -> {mask_sql}), "
        f"array({acc0}), (acc, m) -> array({upd}))"
    )
    n_guarded = (
        f"size({toks_sql}) + coalesce(cast(assert_true("
        f"size({toks_sql}) < 65536, "
        f"'simhash 16-bit counter lanes require < 65536 distinct tokens "
        f"per document') as bigint), 0L)"
    )
    fp = (
        f"element_at(transform("
        f"array(named_struct('c', {counts}, 'n', {n_guarded})), "
        f"st -> aggregate(sequence(0, {bits - 1}), 0L, "
        f"(a, j) -> a + IF(2L * (shiftright("
        f"element_at(st.c, cast(j / 4 as int) + 1), 16 * (j % 4)) & 65535) "
        f"- st.n > 0, shiftleft(1L, j), 0L))), 1)"
    )
    return df.selectExpr(f"`{id_col}`", f"{fp} AS simhash")


def _banded(
    keyed: DataFrame, id_alias: str, sh_alias: str, id_col: str, sh_col: str = "simhash"
) -> DataFrame:
    """Explode a ``(id, simhash, lo, hi)`` fingerprint relation into ONE
    band-keyed relation: ``lo`` becomes band ``2·lo`` and ``hi`` band
    ``2·hi + 1`` (disjoint by parity), so the two per-band self-joins the
    simhash operators used to run collapse into a SINGLE equi-join on
    ``_band`` — one hot-set aggregate and one salted shuffle instead of
    two of each (the r12 optimization pass measured the two-join form
    paying double stage floors for identical candidate output; a pair
    colliding in both bands still surfaces twice, exactly like the old
    union, and every caller dedups or min_by-aggregates downstream)."""
    return keyed.select(
        F.col(id_col).alias(id_alias),
        F.col(sh_col).alias(sh_alias),
        F.explode(
            F.array(F.col("lo") * 2, F.col("hi") * 2 + 1)
        ).alias("_band"),
    )


def simhash_dup_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup candidates: docs whose fingerprints agree on either
    half band (standard multi-index trick: hamming ≤ k pairs must collide on
    at least one of k+1 disjoint bands; here 2 bands ⇒ guarantees h ≤ 1,
    catches most h ≤ 2). Verified by exact popcount filter.

    Hot band buckets (e.g. boilerplate or empty docs sharing one
    fingerprint half) are salted via :func:`skew.hot_bucket_salted_join`
    so the quadratic within-bucket compare parallelizes instead of
    funneling into one task; pair output is identical."""
    half = bits // 2
    sh = simhash(df, id_col, text_col, bits)
    sh = sh.withColumn("lo", F.col("simhash") % (2 ** half)).withColumn(
        "hi", F.floor(F.col("simhash") / (2 ** half))
    )
    # the fingerprint relation feeds FOUR join inputs (a/b × two bands);
    # without a materialization barrier Spark recomputes the whole
    # fingerprint projection per input — 4× the corpus's most expensive
    # per-row pass for a relation of 3 slim columns (measured ~25 s per
    # recomputation at sf1). localCheckpoint materializes it once.
    sh = sh.localCheckpoint(eager=False)
    a = _banded(sh, "id_a", "sh_a", id_col)
    b = _banded(sh, "id_b", "sh_b", id_col)
    # hamming-filter INSIDE the band join, BEFORE the cross-band
    # dedup: popcount commutes with dropDuplicates, and the dedup is the
    # only pair-level EXCHANGE in the plan — unfiltered it shuffles the
    # whole candidate relation (the r12 shuffle-byte audit measured
    # 941 MB / 75M candidate records at sf1 on the dense synthetic
    # vocabulary, byte-alpha 1.92; filtered, the exchange carries only
    # actual near-dups, which is output-sized). The XOR/popcount work is
    # unchanged — it runs map-side in the join task either way.
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        hot_bucket_salted_join(a, b, "_band")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_best_match(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """Corpus-bounded contract over :func:`simhash_dup_pairs`: per doc, the
    band-colliding partner with the SMALLEST hamming distance (ties → the
    smallest partner id) → ``(doc_id, best_match_id, best_hamming)``.

    The pair LIST is quadratic in duplicate-group size — the r12
    shuffle-byte audit measured 64.5M result pairs / ~745 MB shuffled at
    sf1 on the dense synthetic vocabulary (byte-alpha 1.95), and ALL of
    it is the result relation itself. Here each band join's candidate
    stream feeds a map-side-combined ``min_by`` aggregate: pairs reduce
    to per-doc bests inside the join task, the only pair-level exchange
    carries ≤|corpus| rows, and cross-band / both-direction duplicates
    are harmless because min is idempotent under re-delivery."""
    half = bits // 2
    sh = simhash(df, id_col, text_col, bits)
    sh = sh.withColumn("lo", F.col("simhash") % (2 ** half)).withColumn(
        "hi", F.floor(F.col("simhash") / (2 ** half))
    )
    # materialize once — the banded join reads it from both sides
    # (see simhash_dup_pairs)
    sh = sh.localCheckpoint(eager=False)
    a = _banded(sh, "id_a", "sh_a", id_col)
    b = _banded(sh, "id_b", "sh_b", id_col)
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    cands = (
        hot_bucket_salted_join(a, b, "_band")
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.col("id_a").alias("doc"),
            F.col("id_b").alias("partner"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    return cands.groupBy(F.col("doc").alias(id_col)).agg(
        F.expr("min_by(partner, struct(hamming, partner))").alias("best_match_id"),
        F.min("hamming").alias("best_hamming"),
    )


def build_simhash_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """Persistable simhash fingerprint table for incremental dedup:
    ``(id, simhash, lo, hi, sig_bits)``. Write it once per corpus; later
    batches dedup against it via :func:`simhash_dedup_with_fingerprints`
    without ever re-hashing the corpus (the simhash mirror of
    :func:`build_signature_table` / ``near_dedup_with_signatures``).
    ``sig_bits`` is carried as a constant column so a mismatched-``bits``
    read fails fast instead of silently never colliding."""
    half = bits // 2
    return simhash(df, id_col, text_col, bits).select(
        F.col(id_col),
        "simhash",
        (F.col("simhash") % (2 ** half)).alias("lo"),
        F.floor(F.col("simhash") / (2 ** half)).alias("hi"),
        F.lit(bits).alias("sig_bits"),
    )


def simhash_dedup_with_fingerprints(
    new_df: DataFrame,
    fingerprint_table: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """Incremental simhash near-dedup: rows of ``new_df`` that do NOT
    collide (band match + hamming ≤ ``max_hamming``) with any corpus doc
    in a PREBUILT :func:`build_simhash_table` relation. Only the new
    batch is hashed; the corpus contributes its stored fingerprints —
    the 100 TB contract is that ingest cost is O(batch), never
    O(corpus).

    The banded join goes through :func:`skew.hot_bucket_salted_join`
    with the CORPUS as the counted side, so a hot corpus bucket
    (boilerplate fingerprints) replicates the SMALL batch side across
    salts — the cheap direction."""
    if "sig_bits" not in fingerprint_table.columns:
        raise ValueError(
            "fingerprint_table lacks a sig_bits column; build it with "
            "build_simhash_table so bit-width compatibility can be "
            "validated"
        )
    stored = fingerprint_table.select("sig_bits").limit(1).collect()
    if stored and int(stored[0][0]) != int(bits):
        raise ValueError(
            f"fingerprint_table was built with bits={int(stored[0][0])} "
            f"but simhash_dedup_with_fingerprints was called with "
            f"bits={bits}; mismatched widths band differently and would "
            f"silently pass near-duplicates through"
        )
    return _simhash_dedup_validated(
        new_df, fingerprint_table, id_col, text_col, bits, max_hamming
    )


def _simhash_dedup_validated(
    new_df: DataFrame,
    fingerprint_table: DataFrame,
    id_col: str,
    text_col: str,
    bits: int,
    max_hamming: int,
) -> DataFrame:
    """Join body of :func:`simhash_dedup_with_fingerprints`, after (or
    without) the sig_bits validation — the inline front door skips the
    validation collect because it built the table itself one call up
    (saves a whole Spark job; the prebuilt-table path keeps it, since a
    stale table with the wrong width silently never collides)."""
    # no checkpoint on the batch fingerprints: the banded join reads them
    # exactly once (the corpus side is the counted/hot side)
    new_sh = build_simhash_table(new_df, id_col, text_col, bits)
    corp = _banded(fingerprint_table, "corpus_id", "sh_c", id_col)
    newb = _banded(new_sh, "new_id", "sh_n", id_col)
    hamming = F.bit_count(F.col("sh_c").bitwiseXOR(F.col("sh_n")))
    hits = (
        hot_bucket_salted_join(corp, newb, "_band", id_a="corpus_id")
        .filter(hamming <= max_hamming)
        .select("new_id")
        .distinct()
    )
    return new_df.join(
        hits.select(F.col("new_id").alias(id_col)), id_col, "left_anti"
    )


def simhash_dedup_against_corpus(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """One-shot front door: build the corpus fingerprint table inline and
    dedup ``new_df`` against it (prefer persisting the table via
    :func:`build_simhash_table` when the corpus outlives one batch).

    The inline table is localCheckpoint'd: the banded join reads the
    corpus fingerprints twice (hot-set count + join input), and without a
    materialization barrier each read re-runs the md5-per-token
    fingerprint pass — the same 4×-recompute hazard `simhash_dup_pairs`
    documents. A PERSISTED table (the `simhash_dedup_with_fingerprints`
    path) does not want this barrier: its re-reads are column-pruned
    parquet scans, and checkpointing would copy the whole corpus table.
    The sig_bits validation collect is skipped too — the table was built
    with the requested ``bits`` one line up."""
    return _simhash_dedup_validated(
        new_df,
        build_simhash_table(corpus_df, id_col, text_col, bits).localCheckpoint(
            eager=False
        ),
        id_col,
        text_col,
        bits,
        max_hamming,
    )


def _cc_driver_small_path(e: DataFrame, n_edges: int) -> DataFrame:
    """Driver-side exact CC for edge sets that fit one task anyway (see
    `session.DRIVER_MAX_ROWS`; at 5,380 edges the star rounds measured
    23 jobs and multi-second wall for ~ms of work): vectorized min-label
    propagation with pointer doubling over the canonicalized (v, u)
    relation. Returns the same ``(node, component=min id in component)``
    relation, every edge-touched node present, reps self-assigned."""
    import numpy as np
    from pyspark.sql import types as T

    spark = e.sparkSession
    node_type = e.schema["v"].dataType
    out_schema = T.StructType(
        [
            T.StructField("node", node_type, True),
            T.StructField("component", node_type, True),
        ]
    )
    if n_edges == 0:
        return driver_frame(spark, {"node": [], "component": []}, out_schema)
    pdf = e.toPandas()
    vals = np.concatenate([pdf["v"].to_numpy(), pdf["u"].to_numpy()])
    # ids sorted ascending → the minimum INDEX in a component is the
    # minimum ID, so labels can be propagated as indices
    ids, inv = np.unique(vals, return_inverse=True)
    av, au = inv[: len(pdf)], inv[len(pdf):]
    lab = np.arange(len(ids), dtype=np.int64)
    while True:
        before = lab.copy()
        m = np.minimum(lab[av], lab[au])
        np.minimum.at(lab, av, m)
        np.minimum.at(lab, au, m)
        while True:  # pointer doubling: compress label chains fully
            nl = lab[lab]
            if np.array_equal(nl, lab):
                break
            lab = nl
        if np.array_equal(lab, before):
            break
    return driver_frame(
        spark, {"node": ids, "component": ids[lab]}, out_schema
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components over an undirected edge list via alternating
    large-star / small-star rounds (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14). Returns ``(node, component)`` where
    ``component`` is the minimum node id in the node's component; every node
    that appears in any edge gets a row (components of size 1 never appear
    in an edge list, so they are their own trivial component by definition).

    Size-adaptive: once the first convergence-signature action has measured
    the canonical edge count, edge sets at or below
    `session.DRIVER_MAX_ROWS` (= the loop's own one-partition bound, the
    ``cc`` gate) are solved on the driver in one
    vectorized pass instead of O(log n) single-task distributed rounds —
    see `_cc_driver_small_path`. Larger graphs take the star rounds below
    unchanged.

    Scale design: each star is ONE keyed window (min over the
    neighborhood, partitioned by the star's center) — one |E|-row
    shuffle, no join. The groupBy-min + equi-join formulation this
    replaces shuffled the edge list TWICE per star once the per-node
    min table stopped being broadcastable (it is |V|-sized — at 100 TB
    it never broadcasts), and at bench scale paid two extra stage
    floors per star. Edge count never grows beyond the input + the
    bounded duplicate re-points a round can emit (the per-round
    ``distinct`` resets them). Convergence is O(log n) rounds;
    ``localCheckpoint(eager=False)`` truncates the iterative lineage
    while letting the convergence-signature aggregate MATERIALIZE the
    checkpoint in the same job — one action per round, not two.

    Flink analog: this is the batch form of what the reference would express
    as an iterative keyed dataflow; the reference has no graph operators, so
    this lives in the north-star extension tier (SURVEY §2.10) serving
    near-dup cluster canonicalization.

    Concurrency note: each round's action runs under
    `session.loop_conf`, which sets session-level
    ``spark.sql.adaptive.enabled=false`` and shrinks
    ``spark.sql.shuffle.partitions`` until the action returns. Any query
    running CONCURRENTLY on the same SparkSession during a round would
    execute under those overrides — this operator assumes the session is
    not shared with concurrent queries while it runs (true for every
    caller in this repo; use a dedicated session/
    ``spark.newSession()`` if you need concurrent work).
    """
    from pyspark.sql.window import Window

    # AQE off for the loop's actions: adaptive execution splits every
    # round into one JOB per exchange (≈6 scheduling floors per round
    # instead of 1) and buys nothing back here — the round's exchanges
    # are equal-width hash shuffles of a slim (v, u) relation, and the
    # one real skew risk (a giant component flooding one window
    # partition) is not in AQE's repertoire anyway (it only re-plans
    # joins). In exchange the loop does AQE's useful half ITSELF:
    # shuffle partitions are re-sized per round from the EXACT edge
    # count the convergence signature already measures (~2M slim rows
    # ≈ 32 MB per partition, capped at the session's configured
    # parallelism) — a converged-to-tiny tail stops paying per-task
    # floors, a 1e10-edge round still spreads (`session.loop_conf`).
    sess = edges.sparkSession
    sp_old = int(sess.conf.get("spark.sql.shuffle.partitions"))
    loop_sp = max(1, sp_old)
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("v"),
            F.greatest(F.col(src), F.col(dst)).alias("u"),
        )
        .filter(F.col("v") != F.col("u"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def signature(d: DataFrame):
        # decimal(38,0) sum of 64-bit hashes: exact, never overflows under
        # ANSI mode regardless of id magnitude or edge count. This action
        # also materializes d's lazy checkpoint — the round's ONE job
        # (AQE disabled and partitions sized from the previous round's
        # measured edge count just for it; see the loop preamble).
        nonlocal loop_sp
        with loop_conf(sess, loop_sp):
            row = d.agg(
                F.count("*").alias("n"),
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("s"),
            ).first()
        loop_sp = loop_partitions(sp_old, int(row["n"]))
        return (row["n"], row["s"])

    sig = signature(e)
    if driver_small_path("cc", sig[0]):
        return _cc_driver_small_path(e, sig[0])
    for _ in range(max_iterations):
        # large-star: for every node, attach its strictly-larger neighbors
        # to the minimum of its neighborhood (including itself) — the
        # neighborhood min as a window over the doubled edge list (the
        # doubling is a per-row explode, ONE pass over the checkpoint).
        und = e.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
                    F.struct(F.col("v").alias("a"), F.col("u").alias("b")),
                )
            ).alias("_e")
        ).select("_e.a", "_e.b")
        wa = Window.partitionBy("a")
        large = (
            und.withColumn("m", F.least(F.col("a"), F.min("b").over(wa)))
            .filter(F.col("b") > F.col("a"))
            .select(F.col("m").alias("v"), F.col("b").alias("u"))
        )
        # small-star: orient edges high→low, point every low neighbor (and
        # the high node itself, once) at the neighborhood minimum — again
        # one window, with a row_number picking the single self re-point
        # per center (duplicate (m, b) re-points from large-star are
        # tolerated here and swept by the round's closing distinct). Both
        # emissions leave in ONE explode pass so the window chain
        # evaluates once, not once per union branch.
        lw = large.select(
            "u",
            "v",
            F.min("v").over(Window.partitionBy("u")).alias("m"),
            F.row_number()
            .over(Window.partitionBy("u").orderBy("v"))
            .alias("_rn"),
        )
        small = (
            lw.select(
                F.explode(
                    F.array(
                        F.when(
                            F.col("v") != F.col("m"),
                            F.struct(
                                F.col("m").alias("v"), F.col("v").alias("u")
                            ),
                        ),
                        F.when(
                            F.col("_rn") == 1,
                            F.struct(
                                F.col("m").alias("v"), F.col("u").alias("u")
                            ),
                        ),
                    )
                ).alias("_s")
            )
            .where(F.col("_s").isNotNull())
            .select("_s.v", "_s.u")
        )
        e = (
            small.select(
                F.least(F.col("v"), F.col("u")).alias("v"),
                F.greatest(F.col("v"), F.col("u")).alias("u"),
            )
            .filter(F.col("v") != F.col("u"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        new_sig = signature(e)
        if new_sig == sig:
            break
        sig = new_sig

    # converged edge set is a star per component: (min, member) pairs.
    return e.select(F.col("u").alias("node"), F.col("v").alias("component")).unionAll(
        e.select(F.col("v").alias("node"), F.col("v").alias("component")).distinct()
    )


def dedup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **lsh_kwargs,
) -> DataFrame:
    """Canonical near-dup clusters: MinHash+LSH pairs → connected components
    → one representative (min doc id) per cluster. Returns
    ``(doc_id, rep_id)`` for every document that has at least one near-dup;
    keep-set = all docs NOT in this result plus the rows where
    ``doc_id = rep_id``.

    This closes the near-dedup story end to end: pairwise LSH alone leaves
    A~B, B~C ambiguous (drop B twice? keep A and C?); transitive clustering
    gives the standard keep-one-per-cluster semantics used by LLM-corpus
    pipelines (e.g. the RefinedWeb / SlimPajama dedup stages).
    """
    pairs = minhash_lsh_pairs(df, id_col=id_col, text_col=text_col, **lsh_kwargs)
    cc = connected_components(pairs, "id_a", "id_b")
    return cc.select(
        F.col("node").alias(id_col), F.col("component").alias("rep_id")
    )


def assign_components_incremental(
    new_edges: DataFrame,
    assignments: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    id_col: str = "node",
    rep_col: str = "component",
) -> DataFrame:
    """Incremental connected-component assignment: fold a batch of NEW
    match edges into a SETTLED ``(node, component)`` assignment table
    without re-clustering the corpus. Returns the FULL updated
    assignment relation (untouched rows pass through unchanged), equal
    to ``connected_components(old_edges ∪ new_edges)`` — the
    batch-incremental ≡ full-recompute contract, pinned by test.

    Why it's exact: a settled component is equivalent to a STAR
    (member → rep edges), and the rep is the component's minimum id
    (the `connected_components` canonical form). Collapsing each new
    edge's endpoints to their settled reps preserves connectivity, so
    CC over the collapsed edge set — |new edges|-sized, NOT
    corpus-sized — yields the merged groups; and since each rep IS the
    min of its old component, ``min(reps ∪ new ids)`` in a merged group
    equals the full recompute's ``min(all member ids)``.

    Scale shape: the corpus participates in exactly two key joins —
    (1) endpoint → settled rep lookup on the new edges (|new| rows
    against the assignment table, AQE broadcasts the small side), and
    (2) touched-component re-assignment (assignment table joined to the
    |touched reps|-row re-map, a broadcast). The CC iteration itself
    runs on the collapsed batch-sized graph. Work ∝ new batch + touched
    clusters; the settled corpus is never re-hashed or re-clustered —
    the ER mirror of `near_dedup_with_signatures`.

    New ids that appear in no new edge are NOT in the output (same
    contract as `connected_components`: singletons are their own
    component by definition — union them in as (id, id) if you need
    explicit rows).

    Precondition: ``assignments`` is in canonical form, as
    `connected_components` emits it — one row per id, every rep is its
    component's minimum id and has its own self-row (rep, rep). New ids
    are isolated by ONE anti join against the id set, which relies on
    reps ⊆ ids. Given a rep with no self-row, the output still has one
    row per id: a rep touched by the batch comes back as a new row
    (rep, new_component), and an untouched one stays without a row —
    pinned by test.
    """
    a = assignments.select(
        F.col(id_col).alias("_id"), F.col(rep_col).alias("_rep")
    )
    e = (
        new_edges.select(F.col(src).alias("_ea"), F.col(dst).alias("_eb"))
        .join(
            a.select(
                F.col("_id").alias("_ea"), F.col("_rep").alias("_ra")
            ),
            "_ea",
            "left",
        )
        .join(
            a.select(
                F.col("_id").alias("_eb"), F.col("_rep").alias("_rb")
            ),
            "_eb",
            "left",
        )
        .select(
            F.coalesce(F.col("_ra"), F.col("_ea")).alias("na"),
            F.coalesce(F.col("_rb"), F.col("_eb")).alias("nb"),
        )
    )
    cc = connected_components(e, "na", "nb")
    # nodes of the collapsed graph are settled reps or new ids; a rep's
    # new component re-points every member of its old cluster. Join
    # strategy left to AQE (no F.broadcast hint): remap is BATCH-sized,
    # bounded but not guaranteed broadcastable — a forced hint would
    # OOM on a huge backfill batch (the r11 rollup advisory class).
    # r13 (guide §2.4): touched + untouched fold into ONE left join
    # (coalesce picks the re-pointed rep) — the former inner-join +
    # left_anti pair read the assignment table twice through two
    # exchanges of the same key
    remap = cc.select(
        F.col("node").alias("_rep"), F.col("component").alias("_new_rep")
    )
    reassigned = assignments.join(
        remap, F.col(rep_col) == F.col("_rep"), "left"
    ).select(
        F.col(id_col),
        F.coalesce(F.col("_new_rep"), F.col(rep_col)).alias(rep_col),
    )
    # a collapsed-graph node is a settled rep or a batch-new id; under
    # the canonical-form precondition reps ⊆ ids, so one anti join
    # against the id set isolates the new ids
    new_nodes = (
        cc.join(
            assignments.select(F.col(id_col).alias("node")).distinct(),
            "node",
            "left_anti",
        )
        .select(
            F.col("node").alias(id_col), F.col("component").alias(rep_col)
        )
    )
    return reassigned.unionByName(new_nodes)


def dedup_against_corpus(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental exact dedup: drop rows of ``new_df`` whose normalized-text
    fingerprint already exists in ``corpus_df`` (the standard "dedup the new
    crawl against the existing corpus" stage of an incremental pipeline).

    Shape: LEFT ANTI join on a 16-byte md5 key — both sides reduce to
    (fingerprint) before the join, so the shuffle carries hashes, never
    documents; at 100 TB the corpus side is a distinct-fingerprint set that
    Spark shuffle-partitions by hash (or broadcasts when small enough — AQE
    decides from runtime size). Within-batch duplicates are kept (use
    `exact_dedup` on the batch first for keep-one semantics).
    """
    fp = F.md5(F.concat_ws(" ", tokens_expr(text_col)))
    corpus_fps = corpus_df.select(fp.alias("fingerprint")).distinct()
    return (
        new_df.withColumn("fingerprint", fp)
        .join(corpus_fps, "fingerprint", "left_anti")
        .drop("fingerprint")
    )


def near_dedup_against_corpus(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Incremental NEAR dedup: drop rows of ``new_df`` whose MinHash bands
    collide with any corpus document AND whose exact token-set Jaccard
    against that document meets the threshold — `dedup_against_corpus`
    (exact fingerprints) widened to near-duplicates, the "drop the new
    crawl's rewrites of pages we already have" stage.

    Shape: both sides run the shared signature pipeline (narrow, md5-heavy
    work spread across cores); the candidate join shuffles only
    (id, band_hash) tuples — never documents; token sets re-join solely for
    the candidate pairs; the final anti-join keys on bare ids. At 100 TB
    the corpus side's band table is its doc count × bands rows of hashes —
    persist it once and reuse it across daily batches (the signatures of an
    immutable corpus never change).

    Asymmetric by design: within-batch near-dups are kept (run
    `dedup_clusters` on the batch first for keep-one semantics).
    """
    new_base, new_bands = _tok_bands(
        new_df, id_col, text_col, num_hashes, bands, shingle_k
    )
    corp_base, corp_bands = _tok_bands(
        corpus_df, id_col, text_col, num_hashes, bands, shingle_k
    )
    cand = (
        new_bands.select(F.col(id_col).alias("new_id"), "band_idx", "band_hash")
        .join(
            corp_bands.select(
                F.col(id_col).alias("corpus_id"), "band_idx", "band_hash"
            ),
            ["band_idx", "band_hash"],
        )
        .select("new_id", "corpus_id")
        .distinct()
    )
    verified = (
        cand.join(
            new_base.select(
                F.col(id_col).alias("new_id"), F.col("tok_set").alias("tok_n")
            ),
            "new_id",
        )
        .join(
            corp_base.select(
                F.col(id_col).alias("corpus_id"), F.col("tok_set").alias("tok_c")
            ),
            "corpus_id",
        )
    )
    jac = F.size(F.array_intersect(F.col("tok_n"), F.col("tok_c"))) / F.size(
        F.array_union(F.col("tok_n"), F.col("tok_c"))
    )
    matched = (
        verified.filter(jac >= jaccard_threshold)
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    return new_df.join(matched, id_col, "left_anti")


def ngram_contamination(
    train: DataFrame,
    bench: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination scan: for every training document, the
    fraction of its DISTINCT n-gram shingles that occur anywhere in the
    benchmark corpus — the standard train/test-overlap check run before
    training (cf. GPT-3 appendix C / PaLM §C: n-gram collision
    decontamination), expressed as a left join instead of a scan per
    benchmark doc.

    Plan shape: train side explodes to (doc, gram) — the only big
    intermediate; the benchmark gram set is distinct-aggregated (benchmark
    corpora are tiny next to training corpora) and BROADCAST, so the big
    side is never shuffled; the per-doc ratio is one hash-agg keyed by doc.
    At 100 TB of training text with a ~GB benchmark set this is one
    broadcast probe per gram inside codegen. Ratio = int/int division of
    identical operands → engine-portable, unrounded.
    """
    t = train.select(
        F.col(id_col), F.explode(shingles_expr(text_col, n)).alias("gram")
    )
    b = (
        bench.select(F.explode(shingles_expr(text_col, n)).alias("gram"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        t.join(F.broadcast(b), "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.count("_hit").alias("n_contaminated"),
            (F.count("_hit") / F.count("*")).alias("contamination"),
        )
    )


def build_signature_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Materialize the corpus's MinHash band signatures + token sets as a
    persistable table: one row per (id, band_idx, band_hash) with the
    token set carried on band 0 only (each id's tok_set stored once, not
    bands×). Write this out once (`io.write_files` / bucketed by
    band_hash) and every future batch dedups against the corpus WITHOUT
    re-reading or re-hashing corpus text — the incremental path
    `near_dedup_against_corpus`'s docstring promises, made concrete.
    """
    base, exploded = _tok_bands(
        df, id_col, text_col, num_hashes, bands, shingle_k
    )
    return exploded.join(base.select(F.col(id_col), "tok_set"), id_col).select(
        F.col(id_col),
        "band_idx",
        "band_hash",
        F.when(F.col("band_idx") == 0, F.col("tok_set")).alias("tok_set"),
        # Signature parameters travel WITH the table (constant columns cost
        # ~nothing in parquet RLE) so a consumer built with different
        # num_hashes/bands/shingle_k fails fast instead of silently
        # under-matching — band hashes from mismatched parameters simply
        # never collide.
        F.lit(int(num_hashes)).alias("sig_num_hashes"),
        F.lit(int(bands)).alias("sig_bands"),
        F.lit(int(shingle_k)).alias("sig_shingle_k"),
    )


def near_dedup_with_signatures(
    new_df: DataFrame,
    signature_table: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """`near_dedup_against_corpus` against a PREBUILT signature table
    (from `build_signature_table`): only the new batch is tokenized and
    hashed; the corpus contributes its stored band hashes and token sets.
    Same candidate-join → jaccard-verify → anti-join shape; identical
    results (pinned by test).

    Fails fast (ValueError) if the signature table was built with different
    num_hashes/bands/shingle_k than this call — mismatched parameters
    produce band hashes that never collide, i.e. silent under-matching.
    Tables from `build_signature_table` carry the parameters as constant
    columns; tables lacking them are rejected (rebuild to validate).
    """
    sig_cols = ("sig_num_hashes", "sig_bands", "sig_shingle_k")
    if not all(c in signature_table.columns for c in sig_cols):
        raise ValueError(
            "signature_table lacks sig_num_hashes/sig_bands/sig_shingle_k "
            "columns; rebuild it with build_signature_table so parameter "
            "compatibility can be validated"
        )
    stored = signature_table.select(*sig_cols).limit(1).collect()
    if stored:
        got = tuple(stored[0])
        want = (int(num_hashes), int(bands), int(shingle_k))
        if got != want:
            raise ValueError(
                f"signature_table was built with (num_hashes, bands, "
                f"shingle_k)={got} but near_dedup_with_signatures was "
                f"called with {want}; mismatched parameters never collide "
                f"and would silently pass near-duplicates through"
            )
    new_base, new_bands = _tok_bands(
        new_df, id_col, text_col, num_hashes, bands, shingle_k
    )
    corp_bands = signature_table.select(
        F.col(id_col).alias("corpus_id"), "band_idx", "band_hash"
    )
    corp_toks = signature_table.filter(F.col("tok_set").isNotNull()).select(
        F.col(id_col).alias("corpus_id"), F.col("tok_set").alias("tok_c")
    )
    cand = (
        new_bands.select(F.col(id_col).alias("new_id"), "band_idx", "band_hash")
        .join(corp_bands, ["band_idx", "band_hash"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    verified = cand.join(
        new_base.select(
            F.col(id_col).alias("new_id"), F.col("tok_set").alias("tok_n")
        ),
        "new_id",
    ).join(corp_toks, "corpus_id")
    jac = F.size(F.array_intersect(F.col("tok_n"), F.col("tok_c"))) / F.size(
        F.array_union(F.col("tok_n"), F.col("tok_c"))
    )
    matched = (
        verified.filter(jac >= jaccard_threshold)
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    return new_df.join(matched, id_col, "left_anti")


def substring_dup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """Substring-level dedup stats: per document, the fraction of tokens
    covered by some k-token gram that also appears in >= ``min_docs``
    documents (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better" — the ExactSubstr criterion, token-windowed instead of
    suffix-array'd so it distributes).

    Output: (doc_id, n_tokens, dup_tokens, dup_fraction), one row per
    document with at least k tokens.

    Scale design — the naive form self-joins documents on raw k-gram
    strings, shuffling ~k copies of the corpus text. This implementation
    never shuffles text:
      1. per-row (narrow, codegen'd): tokenize, build the n-k+1 sliding
         k-gram md5 fingerprints with transform(sequence, slice) — raw
         grams die inside the row.
      2. ONE hash-agg shuffle on (16-byte fingerprint) to count distinct
         docs per gram; grams seen in >= min_docs docs survive (tiny
         relation — duplicated grams are the exception, so AQE broadcasts
         the semi-join side).
      3. semi-join positions against duplicated grams, then a per-doc
         window pass computes the size of the UNION of [pos, pos+k)
         intervals: sorted by pos, covered = min(k, next_pos - pos)
         (k for the last) — no interval materialization.
    Exchange payload is (id, pos, 16B hash) throughout: ~28 bytes per gram
    vs k * avg_token_len for the naive join. md5 keeps it engine-portable
    (bit-identical in DuckDB), which makes this oracle-checkable; a 128-bit
    fingerprint makes collisions irrelevant at corpus scale.
    """
    toks = tokens_expr(text_col)
    base = df.select(F.col(id_col), toks.alias("_toks")).filter(
        F.size("_toks") >= k
    )
    # sliding k-grams: pos i in [0, n-k], fingerprint of tokens[i, i+k)
    grams = base.select(
        id_col,
        F.size("_toks").alias("n_tokens"),
        F.posexplode(
            F.expr(f"transform(sequence(0, size(_toks) - {k}), "
                   f"i -> md5(concat_ws(' ', slice(_toks, i + 1, {k}))))")
        ).alias("pos", "gram_fp"),
    )
    dup_grams = (
        grams.groupBy("gram_fp")
        .agg(F.count_distinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("gram_fp")
    )
    matched = grams.join(dup_grams, "gram_fp").select(id_col, "n_tokens", "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    covered = F.least(
        F.lit(k),
        F.coalesce(F.lead("pos").over(w), F.col("pos") + k) - F.col("pos"),
    )
    dup_tokens = (
        matched.withColumn("_cov", covered)
        .groupBy(id_col)
        .agg(
            F.first("n_tokens").alias("n_tokens"),
            F.sum("_cov").alias("dup_tokens"),
        )
    )
    return base.select(id_col, F.size("_toks").alias("n_tokens")).join(
        dup_tokens.select(id_col, "dup_tokens"), id_col, "left"
    ).select(
        id_col,
        "n_tokens",
        F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
        (F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens")).alias(
            "dup_fraction"
        ),
    )


def exact_dedup_best(
    df: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Quality-aware exact dedup: one row per duplicate group keeping the
    BEST member — max ``score_col``, id DESC tiebreak — instead of
    `exact_dedup`'s min-id convention. This is the real pipeline policy
    ("among duplicates keep the longest / highest-quality copy"); the
    selection is an argmax via lexicographic max over (score, id) structs,
    so it stays ONE hash-agg shuffle carrying (fingerprint, score, id) —
    never the text payload — and is deterministic and engine-portable
    (struct comparison is field-order lexicographic in both engines).
    """
    normalized = text_fingerprint_expr(text_col)
    best = F.max(F.struct(F.col(score_col).alias("s"), F.col(id_col).alias("i")))
    return (
        df.select(
            normalized.alias("fingerprint"), F.col(id_col), F.col(score_col)
        )
        .groupBy("fingerprint")
        .agg(
            best.alias("_best"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .select(
            "fingerprint",
            F.col("_best.i").alias("keep_id"),
            F.col("_best.s").alias("keep_score"),
            "n_dups",
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: list[str] | None = None,
    shingle_k: int = 3,
    threshold: float = 0.6,
    max_block_size: int | None = None,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT pairs: C(A→B) = |S_A ∩ S_B| / |S_A|
    (Broder's containment, the directional complement of resemblance/
    Jaccard). Catches subset duplication that symmetric Jaccard
    structurally misses — a short doc fully embedded in a much longer one
    (quoted article, aggregator page, chunk-of-larger-doc) has Jaccard
    ≈ |A|/|B| → 0 but containment 1.0. The standard curation use is
    dropping the contained (smaller) side.

    Output is DIRECTIONAL: (src_id, dst_id, containment) meaning src's
    shingle set is ≥ ``threshold`` contained in dst's. Both directions of
    a pair can appear (near-exact dups).

    Scale shape (round-11 rewrite): intersections come from a SHINGLE
    POSTING join, not an in-block all-pairs join — explode each doc's
    distinct shingles into (block, shingle, id) postings, self-equi-join
    on (block, shingle) with ``id_a < id_b``, and ``|S_A ∩ S_B|`` is a
    count per pair. Only pairs that actually SHARE a shingle ever
    materialize (the all-pairs form computed n²/2 zero-intersection
    candidates per block and shuffled full shingle arrays both ways: it
    measured alpha≈1.8 super-linear on the sf0.1→sf1 scaling curve,
    207 s at sf1; the posting join reads <1 power). Work is
    ``Σ_shingle C(df_shingle, 2)`` — bounded by co-occurrence, not block
    size². The residual hazard is a HEAVY-HITTER shingle (df → block
    size revives the quadratic for that shingle): boilerplate strings at
    corpus scale. ``max_shingle_df`` is the cap: shingles whose in-block
    document frequency exceeds it are dropped from the POSTING join but
    still counted in each doc's ``|S_A|`` denominator, so capped
    containment is a guaranteed UNDER-estimate (never a false positive;
    a pair glued only by boilerplate scores lower — usually the right
    call for curation). At 100 TB set it (a few hundred): the
    ubiquitous-boilerplate shingle carries no dedup signal and C(df,2)
    of a corpus-wide string is the whole job's cost. ``max_block_size``
    still skips hot BLOCKS entirely; use MinHash/LSH when no natural
    blocking key exists. Doc sizes join back from a slim (id, n)
    relation (AQE broadcasts it when small); both ordered directions
    emit array-side via explode, so the set work still happens once per
    unordered pair.
    """
    block_cols = block_cols or ["lang", "source"]
    base = df.select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        shingles_expr(text_col, shingle_k).alias("sh"),
    )
    base = _cap_blocks(base, block_cols, max_block_size)
    sized = base.select(
        F.col(id_col), *[F.col(c) for c in block_cols],
        F.col("sh"), F.size("sh").alias("_n"),
    )
    # r12: shingle-set sizes ride WITH the postings (see
    # ngram_jaccard_pairs — the pair table is the duplicate-density-
    # quadratic relation; joining it twice to attach _na/_nb re-derived
    # the shingle subtree each time), and the posting relation is
    # localCheckpoint'd because both join inputs read it.
    posts = sized.select(
        F.col(id_col), *[F.col(c) for c in block_cols],
        F.explode("sh").alias("_s"),
        "_n",
    )
    if max_shingle_df is not None:
        # window count per (block, shingle): one pass over the postings,
        # same partitioning the join needs anyway — no extra relation
        from pyspark.sql.window import Window as _W

        posts = (
            posts.withColumn(
                "_df",
                F.count(F.lit(1)).over(
                    _W.partitionBy(*block_cols, "_s")
                ),
            )
            .filter(F.col("_df") <= max_shingle_df)
            .drop("_df")
        )
    posts = posts.localCheckpoint(eager=False)
    pa = posts.select(
        F.col(id_col).alias("id_a"), *block_cols, "_s",
        F.col("_n").alias("_na"),
    )
    pb = posts.select(
        F.col(id_col).alias("id_b"), *block_cols, "_s",
        F.col("_n").alias("_nb"),
    )
    # per-(block, pair) semantics: block_cols in the groupBy, matching
    # the old all-pairs form when an id spans blocks (r11 advisory —
    # bare-id keys merged counts across blocks)
    pairs = (
        pa.join(pb, on=[*block_cols, "_s"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy(*block_cols, "id_a", "id_b")
        .agg(
            F.count(F.lit(1)).cast("int").alias("_i"),
            # max() rides the pair groupBy (size constant per doc side);
            # see ngram_jaccard_pairs for the duplicate-id-row caveat
            F.max("_na").alias("_na"),
            F.max("_nb").alias("_nb"),
        )
        .select("id_a", "id_b", "_i", "_na", "_nb")
    )
    # int/int division is exact IEEE double in both engines (see
    # ngram_jaccard_pairs) — the oracle reproduces it bit-for-bit
    directed = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("src_id"),
                    F.col("id_b").alias("dst_id"),
                    (F.col("_i") / F.col("_na")).alias("containment"),
                ),
                F.struct(
                    F.col("id_b").alias("src_id"),
                    F.col("id_a").alias("dst_id"),
                    (F.col("_i") / F.col("_nb")).alias("containment"),
                ),
            )
        ).alias("_d")
    ).select("_d.src_id", "_d.dst_id", "_d.containment")
    return directed.filter(F.col("containment") >= threshold)


def containment_best_container(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: list[str] | None = None,
    shingle_k: int = 3,
    threshold: float = 0.6,
    max_block_size: int | None = None,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Per-document BEST CONTAINER: for every doc whose shingle set is
    ≥ ``threshold`` contained in some other doc, the single most-containing
    dst (highest containment, ties → smallest dst id) →
    ``(doc_id, container_id, containment)``. O(corpus) output — the
    drop-decision contract for subset dedup (`drop src if containment ≥ τ`
    needs only the best container, never the full directional pair list,
    whose size grows with duplicate density²; see
    `ngram_jaccard_best_match` for the scaling argument). The directional
    pair stream from `containment_pairs` feeds a map-side-combined
    ``max_by`` per src, so pairs reduce inside each task before any
    exchange.
    """
    pairs = containment_pairs(
        df,
        id_col=id_col,
        text_col=text_col,
        block_cols=block_cols,
        shingle_k=shingle_k,
        threshold=threshold,
        max_block_size=max_block_size,
        max_shingle_df=max_shingle_df,
    )
    return pairs.groupBy(F.col("src_id").alias(id_col)).agg(
        F.expr("max_by(dst_id, struct(containment, -dst_id))").alias(
            "container_id"
        ),
        F.max("containment").alias("containment"),
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep_regex: str = r"\n{2,}",
    min_chars: int = 1,
) -> DataFrame:
    """CCNet-style paragraph-level exact dedup (Wenzek et al. 2019, public
    arXiv 1911.00359): split every document into paragraphs, keep only the
    FIRST occurrence of each distinct paragraph corpus-wide (first = lowest
    ``(doc_id, para_idx)``), and mark the rest as duplicates. The standard
    pre-pass before document-level dedup — boilerplate (cookie banners,
    nav footers) repeats across millions of pages at paragraph granularity
    while the enclosing documents stay distinct.

    Returns one row per paragraph: ``(doc_id, para_idx, paragraph, kept)``.
    ``paragraph_dedup_docs`` reconstructs the retained text per document.

    Scale (100 TB): explode is narrow; the first-occurrence pass is a
    groupBy on the paragraph hash whose ``min(struct(doc_id, para_idx))``
    partial-aggregates map-side, so a boilerplate paragraph occurring 10⁹
    times arrives at its reducer as one row per upstream partition — hot
    paragraphs cannot hot-spot the shuffle (this is why it is NOT a window
    ``row_number over (partition by paragraph)``, which funnels every copy
    of a hot paragraph through one task). The join back is a plain
    equi-join on the hash; AQE picks the strategy.

    ``sep_regex`` chooses the unit (default blank-line paragraphs; use
    ``'\\n'`` for line-level dedup). ``min_chars`` drops split artifacts
    (empty/whitespace fragments) before matching, identically on the
    oracle side.
    """
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep_regex)).alias(
            "para_idx", "paragraph"
        ),
    ).filter(F.length("paragraph") >= min_chars)
    key = F.md5(F.col("paragraph")).alias("_pkey")
    keyed = paras.select(id_col, "para_idx", "paragraph", key)
    first = keyed.groupBy("_pkey").agg(
        F.min(F.struct(F.col(id_col), F.col("para_idx"))).alias("_first")
    )
    return (
        keyed.join(first, "_pkey")
        .select(
            id_col,
            "para_idx",
            "paragraph",
            (
                F.struct(F.col(id_col), F.col("para_idx")) == F.col("_first")
            ).alias("kept"),
        )
    )


def paragraph_dedup_docs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep_regex: str = r"\n{2,}",
    sep_out: str = "\n\n",
    min_chars: int = 1,
) -> DataFrame:
    """Document reconstruction over ``paragraph_dedup``: per document, the
    paragraph counts and the retained text (first-occurrence paragraphs
    only, original order, joined with ``sep_out``). Documents whose every
    paragraph was seen earlier come back with ``retained_text = ''`` —
    the caller filters on ``n_kept`` to drop fully-boilerplate docs.

    One extra shuffle over ``paragraph_dedup`` (the per-doc re-aggregate,
    keyed on ``doc_id`` — uniform). Reconstruction sorts each doc's
    paragraph structs with ``array_sort`` (struct order = field order, so
    ``para_idx`` leads) — per-row, no global sort.
    """
    marked = paragraph_dedup(df, id_col, text_col, sep_regex, min_chars)
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.col("kept").cast("long")).alias("n_kept"),
            F.concat_ws(
                sep_out,
                F.expr("transform(filter(array_sort(collect_list("
                       "struct(para_idx, paragraph, kept))), s -> s.kept), s -> s.paragraph)"),
            ).alias("retained_text"),
        )
    )


def paragraph_dedup_stream(
    df: DataFrame,
    ts_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep_regex: str = r"\n{2,}",
    min_chars: int = 1,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Streaming twin of ``paragraph_dedup``: explode each arriving
    document into paragraphs and emit only the FIRST occurrence of each
    distinct paragraph within the watermark horizon
    (``dropDuplicatesWithinWatermark`` on the 16-byte paragraph hash —
    the ``exact_dedup_stream`` state argument at paragraph granularity).

    Semantics note vs batch: a stream cannot retroactively mark later
    copies ``kept=false`` — it simply doesn't emit them — so the output
    is the batch op's ``kept=true`` subset (first occurrence in ARRIVAL
    order rather than ``(doc_id, para_idx)`` order; identical sets when
    arrival follows doc order, which the stream≡batch test pins). State
    holds one hash + timestamp per distinct paragraph inside the
    horizon and is GC'd as the watermark advances — bounded regardless
    of corpus size.
    """
    paras = (
        df.withWatermark(ts_col, watermark_delay)
        .select(
            F.col(id_col),
            F.col(ts_col),
            F.posexplode(F.split(F.col(text_col), sep_regex)).alias(
                "para_idx", "paragraph"
            ),
        )
        .filter(F.length("paragraph") >= min_chars)
        .withColumn("_pkey", F.md5(F.col("paragraph")))
    )
    return paras.dropDuplicatesWithinWatermark(["_pkey"])


def minhash_estimate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash ESTIMATOR attestation: for every LSH candidate pair, the
    signature-agreement Jaccard estimate (matching minhash slots /
    num_hashes — the Broder '97 unbiased estimator the whole
    MinHash+LSH stack rests on) SIDE BY SIDE with the exact shingle-set
    Jaccard, so the estimator's error is driver-visible per pair (and
    oracle-checkable: both numbers are deterministic md5/int arithmetic).
    ``minhash_lsh_pairs`` uses the exact value to verify; this op exists
    to audit the estimator itself — the number a production pipeline
    trusts when it SKIPS exact verification at 100 TB.

    Scale: identical topology to ``minhash_lsh_pairs`` (one band-bucket
    shuffle, in-bucket pair generation, token sets join back in); the
    signature rides along as a num_hashes-element array of 8-char
    strings, a fixed ~64 bytes per row.

    Output: (id_a, id_b, est_jaccard, jaccard) for candidates with
    exact jaccard >= 0.5 OR estimate >= 0.5 (both sides of the
    estimator's error are interesting).
    """
    sig, exploded = _tok_bands(df, id_col, text_col, num_hashes, bands, shingle_k)
    joined = _lsh_candidates(exploded, sig.select(
        id_col,
        F.col("tok_set").alias("tok"),
        F.array(*[F.col(f"mh{i}") for i in range(num_hashes)]).alias("sig"),
    ), id_col)
    agree = F.expr("aggregate(zip_with(sig_a, sig_b, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), "
                   "0, (n, v) -> n + v)")
    return (
        joined.select(
            "id_a",
            "id_b",
            (agree / F.lit(num_hashes)).alias("est_jaccard"),
            F.expr(_TOKEN_JACCARD).alias("jaccard"),
        )
        .filter((F.col("jaccard") >= 0.5) | (F.col("est_jaccard") >= 0.5))
        .select("id_a", "id_b", "est_jaccard", "jaccard")
    )
