"""Corpus-curation operators for LLM training-data pipelines (SURVEY §2.10
north-star tier): deterministic stratified sampling (domain mixing) and
fixed-token-budget sequence packing.

Scale design:
  * stratified_sample is a pure narrow filter — no shuffle, no state. The
    keep/drop decision is a deterministic md5 of (seed, id), so the sample
    is reproducible run-to-run, stable under repartitioning, and can be
    recomputed engine-independently (the DuckDB oracle runs the identical
    arithmetic). At 100 TB this is the only sane shape: sampling must not
    cost a shuffle, and re-runs must select the same rows so downstream
    incremental stages stay consistent.
  * pack_sequences shuffles once on a hash-derived group key, then packs
    greedily WITHIN each group via applyInPandas — packing is embarrassingly
    parallel across groups, state per task is one running counter, and group
    count scales with the cluster (no global sort, no driver loop).

The reference has no curation surface (it is a Flink DataStream essentials
repo); these extend it per the BASELINE.json north-star contract, the way
RefinedWeb/SlimPajama-style corpus pipelines compose sampling and packing
after dedup.
"""

from __future__ import annotations

import math
from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from apache_flink_essentials_spark.session import small_input

_HASH_DENOM = float(2**32)


def uniform_hash_expr(id_col: str, seed: int = 0) -> Column:
    """Deterministic uniform(0,1) from md5(seed:id): first 8 hex chars are a
    uniform 32-bit integer (md5 bits are uniform), divided by 2^32.
    Engine-portable — DuckDB computes the identical value via
    ``('0x' || substr(md5(seed || ':' || id), 1, 8))::BIGINT / 2^32``."""
    h = F.md5(F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") / F.lit(_HASH_DENOM)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: Mapping[str, float],
    id_col: str = "doc_id",
    seed: int = 0,
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling (domain mixing): keep a row iff
    uniform_hash(seed, id) < rate(stratum). Rates are compiled into a
    literal CASE chain, so the whole operator is one codegen'd projection +
    filter — zero shuffle, pushdown-friendly, reproducible.

    This is the "mix 30% web, 100% books, 5% logs" knob of a training-data
    pipeline. Statistical note: using a hash of the id (not rand()) makes
    the sample a consistent hash-sample — the same id is kept at rate 0.3
    iff it is also kept at any rate ≥ 0.3, so mixes can be re-weighted
    incrementally without churning previously selected rows.
    """
    rate: Column = F.lit(float(default_rate))
    for value, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == value, F.lit(float(r))).otherwise(rate)
    return df.filter(uniform_hash_expr(id_col, seed) < rate)


def stratified_sample_oracle_sql(
    strata_col: str,
    rates: Mapping[str, float],
    select: str,
    table: str = "documents",
    id_col: str = "doc_id",
    seed: int = 0,
    default_rate: float = 0.0,
) -> str:
    """DuckDB SQL computing the identical sample (same md5 arithmetic)."""
    cases = " ".join(
        f"WHEN '{v}' THEN {float(r)!r}" for v, r in sorted(rates.items())
    )
    return f"""
    SELECT {select} FROM {table}
    WHERE ('0x' || substr(md5('{seed}:' || {id_col}), 1, 8))::BIGINT
            / 4294967296.0
          < (CASE {strata_col} {cases} ELSE {float(default_rate)!r} END)
    """


def mixture_by_token_budget(
    df: DataFrame,
    budgets: Mapping[str, int],
    strata_col: str = "source",
    id_col: str = "doc_id",
    token_count_col: str = "n_tokens",
    seed: int = 0,
    num_buckets: int = 64,
) -> DataFrame:
    """Training-mixture construction under per-source TOKEN budgets: for each
    stratum, keep documents in deterministic hash order until the cumulative
    token count reaches the stratum's budget (a document is kept iff the
    running total *including it* is ≤ budget). Strata absent from
    ``budgets`` are dropped. This is the "2 B tokens of web, 500 M of code"
    knob applied after curation — budgets are in tokens, not documents, the
    unit training mixtures are actually specified in.

    Semantically this is a per-stratum cumulative-sum cutoff over the order
    ``(bucket, h, id)`` where ``h = uniform_hash(seed, id)`` — which is what
    the oracle SQL computes with one window. The Spark plan avoids that
    global per-stratum sort: documents are hashed into ``num_buckets``
    deterministic buckets; a first pass aggregates per-(stratum, bucket)
    token sums (strata × num_buckets rows — collected to the driver like a
    kmeans fit, it IS the plan); prefix sums over that tiny table decide,
    per stratum, which buckets are kept WHOLE (a narrow filter on the big
    side, no shuffle, no sort) and which single bucket straddles the
    cutoff. Only the straddling bucket — 1/num_buckets of each stratum —
    is window-sorted to apply the remaining budget. At 100 TB the heavy
    path is one scan + one filter; the sort touches ~1.5 % of rows at the
    default 64 buckets, and raising num_buckets shrinks it further.

    Cumulative sums are exact BIGINT arithmetic; the hash and its bucket
    assignment are the md5 arithmetic of ``uniform_hash_expr``, so the kept
    set is bit-identical across engines, runs, and partitionings.
    """
    from pyspark.sql import Window

    h = uniform_hash_expr(id_col, seed)
    base = (
        df.filter(F.col(strata_col).isin(*budgets.keys()))
        .withColumn("_h", h)
        .withColumn("_b", F.floor(F.col("_h") * num_buckets))
        .withColumn("_tok", F.col(token_count_col).cast("long"))
    )

    sums = {
        (r["s"], r["b"]): r["t"]
        for r in base.groupBy(
            F.col(strata_col).alias("s"), F.col("_b").alias("b")
        )
        .agg(F.sum("_tok").alias("t"))
        .collect()
    }
    cutoff: dict[str, int] = {}
    remaining: dict[str, int] = {}
    for stratum, budget in budgets.items():
        acc = 0
        cut = num_buckets
        for b in range(num_buckets):
            t = sums.get((stratum, b), 0)
            if acc + t > budget:
                cut, remaining[stratum] = b, budget - acc
                break
            acc += t
        cutoff[stratum] = cut

    cut_expr: Column = F.lit(None).cast("long")
    rem_expr: Column = F.lit(None).cast("long")
    for stratum in sorted(budgets):
        cond = F.col(strata_col) == stratum
        cut_expr = F.when(cond, F.lit(cutoff[stratum])).otherwise(cut_expr)
        rem_expr = F.when(
            cond, F.lit(remaining.get(stratum, 0))
        ).otherwise(rem_expr)

    whole = base.filter(F.col("_b") < cut_expr)
    w = (
        Window.partitionBy(strata_col)
        .orderBy("_h", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    straddle = (
        base.filter(F.col("_b") == cut_expr)
        .withColumn("_cum", F.sum("_tok").over(w))
        .filter(F.col("_cum") <= rem_expr)
        .drop("_cum")
    )
    return whole.unionByName(straddle).drop("_h", "_b", "_tok")


def pack_sequences(
    df: DataFrame,
    token_count_col: str,
    id_col: str = "doc_id",
    budget: int = 512,
    num_groups: int = 64,
    seed: int = 0,
) -> DataFrame:
    """Greedy sequence packing: assign each document to a fixed-token-budget
    training sequence (``pack_id``) such that each pack's total token count
    stays ≤ budget (a document alone larger than the budget gets its own
    pack and is flagged ``oversize``).

    Shape: one partial-aggregated shuffle on a deterministic hash-group
    key, then next-fit packing in id order inside each group — since r13
    as a pure ``aggregate()`` expression fold over the group's sorted
    (doc_id, n_tokens) array (guide §4: the greedy recurrence is exact
    integer arithmetic, so the former ``applyInPandas`` bought nothing but
    an ArrowEvalPython stage in the oracle path; outputs are identical by
    construction). Packing is partition-local by design — global optimal
    bin packing is NP-hard and needs a global sort; next-fit within hash
    groups wastes at most one partially-filled pack per group, negligible
    when groups hold thousands of docs. ``pack_id = group * 2^40 +
    local_index`` is globally unique and deterministic, so re-runs produce
    identical packs (required for resumable tokenization jobs). State per
    group is its own (doc_id, n_tokens) list — the same colocation the
    pandas form needed; raise ``num_groups`` to shrink it.
    """
    grouped = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(token_count_col).cast("long").alias("n_tokens"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.lit(f"g{seed}"), F.col(id_col).cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % num_groups
        ).alias("pack_group"),
    )
    series = grouped.groupBy("pack_group").agg(
        F.sort_array(
            F.collect_list(F.struct("doc_id", "n_tokens"))
        ).alias("_rows")
    )
    b = int(budget)
    # empty array of the output struct type (see ewma_anomaly)
    empty_out = (
        "slice(array(named_struct('doc_id', 0L, 'n_tokens', 0L, "
        "'local', 0L, 'oversize', false)), 1, 0)"
    )
    # the next-fit recurrence, verbatim: close the open pack when the doc
    # would overflow it, assign, then close again when it filled exactly
    fold = f"""
    aggregate(
      _rows,
      named_struct('local', 0L, 'acc', 0L, 'out', {empty_out}),
      (acc, r) -> named_struct(
        'local', (acc.local
                    + if(acc.acc > 0 AND acc.acc + r.n_tokens > {b}, 1L, 0L))
                 + if(if(acc.acc > 0 AND acc.acc + r.n_tokens > {b},
                         0L, acc.acc) + r.n_tokens >= {b}, 1L, 0L),
        'acc', if(if(acc.acc > 0 AND acc.acc + r.n_tokens > {b},
                     0L, acc.acc) + r.n_tokens >= {b},
                  0L,
                  if(acc.acc > 0 AND acc.acc + r.n_tokens > {b},
                     0L, acc.acc) + r.n_tokens),
        'out', array_append(acc.out, named_struct(
            'doc_id', r.doc_id, 'n_tokens', r.n_tokens,
            'local', acc.local
                + if(acc.acc > 0 AND acc.acc + r.n_tokens > {b}, 1L, 0L),
            'oversize', r.n_tokens > {b}))),
      acc -> acc.out)
    """
    return series.select(
        "pack_group", F.explode(F.expr(fold)).alias("_r")
    ).select(
        F.col("_r.doc_id").alias("doc_id"),
        F.col("_r.n_tokens").alias("n_tokens"),
        F.col("pack_group"),
        (F.col("pack_group") * F.lit(1 << 40).cast("long")
         + F.col("_r.local")).alias("pack_id"),
        F.col("_r.oversize").alias("oversize"),
    )


def chunk_documents(
    df: DataFrame,
    max_tokens: int,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into fixed-size token chunks with optional overlap —
    the context-window splitter every pretraining/RAG pipeline runs before
    packing or embedding. Output: one row per chunk with ``chunk_id``
    (0-based within doc), ``chunk_text``, ``n_chunk_tokens``.

    Chunk k covers tokens [k·stride, k·stride + max_tokens) where
    ``stride = max_tokens − overlap``; the last chunk may be short; a
    document shorter than ``max_tokens`` yields exactly one chunk. No
    trailing ghost chunk: a chunk starts only at offsets < n_tokens that
    are either 0 or carry at least one NEW token past the previous chunk.

    Plan shape: tokenize → ``sequence()`` of chunk starts → one
    ``posexplode`` → ``slice`` + ``array_join``. Entirely narrow (zero
    shuffle, whole-stage codegen); output rows ≈ input tokens /
    stride × row overhead, so at 100 TB the operator streams and the only
    cost is the deliberate data expansion the overlap requests.
    """
    if overlap >= max_tokens:
        raise ValueError("overlap must be < max_tokens")
    stride = max_tokens - overlap
    from .text import tokens_expr

    toks = tokens_expr(text_col)
    n = F.size(toks)
    # last chunk start: largest multiple of stride < n (and ≥ 0)
    last_start = F.greatest(
        F.lit(0), (F.ceil((n - F.lit(max_tokens)) / stride)).cast("long") * stride
    )
    starts = F.sequence(F.lit(0).cast("long"), last_start, F.lit(stride))
    out = (
        df.select(
            F.col(id_col), toks.alias("_toks"),
            F.posexplode(starts).alias("chunk_id", "_start"),
        )
        .select(
            id_col,
            "chunk_id",
            F.array_join(
                F.slice("_toks", F.col("_start").cast("int") + 1, max_tokens),
                " ",
            ).alias("chunk_text"),
            F.least(
                F.lit(max_tokens).cast("long"),
                F.size("_toks") - F.col("_start"),
            ).alias("n_chunk_tokens"),
        )
    )
    return out


def sample_n_per_stratum(
    df: DataFrame,
    strata_col: str,
    n: int,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Take EXACTLY min(n, stratum size) rows per stratum, deterministically:
    rank rows within each stratum by md5(seed:id) (a uniform pseudo-random
    but reproducible order, same trick as `stratified_sample`) and keep
    rank ≤ n. The "exactly 50k eval docs per source" knob — rate-based
    sampling can't hit an exact count.

    Scale: one shuffle on the stratum key + a per-partition top-n (Spark
    plans rank-≤-n filters as a partial top-n before the exchange when the
    WindowGroupLimit rule applies, so the full stratum is never sorted).
    Caveat at 100 TB: strata counts are usually small (sources, languages),
    so each stratum's candidate set lands on ONE task — fine for picking
    n ≤ ~10M rows per stratum; for larger n switch to a two-phase
    threshold estimate (sample the hash distribution, filter, exact-rank
    only the boundary slice — same structure as mixture_by_token_budget).

    Deterministic & engine-portable: md5 ties (none in practice) break on
    the id itself.
    """
    h = F.md5(F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string")))
    w = Window.partitionBy(strata_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("sample_rank") <= n)
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    rate: float,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic WEIGHTED Bernoulli sample: keep each row with
    probability ``least(1, rate * w / mean_w)`` — rows are kept
    proportionally to their weight (quality score, token count, dedup
    cluster mass) while the expected kept fraction stays ≈ ``rate``.
    The "sample 10% of the corpus, favoring high-quality docs" knob;
    with ``weight_col`` = token count it is mass-proportional sampling
    (every TOKEN equally likely to survive, the usual LLM-mixture basis).

    Determinism & portability: the acceptance uniform is the same
    md5(seed:id) hash as `stratified_sample` (consistent sample under
    re-weighting); the mean weight is computed as an exact DECIMAL sum over
    an exact row count, so the per-row threshold is one identical double
    expression in any engine.

    Scale shape: one scalar aggregate (decimal sum + count → a single row,
    broadcast back via cross join) and then a zero-shuffle codegen'd
    filter over the corpus — the big side is scanned once and never
    exchanged.
    """
    stats = df.agg(
        F.sum(F.col(weight_col).cast("decimal(28,6)")).alias("_w_sum"),
        F.count(F.lit(1)).alias("_w_n"),
    )
    # Σw = 0 (every weight zero — e.g. token-count weights over a shard
    # of empty docs) makes the proportional share undefined: keep
    # NOTHING (w = 0 rows have p ∝ 0 anyway) via a NULL p that fails the
    # acceptance filter, instead of an ANSI DIVIDE_BY_ZERO abort
    p = F.when(
        F.col("_w_sum") != 0,
        F.least(
            F.lit(1.0),
            F.lit(float(rate))
            * F.col(weight_col).cast("double")
            * F.col("_w_n").cast("double")
            / F.col("_w_sum").cast("double"),
        ),
    )
    return (
        df.crossJoin(F.broadcast(stats))
        .filter(uniform_hash_expr(id_col, seed) < p)
        .drop("_w_sum", "_w_n")
    )


def group_split(
    df: DataFrame,
    group_col: str,
    fractions: Mapping[str, float],
    seed: int = 0,
    label_col: str = "split",
) -> DataFrame:
    """Leakage-safe train/validation/test assignment: every row of the same
    GROUP (source domain, URL host, dedup cluster id) lands in the same
    split, because the assignment hashes the group key — near-duplicate or
    related rows can never straddle train and eval, the contamination mode
    a row-level random split invites.

    ``fractions`` maps label → fraction, summing to ≤ 1 (any remainder
    falls into the LAST label, so {"train": .9, "val": .05, "test": .05}
    is exact). Assignment compiles to one CASE chain over
    ``uniform_hash(seed, group)`` — zero shuffle, reproducible, and stable
    under incremental appends: a NEW row of an existing group joins its
    group's split without reshuffling anything already assigned.
    """
    u = uniform_hash_expr(group_col, seed)
    labels = list(fractions)
    expr: Column = F.lit(labels[-1])
    # Exact prefix sums so CASE bounds equal the documented cumulative
    # fractions — a running float `acc += frac` drifts
    # (0.8 + 0.1 -> 0.9000000000000001), which could assign a
    # boundary-sliver hash to the wrong label. fsum + round(…, 12) snaps
    # each bound to the decimal the caller wrote.
    fracs = [float(f) for f in fractions.values()]
    bounds: list[tuple[str, float]] = [
        (lab, round(math.fsum(fracs[: i + 1]), 12))
        for i, lab in enumerate(list(fractions)[:-1])
    ]
    for lab, bound in reversed(bounds):
        expr = F.when(u < F.lit(bound), F.lit(lab)).otherwise(expr)
    return df.withColumn(label_col, expr)


def boilerplate_chunk_stats(
    df: DataFrame,
    max_tokens: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document boilerplate fraction via cross-document repeated chunks:
    chunk every document (no overlap), count in how many DISTINCT documents
    each chunk occurs, and report per doc how many of its chunks are shared
    by ≥ ``min_docs`` documents — headers, footers, license blocks and
    templated paragraphs light up long before whole-document dedup fires
    (the paragraph-level complement of `dedup.exact_dedup`).

    Scale shape: chunking is the zero-shuffle `chunk_documents` projection,
    and each chunk is reduced to an 8-byte xxhash64 IN THE SCAN STAGE (the
    hash is only a grouping key — never exposed — so the cheapest hash
    wins; a collision merely merges two chunk groups, indistinguishable
    from two identical chunks, and at 64 bits is ~n²/2⁶⁵ likely). From
    there the plan is join-free: partial-agg to (fingerprint, doc,
    n_occurrences), a count window over the fingerprint for the
    distinct-document frequency, then the per-document rollup — three slim
    hash exchanges, no chunk text ever shuffled.
    """
    chunks = chunk_documents(
        df, max_tokens, overlap=0, id_col=id_col, text_col=text_col
    ).select(F.col(id_col), F.xxhash64(F.col("chunk_text")).alias("_fp"))
    occ = chunks.groupBy("_fp", id_col).agg(F.count(F.lit(1)).alias("_n_occ"))
    docs_with_chunk = F.count(F.lit(1)).over(Window.partitionBy("_fp"))
    return (
        occ.withColumn("_docs_with_chunk", docs_with_chunk)
        .groupBy(id_col)
        .agg(
            F.sum("_n_occ").alias("n_chunks"),
            F.sum(
                F.when(
                    F.col("_docs_with_chunk") >= min_docs, F.col("_n_occ")
                ).otherwise(0)
            ).alias("n_boilerplate_chunks"),
        )
        .withColumn(
            "boilerplate_fraction",
            F.col("n_boilerplate_chunks").cast("double") / F.col("n_chunks"),
        )
    )


def contrastive_pairs(
    positives: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    n_neg: int = 2,
    seed: int = 0,
) -> DataFrame:
    """Contrastive training-pair construction: label-1 rows from a mined
    positive-pair table (near-duplicates — `dedup.minhash_lsh_pairs`
    output with columns id_a/id_b), label-0 rows by deterministic ring
    sampling — every document gets UP TO ``n_neg`` pseudo-random partners
    (fewer when the corpus has n <= n_neg documents — the ring would wrap
    onto the anchor itself — or when a sampled negative collides with a
    mined positive pair and is dropped).

    Ring sampling (the scale-correct "random negatives"): each doc's ring
    position is row_number over md5(seed:id) — a seeded uniform shuffle —
    and its negatives are the next ``n_neg`` docs around the ring
    (modulo wrap). Uniform-random in aggregate, deterministic under
    replay, and O(n · n_neg) with ONE narrow sort-shuffle carrying
    (id, 8-byte hash) — never a per-anchor corpus scan. Negatives that
    collide with a mined positive pair are dropped by a group on the
    pair key over the union (pair-count-sized shuffle) — NOT a broadcast
    anti join, which would re-evaluate the mined-positive subtree just
    to build its hash table and whose build side is unbounded at scale.

    Output: (anchor_id, other_id, label) with label 1 for positives,
    0 for negatives; each pair appears once.
    """
    from apache_flink_essentials_spark.operators.transform import (
        global_row_number,
        input_is_single_split,
    )

    pos_pairs = positives.select(
        F.col("id_a").alias("anchor_id"), F.col("id_b").alias("other_id")
    )
    if n_neg < 1:
        # guard: Spark's sequence(1, 0) would DESCEND to [1, 0] and emit a
        # phantom negative per doc instead of zero
        return pos_pairs.withColumn("label", F.lit(1))

    base = docs.select(
        F.col(id_col).alias("anchor_id"),
        uniform_hash_expr(id_col, seed).alias("_r"),
    )
    if input_is_single_split(base):
        # single-split fast path: the whole ring fits one task, so the
        # j-th ring neighbor is lead(id, j) over the ring order — the
        # wrap-around rows (lead past the end) read the ring's first
        # n_neg ids from an unbounded-frame collect_list (evaluated ONCE
        # per partition). One window stage; no count job, no position
        # join — the multi-job distributed form costs ~4 stage launches
        # to produce the same single-task sort. The ENTIRE query is one
        # templated spark.sql call: every Column-API node is a py4j
        # round trip, and this branch exists purely to shave fixed
        # overhead (measured ~0.3 s of driver chatter per build in the
        # equivalent DataFrame form).
        ord_ = "ORDER BY _r, anchor_id"
        frame = (
            f"{ord_} ROWS BETWEEN UNBOUNDED PRECEDING"
            " AND UNBOUNDED FOLLOWING"
        )
        leads = ", ".join(
            f"lead(anchor_id, {j}) OVER ({ord_}) AS _lead{j}"
            for j in range(1, n_neg + 1)
        )
        wrapped = ", ".join(
            f"coalesce(_lead{j},"
            f" element_at(_head, cast(_rn + {j} - _n AS int)))"
            for j in range(1, n_neg + 1)
        )
        return docs.sparkSession.sql(
            f"""
            WITH ringed AS (
              SELECT anchor_id,
                     row_number() OVER ({ord_}) AS _rn,
                     count(1) OVER ({frame}) AS _n,
                     slice(collect_list(anchor_id) OVER ({frame}),
                           1, {n_neg}) AS _head,
                     {leads}
              FROM {{base}}
            ), negs AS (
              SELECT anchor_id, other_id
              FROM (SELECT anchor_id,
                           explode(array({wrapped})) AS other_id
                    FROM ringed)
              WHERE anchor_id != other_id
            ), pos_both AS (
              SELECT _p.* FROM (
                SELECT explode(array(
                  struct(anchor_id, other_id, 1 AS _lbl, 1 AS _fwd),
                  struct(other_id AS anchor_id, anchor_id AS other_id,
                         1 AS _lbl, 0 AS _fwd))) AS _p
                FROM {{pos}})
            ), cand AS (
              SELECT * FROM pos_both
              UNION ALL
              SELECT anchor_id, other_id, 0 AS _lbl, 0 AS _fwd FROM negs
            )
            SELECT anchor_id, other_id, max(_lbl * _fwd) AS label
            FROM cand GROUP BY anchor_id, other_id
            HAVING max(_lbl * _fwd) = 1 OR max(_lbl) = 0
            """,
            base=base,
            pos=pos_pairs,
        )
    else:
        # ring positions via the DISTRIBUTED two-phase row_number — a
        # plain Window.orderBy would funnel the corpus through one task
        ring = global_row_number(base, ["_r", "anchor_id"], out_col="_rn")
        n_total = ring.agg(F.count(F.lit(1)).alias("_n"))
        anchors = ring.join(F.broadcast(n_total))
        # j-th negative of the doc at ring position rn is the doc at
        # ((rn - 1 + j) mod n) + 1
        probes = anchors.select(
            "anchor_id",
            F.explode(
                F.expr(f"transform(sequence(1, {n_neg}), j -> (_rn - 1 + j) % _n + 1)")
            ).alias("_target_rn"),
        )
        negs = probes.join(
            ring.select(F.col("anchor_id").alias("other_id"),
                        F.col("_rn").alias("_target_rn")),
            "_target_rn",
        ).select("anchor_id", "other_id").filter(
            F.col("anchor_id") != F.col("other_id")
        )
    # Drop ring negatives that are actually mined positives (either
    # order) WITHOUT re-evaluating the positives subtree: a broadcast
    # anti join would compute `positives` a second time just to build
    # the hash table (mined-pair subtrees are scan+shuffle-priced). One
    # explode emits each positive in both orientations from a single
    # evaluation; a group on the pair key then keeps forward positives
    # and unmatched negatives — pair-count-sized shuffle, no recompute.
    pos_both = pos_pairs.selectExpr(
        "explode(array("
        "struct(anchor_id, other_id, 1 AS _lbl, 1 AS _fwd),"
        "struct(other_id AS anchor_id, anchor_id AS other_id,"
        " 1 AS _lbl, 0 AS _fwd))) AS _p"
    ).select("_p.*")
    cand = pos_both.unionByName(
        negs.selectExpr("anchor_id", "other_id", "0 AS _lbl", "0 AS _fwd")
    )
    return (
        cand.groupBy("anchor_id", "other_id")
        .agg(
            F.expr("max(_lbl * _fwd)").alias("_has_fwd"),
            F.expr("max(_lbl)").alias("_has_pos"),
        )
        .filter("_has_fwd = 1 OR _has_pos = 0")
        .selectExpr("anchor_id", "other_id", "_has_fwd AS label")
    )


def contrastive_pairs_fingerprint(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_neg: int = 2,
    seed: int = 0,
) -> DataFrame:
    """``contrastive_pairs`` with the positive-mining step fused in:
    positives are whitespace-normalized-md5 exact-duplicate pairs, so
    the fingerprint, the duplicate-group pair explosion, the ring
    negatives, AND the positive/negative reconciliation all derive from
    ONE scan of the corpus.

    Single-split inputs take a zero-exchange plan: the fingerprint and
    the ring hash are computed in the same projection, the duplicate
    groups are a window ``PARTITION BY fingerprint`` and the ring a
    global-order window — consecutive window operators over one
    partition need no exchange — and one ``explode`` emits positives
    (both orientations) and ring negatives together so the final
    pair-key group runs on the operator's own output partitioning.
    Measured at sf0.1 this replaces a 3-exchange plan: 0.70 s -> 0.48 s
    (the separately-mined-positives composition paid one groupBy
    shuffle, one union shuffle, and re-planned ~0.25 s of driver
    chatter).

    Multi-split inputs fall back to the generic composition
    (``contrastive_pairs`` over ``groupBy``-mined positives) — at real
    scale the shuffles ARE the right plan, and the fused single-task
    form would funnel the corpus through one task.
    """
    from apache_flink_essentials_spark.operators.transform import (
        input_is_single_split,
    )

    if n_neg < 1 or not input_is_single_split(docs):
        fp = docs.selectExpr(
            id_col,
            r"md5(regexp_replace(lower(%s), '\\s+', ' ')) AS _f" % text_col,
        )
        pos = (
            fp.groupBy("_f")
            .agg(F.expr(f"sort_array(collect_list({id_col}))").alias("_ids"))
            .filter("size(_ids) >= 2")
            .selectExpr(
                "inline(flatten(transform(_ids, (x, i) ->"
                " transform(slice(_ids, i + 2, size(_ids)),"
                " y -> struct(x AS id_a, y AS id_b)))))"
            )
        )
        return contrastive_pairs(pos, docs, id_col, n_neg, seed)

    ord_ = f"ORDER BY _r, {id_col}"
    frame = (
        f"{ord_} ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
    )
    leads = ", ".join(
        f"lead({id_col}, {j}) OVER ({ord_}) AS _lead{j}"
        for j in range(1, n_neg + 1)
    )
    wraps = [
        f"coalesce(_lead{j},"
        f" element_at(_head, cast(_rn + {j} - _n AS int)))"
        for j in range(1, n_neg + 1)
    ]
    negs_arr = ", ".join(
        f"named_struct('a', {id_col}, 'b', {w}, '_lbl', 0, '_fwd', 0)"
        for w in wraps
    )
    return docs.sparkSession.sql(
        f"""
        WITH d AS (
          SELECT {id_col},
                 md5(regexp_replace(lower({text_col}), '\\\\s+', ' '))
                   AS _f,
                 cast(conv(substring(md5(concat('{seed}:', {id_col})),
                                     1, 8), 16, 10) AS BIGINT) AS _r
          FROM {{docs}}
        ), w AS (
          SELECT {id_col},
                 row_number() OVER (PARTITION BY _f ORDER BY {id_col})
                   AS _grn,
                 collect_list({id_col}) OVER (
                   PARTITION BY _f ORDER BY {id_col}
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND UNBOUNDED FOLLOWING) AS _gids,
                 row_number() OVER ({ord_}) AS _rn,
                 count(1) OVER ({frame}) AS _n,
                 slice(collect_list({id_col}) OVER ({frame}), 1, {n_neg})
                   AS _head,
                 {leads}
          FROM d
        ), cand AS (
          SELECT explode(concat(
            flatten(transform(slice(_gids, _grn + 1,
                                    size(_gids) - _grn),
              y -> array(
                named_struct('a', {id_col}, 'b', y,
                             '_lbl', 1, '_fwd', 1),
                named_struct('a', y, 'b', {id_col},
                             '_lbl', 1, '_fwd', 0)))),
            filter(array({negs_arr}), x -> x.b != {id_col})
          )) AS _c
          FROM w
        )
        SELECT _c.a AS anchor_id, _c.b AS other_id,
               max(_c._lbl * _c._fwd) AS label
        FROM cand GROUP BY _c.a, _c.b
        HAVING max(_c._lbl * _c._fwd) = 1 OR max(_c._lbl) = 0
        """,
        docs=docs,
    )


def curriculum_order(
    df: DataFrame,
    quality_col: str,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Training-order construction: documents ranked best-first WITHIN each
    source, then round-robin interleaved ACROSS sources — the standard
    curriculum/mixing order that keeps every batch source-diverse while
    front-loading quality (a greedy pass over per-source quality-sorted
    queues).

    Deterministic: within a source ties break by id; across sources the
    round-robin position orders by (per-source rank, source name).

    Scale: one window shuffle keyed by source for the per-source rank; the
    global train_order uses `transform.global_row_number` — range-partition
    on the order key, local rank, broadcast offsets — so the total ordering
    is distributed (a plain Window.orderBy row_number would be a
    single-task sort). The ordered relation carries only (id, rank,
    source).
    """
    from apache_flink_essentials_spark.operators.transform import (
        global_row_number,
    )

    ws = Window.partitionBy(source_col).orderBy(
        F.desc(quality_col), F.asc(id_col)
    )
    ranked = df.select(
        F.col(id_col),
        F.col(source_col),
        F.row_number().over(ws).alias("rank_in_source"),
    )
    return global_row_number(
        ranked,
        ["rank_in_source", source_col, id_col],
        out_col="train_order",
    ).select(id_col, source_col, "rank_in_source", "train_order")


def temperature_weights(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    alpha: float = 0.3,
    budget_tokens: int = 100_000,
) -> DataFrame:
    """α-temperature source re-weighting — the multilingual/source sampling
    policy (XLM-R style): sampling weight ∝ (natural token share)^α, so
    low-resource sources are up-sampled as α → 0 and the natural mix is
    recovered at α = 1. Returns per source its document/token counts,
    natural share, normalized sampling weight, and the integer token
    allocation under ``budget_tokens``.

    Engine-portable floats via the micro-unit trick (see
    `text.unigram_logprob`): each pow() result is quantized to an integer
    (×1e9, rounded) BEFORE normalization, so the weight denominator is an
    exact integer sum and every emitted ratio/allocation is integer
    arithmetic — no float-summation order anywhere.

    Scale shape: one (source) hash aggregation over the corpus — partial
    aggregation collapses each task to its source inventory — then the
    corpus total and the weight denominator are unpartitioned WINDOW sums
    over that |sources|-row aggregate (safe post-aggregation — the
    `dataset_card` rationale). The agg-branch-plus-broadcast-cross-join
    form evaluated the tokenizing aggregate up to FOUR times: DataFrame
    branch reuse is per-plan-node, so each `.agg` branch re-ran the scan.
    """
    from .text import tokens_expr

    per = df.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens_expr(text_col))).alias("n_tokens"),
    )
    wf = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    base = per.withColumn("_total", F.sum("n_tokens").over(wf))
    w_micro = F.round(
        F.pow(F.col("n_tokens").cast("double") / F.col("_total"), alpha)
        * 1e9
    ).cast("long")
    base = base.withColumn("_w", w_micro).withColumn(
        "_wsum", F.sum("_w").over(wf)
    )
    return (
        base
        .select(
            F.col(source_col),
            "n_docs",
            "n_tokens",
            (F.col("n_tokens").cast("double") / F.col("_total")).alias(
                "nat_share"
            ),
            (F.col("_w").cast("double") / F.col("_wsum")).alias("weight"),
            F.floor(
                F.lit(budget_tokens) * F.col("_w") / F.col("_wsum")
            ).cast("long").alias("alloc_tokens"),
        )
    )


def unimax_weights(
    df: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    budget_frac: float = 0.5,
    epoch_cap: int = 2,
) -> DataFrame:
    """UniMax language sampling (Chung et al. 2023, arXiv 2304.09151):
    distribute a token budget ``N = floor(budget_frac · total_tokens)`` as
    UNIFORMLY as possible across languages subject to a per-language
    repeat cap ``c_l = epoch_cap · tokens_l`` — the principled alternative
    to `temperature_weights` (no tuned α; low-resource languages are
    never over-epoched). The optimum is waterfilling: ``alloc_l =
    min(c_l, t)`` with threshold t solving ``Σ min(c_l, t) = N``.

    The iterative greedy in the paper has a CLOSED FORM over the
    cap-sorted sequence, so no driver loop: with caps ascending and
    prefix sums ``C_i``, the boundary candidate ``t_i = (N − C_{i−1}) /
    (n − i + 1)`` is the true threshold for exactly the row(s) where
    ``c_{i−1} ≤ t_i ≤ c_i`` (g(t) = Σ min(c, t) is piecewise-linear and
    increasing, so the valid window is unique up to exact ties, which
    yield the same t — min() collapses them). No valid row ⟺ ``Σ c ≤ N``
    ⟺ every language gets its full cap. Caps, prefix sums and N are all
    BIGINT; t/alloc/weight are single int/int divisions — unrounded per
    the registry convention, bit-identical across engines.

    Scale shape: one (lang) hash aggregation over the corpus (map-side
    combined), then ALL window work runs on the language inventory —
    cardinality ~100s of rows at any data scale — so the unpartitioned
    windows are sketch-sized by construction, never data-sized.
    """
    from .text import tokens_expr

    per = df.groupBy(lang_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens_expr(text_col))).alias("lang_tokens"),
    ).withColumn(
        "cap_tokens", (F.lit(epoch_cap) * F.col("lang_tokens")).cast("long")
    )
    # budget/count as unpartitioned windows over the |langs|-row
    # aggregate (safe post-aggregation) — the `.agg` branch +
    # broadcast cross join form re-ran the tokenizing aggregate twice
    wf = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_ord = Window.orderBy("cap_tokens", lang_col)
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    staged = (
        per.withColumn(
            "_budget",
            F.floor(
                F.sum("lang_tokens").over(wf) * F.lit(budget_frac)
            ).cast("long"),
        )
        .withColumn("_n", F.count(F.lit(1)).over(wf))
        .withColumn("_i", F.row_number().over(w_ord))
        .withColumn("_cum", F.sum("cap_tokens").over(w_cum))
        .withColumn("_prev_cap", F.lag("cap_tokens", 1, 0).over(w_ord))
        .withColumn(
            "_tc",
            (F.col("_budget") - (F.col("_cum") - F.col("cap_tokens")))
            / (F.col("_n") - F.col("_i") + 1).cast("double"),
        )
        .withColumn(
            "_valid",
            (F.col("_tc") <= F.col("cap_tokens").cast("double"))
            & (F.col("_prev_cap").cast("double") <= F.col("_tc")),
        )
    )
    w_all = Window.partitionBy()
    thresholded = staged.withColumn(
        "_t",
        F.min(F.when(F.col("_valid"), F.col("_tc"))).over(w_all),
    )
    return thresholded.select(
        F.col(lang_col),
        "n_docs",
        "lang_tokens",
        "cap_tokens",
        F.when(
            F.col("_t").isNull(), F.col("cap_tokens").cast("double")
        ).otherwise(
            F.least(F.col("cap_tokens").cast("double"), F.col("_t"))
        ).alias("alloc_tokens"),
        (
            F.when(
                F.col("_t").isNull(), F.col("cap_tokens").cast("double")
            ).otherwise(
                F.least(F.col("cap_tokens").cast("double"), F.col("_t"))
            )
            / F.col("_budget").cast("double")
        ).alias("weight"),
    )


def winsorize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lower_p: float = 0.01,
    upper_p: float = 0.99,
) -> DataFrame:
    """Per-group winsorization: clip ``value_col`` to the group's
    [lower_p, upper_p] exact quantiles — the standard tail-taming step
    before computing training statistics or loss weights from heavy-tailed
    metrics (doc lengths, per-source quality scores), where a handful of
    extreme values would otherwise dominate means and normalizers.

    Adds ``{value_col}_w`` (clipped, original column preserved) and a
    ``clipped`` flag. Exact ``percentile`` matches DuckDB's
    ``quantile_cont`` bit-for-bit (parity proven by `value_percentiles`),
    and clipping selects one of two identical doubles — so the result is
    engine-exact despite being a float op.

    Scale shape: ONE grouped exact-percentile pass (sorts within groups —
    bounded group counts; swap in `sketches.py` quantile sketches for a
    100 TB continuous profile) and a broadcast join back; the data side
    never shuffles.
    """
    v = F.col(value_col).cast("double")
    bounds = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, {lower_p!r})").alias("_lo"),
        F.expr(f"percentile({value_col}, {upper_p!r})").alias("_hi"),
    )
    return (
        df.join(F.broadcast(bounds), group_col)
        .withColumn(
            f"{value_col}_w",
            F.least(F.greatest(v, F.col("_lo")), F.col("_hi")),
        )
        .withColumn(
            "clipped",
            (v < F.col("_lo")) | (v > F.col("_hi")),
        )
        .drop("_lo", "_hi")
    )


def dsir_weights(
    df: DataFrame,
    target_filter: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, public arXiv
    2302.03169 "Data Selection for Language Models via Importance
    Resampling"): per document, the log importance ratio
    ``log10 p_target(doc) − log10 p_raw(doc)`` under add-one-smoothed
    unigram LMs, where the target LM is fit on the rows matching
    ``target_filter`` (e.g. a trusted domain) and the raw LM on the whole
    input. Resampling the corpus proportional to ``10**weight`` (the
    weight is a BASE-10 log ratio — ``exp(weight)`` would raise the true
    ratio to the power 1/ln 10 and distort the mixture) shifts
    the data mixture toward the target distribution — the DSIR paper uses
    hashed n-gram features; the unigram form is the same estimator with
    an identity feature map (a hashed-bigram variant composes from
    ``text.bigram_logprob``'s bigram construction if finer features pay
    for themselves).

    Portability is the `unigram_logprob` integer micro-log idiom: both
    smoothed counts quantize to ``round(log10(cnt+1)·1e6)`` BEFORE the
    per-doc sum (exact integer, order-independent), and the two
    normalizers ``log10(total+V)`` apply once per doc at the end. V is
    the raw-corpus vocabulary size, shared by both LMs so unseen-in-
    target tokens get mass 1/(T_t+V) — finite weights for every doc.

    Scale shape (each step measured at sf0.1): tokenize feeds a
    (doc, target, token) hash agg whose MAP-SIDE COMBINE shrinks the raw
    token stream to distinct doc-token pairs before anything shuffles
    (an explicit pre-repartition on token — the "share one exchange"
    idea — ships raw tokens and measures 40% slower). Per-token
    raw/target counts and the first-occurrence owner attach via
    AGGREGATE WINDOWS partitioned by token over that occ relation — occ
    is computed once and never re-joined (the earlier groupBy+join form
    re-derived the whole tokenize+occ chain for the count branch;
    A/B-measured 2x slower). The per-doc rollup stays distributed — a
    repartition(1) before it would ship the whole occ relation to one
    task with no combine, the exact single-partition hazard this module
    bans. The three scalars (T_t,
    T_r, V) read off the per-doc relation — a single-partition window
    when the input is provably small, else a broadcast scalar over the
    lazily-checkpointed narrow per-doc rows. The tokenize scan runs once
    per agg branch (twice total) — measured cheaper than materializing
    occ (localCheckpoint: +0.3 s) or re-shuffling raw tokens for plan-
    node reuse.
    """
    from .text import tokens_expr
    from .transform import floor_parallelism

    toks = (
        floor_parallelism(df, min_task_bytes=1 << 14)
        .select(
            F.col(id_col),
            target_filter.alias("_is_target"),
            F.explode(tokens_expr(text_col)).alias("_tok"),
        )
        .filter(F.col("_tok") != "")
    )
    ml = lambda c: F.round(  # noqa: E731
        F.log10((c + F.lit(1)).cast("double")) * 1e6
    ).cast("long")
    occ = toks.groupBy(id_col, "_is_target", "_tok").agg(
        F.count(F.lit(1)).alias("_n_occ")
    )
    # per-token corpus/target counts as AGGREGATE WINDOWS over the occ
    # relation (PARTITION BY token, unbounded frame): occ is computed
    # ONCE and never re-joined — A/B-measured 2x faster than the earlier
    # groupBy(_tok)+join form, which re-derived the whole tokenize+occ
    # chain for the cnt branch (1.3-2.1 s vs 0.6-0.7 s warm at sf0.1,
    # shuffle_partitions=16). The quantized micro-log runs per DISTINCT
    # (doc, token) row — occ-sized, not occurrence-sized — which is what
    # made the r4-era "window form" lose before occ existed.
    wt = Window.partitionBy("_tok")
    keyed = occ.select(
        F.col(id_col),
        "_is_target",
        "_n_occ",
        (
            ml(
                F.sum(
                    F.when(F.col("_is_target"), F.col("_n_occ")).otherwise(
                        F.lit(0)
                    )
                ).over(wt)
            )
            - ml(F.sum("_n_occ").over(wt))
        ).alias("_ml_diff"),
        # _is_target is constant per doc, so (doc, tok) is unique in occ:
        # attributing each distinct token to its lowest doc makes
        # sum(_v1) per doc partition the vocabulary size exactly once
        (F.col(id_col) == F.min(id_col).over(wt)).cast("long").alias("_v1"),
    )
    per_doc = keyed.groupBy(id_col, "_is_target").agg(
        F.sum("_n_occ").alias("n_tokens"),
        F.sum(F.col("_n_occ") * F.col("_ml_diff")).alias("_s"),
        F.sum("_v1").alias("_v"),
    )
    if small_input("dsir_weights", df):
        wf = Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        scored = per_doc.select(
            "*",
            F.sum("n_tokens").over(wf).alias("_tot_r"),
            F.sum(
                F.when(F.col("_is_target"), F.col("n_tokens")).otherwise(
                    F.lit(0)
                )
            ).over(wf).alias("_tot_t"),
            F.sum("_v").over(wf).alias("_vocab"),
        )
    else:
        per_doc = per_doc.localCheckpoint(eager=False)
        totals = per_doc.agg(
            F.sum("n_tokens").alias("_tot_r"),
            F.sum(
                F.when(F.col("_is_target"), F.col("n_tokens")).otherwise(
                    F.lit(0)
                )
            ).alias("_tot_t"),
            F.sum("_v").alias("_vocab"),
        )
        scored = per_doc.crossJoin(F.broadcast(totals))
    return scored.select(
        F.col(id_col),
        "n_tokens",
        (
            F.col("_s") / F.lit(1e6)
            - F.col("n_tokens")
            * (
                F.log10((F.col("_tot_t") + F.col("_vocab")).cast("double"))
                - F.log10(
                    (F.col("_tot_r") + F.col("_vocab")).cast("double")
                )
            )
        ).alias("log_weight"),
    )


def dataset_card(
    df: DataFrame,
    group_cols: Sequence[str] = ("lang", "source"),
    text_col: str = "text",
) -> DataFrame:
    """Dataset-card summary table (the "data statement" every released
    training corpus ships): per (lang, source) stratum — document count,
    exact token count, the stratum's share of corpus tokens, documents
    passing the full Gopher rule battery, the pass rate, and mean tokens
    per document.

    Every ratio is a division of two EXACT integers (counts/sums of
    longs), so results are bit-identical to the SQL oracle with no
    decimal/rounding machinery — the module's portability conventions.

    Scale: one scan computing per-doc token count + Gopher conjunction
    inside codegen, one map-side-combining hash aggregate on the stratum
    key, then the corpus-total window over the AGGREGATED relation
    (|langs × sources| rows — a single-partition exchange of a few
    hundred rows, not of data; the unpartitioned window is safe
    precisely because it runs post-aggregation).
    """
    return dataset_card_from_counts(
        dataset_card_counts(df, group_cols, text_col), group_cols
    )


def dataset_card_counts(
    df: DataFrame,
    group_cols: Sequence[str] = ("lang", "source"),
    text_col: str = "text",
) -> DataFrame:
    """The dataset card's state half: per stratum the exact document,
    token and Gopher-pass counts. All three are associative integer
    sums, so it runs unchanged as complete-mode stream state of
    |strata| rows, whatever the stream length."""
    from apache_flink_essentials_spark.operators.text import (
        gopher_pass_expr,
        tokens_expr,
    )

    base = df.select(
        *group_cols,
        F.size(tokens_expr(text_col)).alias("_nt"),
        gopher_pass_expr(text_col).cast("long").alias("_pass"),
    )
    return base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_nt").alias("n_tokens"),
        F.sum("_pass").alias("n_gopher_pass"),
    )


def dataset_card_from_counts(
    agg: DataFrame, group_cols: Sequence[str] = ("lang", "source")
) -> DataFrame:
    """Share and rate columns over a :func:`dataset_card_counts` relation
    (batch or drained stream state). A share of a still-growing total is
    only final when the input is, so it derives on read; the corpus-total
    window runs over the |strata|-row aggregate, never the data."""
    total = F.sum("n_tokens").over(Window.partitionBy())
    return agg.select(
        *group_cols,
        "n_docs",
        "n_tokens",
        (F.col("n_tokens") / total).alias("token_share"),
        "n_gopher_pass",
        (F.col("n_gopher_pass") / F.col("n_docs")).alias("gopher_pass_rate"),
        (F.col("n_tokens") / F.col("n_docs")).alias("avg_doc_tokens"),
    )


def perplexity_buckets(
    scored: DataFrame,
    n_buckets: int = 5,
    score_col: str = "mean_logprob",
    id_col: str = "doc_id",
    weight_col: str = "n_tokens",
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2019 §4.3, public
    arXiv 1911.00359): rank documents by an LM quality score (e.g.
    ``text.unigram_logprob``'s mean log-probability) and split them into
    ``n_buckets`` equal-count bins — the standard head/middle/tail split
    used to mix "fluent" against "diverse" data in a training corpus.
    Returns per bucket: doc count, token mass, and the score range.
    Bucket 1 = lowest score (most surprising text).

    Exact and engine-portable: ranks come from ``global_row_number``
    over the TOTAL order (score, id) — no sampling, no approximate
    percentiles — and the bucket id is integer floor arithmetic
    ``(rn-1)·n_buckets div n``, so equal-count semantics are
    reproducible bit-for-bit against the SQL oracle.

    Scale: the ranking is the two-phase range-partition pass (every
    stage distributed — see ``global_row_number``); the corpus count is
    a 1-row broadcast; the final aggregate is a hash-agg on
    ``n_buckets`` keys with map-side combine. Nothing data-sized ever
    converges on one task.

    Size-adaptive (the ``bigram_logprob`` precedent): when the plan's
    leaf-scan bytes prove the ranked relation small (`session.small_input`
    — the per-doc score table is strictly smaller than its input), the
    rank is a plain single-partition ``Window.orderBy`` — the two-phase
    machinery's 3 extra exchanges + offsets join are pure stage
    overhead there (measured 11.7× the DuckDB anchor at bench SF, ~2×
    after). Unknown or large inputs take the distributed path; both
    produce identical ranks (total order ⇒ deterministic).
    """
    from apache_flink_essentials_spark.operators.transform import global_row_number

    if small_input("perplexity_buckets", scored):
        # the doc count rides the SAME single-partition window stage as
        # the rank (unbounded frame, evaluated once per partition) — a
        # separate count branch would re-evaluate the whole upstream
        # scoring chain a second time just to produce one number
        ranked = scored.select(
            "*",
            F.row_number()
            .over(Window.orderBy(score_col, id_col))
            .cast("long")
            .alias("rn"),
            F.count(F.lit(1))
            .over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            .alias("_n"),
        )
    else:
        # large path: materialize the (narrow, doc-count-sized) scored
        # relation once so the count branch and the two-phase rank read
        # the same pass instead of re-running the scoring chain twice
        scored = scored.localCheckpoint(eager=False)
        total = scored.agg(F.count(F.lit(1)).alias("_n"))
        ranked = global_row_number(
            scored, [score_col, id_col], "rn"
        ).crossJoin(F.broadcast(total))
    bucket = (
        F.floor(((F.col("rn") - 1) * n_buckets) / F.col("_n")) + 1
    ).alias("bucket")
    return (
        ranked.groupBy(bucket)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(weight_col).alias(weight_col),
            F.min(score_col).alias(f"min_{score_col}"),
            F.max(score_col).alias(f"max_{score_col}"),
        )
    )


def softdedup_weights(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Soft deduplication training weights (the SoftDeDup idea — keep
    duplicates but DOWN-WEIGHT them instead of dropping: each document
    in an exact-duplicate cluster of size m gets weight 1/m, so every
    distinct text contributes exactly one document's worth of gradient
    regardless of its copy count). Clustering is the repo's exact-dedup
    fingerprint (md5 over whitespace-normalized text), so the weights
    are fully deterministic and oracle-checkable; weight is an int/int
    division (unrounded — the minhash_lsh_pairs portability argument).

    Scale: ONE aggregate-window pass — cluster sizes attach via
    count PARTITION BY fingerprint (the dsir_weights window idiom:
    no groupBy+join, no second scan); the fingerprint shuffle is the
    same one exact dedup already pays.

    Output: (doc_id, cluster_size, weight).
    """
    from apache_flink_essentials_spark.operators.text import fingerprint_expr

    w = Window.partitionBy("_f")
    return (
        df.select(F.col(id_col), fingerprint_expr(text_col).alias("_f"))
        .select(
            F.col(id_col),
            F.count(F.lit(1)).over(w).alias("cluster_size"),
        )
        .select(
            id_col,
            "cluster_size",
            (F.lit(1) / F.col("cluster_size")).alias("weight"),
        )
    )


def token_budget_select(
    df: DataFrame,
    budget_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy token-budget corpus selection → the documents a fixed
    training-token budget buys, picked in quality-density order:
    rank documents by ``density = distinct-token ratio`` (a cheap,
    deterministic quality proxy — boilerplate and repetition score low)
    and take the prefix whose cumulative token count fits the budget.

    Output: ``(doc_id, n_tokens, density, cum_tokens)`` for the selected
    prefix, ordered by the selection order. A budget-constrained variant
    of `unimax_weights` thinking: what subset do I train on when I can
    afford B tokens, not the whole corpus?

    Determinism: density is an exact BIGINT/BIGINT rational; the
    selection order (density DESC, id ASC) is total; the running total
    sums BIGINT token counts — every step engine-portable, no floats in
    the ordering.

    Scale: scoring is one narrow codegen pass over the scan; the
    ranking + running total is the distributed two-phase
    `global_prefix_sum` (range partition on the order key, local
    cumsum, broadcast per-partition offsets) — no single-task window,
    no driver collect. The budget cut is a filter on the running total.
    """
    from apache_flink_essentials_spark.operators.text import tokens_expr
    from apache_flink_essentials_spark.operators.transform import (
        global_prefix_sum,
    )

    toks = tokens_expr(text_col)
    scored = df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        (F.size(F.array_distinct(toks)).cast("long")
         / F.size(toks).cast("long")).alias("density"),
    ).where(F.col("n_tokens") > 0)
    # order key: density DESC == negated density ASC (exact rational —
    # negation is lossless), id tiebreak makes the order total
    keyed = scored.withColumn("_neg_density", -F.col("density"))
    cum = global_prefix_sum(
        keyed, ["_neg_density", id_col], "n_tokens", "cum_tokens"
    )
    return (
        cum.where(F.col("cum_tokens") <= budget_tokens)
        .select(id_col, "n_tokens", "density",
                F.col("cum_tokens").cast("long").alias("cum_tokens"))
        .orderBy("cum_tokens")
    )
