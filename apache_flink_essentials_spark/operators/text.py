"""Text analysis for LLM-data pipelines (SURVEY §2.10): tokenization,
quality scoring, language-ID, document fingerprinting.

Not in the reference (its scalar surface is inline lambdas, SURVEY §2.8) —
these are the training-data operators the north-star requires, built purely
from JVM-side Column expressions (split/transform/filter/aggregate higher-
order functions), so they stay inside whole-stage codegen and scale linearly
with no shuffle until the final aggregate. No Python UDFs anywhere.

All functions are deterministic and have exact DuckDB-SQL twins (registered
in __spark_entry__.oracle_sql).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from apache_flink_essentials_spark.functions import sql_ident, sql_in, sql_str
from apache_flink_essentials_spark.session import driver_frame, small_input

# Tiny deterministic stopword inventories — enough for ratio features and a
# stopword-overlap language heuristic (the real thing would be a fastText
# model behind mapInPandas; heuristic keeps it dependency-free + oracle-able).
STOPWORDS_EN = ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"]

LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2"],  # pinyin-ish marker tokens
}


_WHITESPACE = sql_str(r"\s+")


def tokens_sql(text_col: str = "text") -> str:
    """Whitespace tokenization of lower-cased text → array<string>, as SQL
    text: THE tokenization, for SQL higher-order-function expressions."""
    return f"split(lower({sql_ident(text_col)}), {_WHITESPACE})"


def tokens_expr(text_col: str = "text") -> Column:
    """`tokens_sql` as a Column."""
    return F.expr(tokens_sql(text_col))


def _stopword_hits_expr(text_col: str) -> Column:
    """Tokens of ``text_col`` that are `STOPWORDS_EN` entries (with repeats)."""
    return F.expr(f"size(filter({tokens_sql(text_col)}, t -> {sql_in('t', STOPWORDS_EN)}))")


def _token_chars_expr(text_col: str) -> Column:
    """Total characters over the tokens of ``text_col`` (bigint)."""
    return F.expr(f"aggregate({tokens_sql(text_col)}, 0L, (acc, t) -> acc + length(t))")


def bpe_ish_tokens_expr(text_col: str = "text") -> Column:
    """BPE-ish sub-word proxy: split on whitespace AND intra-word boundaries
    (letter/digit transitions), the regex half of a GPT-2-style pre-tokenizer.
    Token *counting* with this is a cheap standalone estimator."""
    cleaned = F.regexp_replace(
        F.lower(F.col(text_col)), r"([a-z]+)(\d)", r"$1 $2"
    )
    cleaned = F.regexp_replace(cleaned, r"(\d)([a-z])", r"$1 $2")
    return F.split(cleaned, r"\s+")


def token_count(df: DataFrame, text_col: str = "text", alias: str = "n_tokens") -> DataFrame:
    return df.withColumn(alias, F.size(tokens_expr(text_col)))


def text_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document stats: token count, distinct tokens, char length, average
    token length, stopword ratio — the standard quality-filter features.

    Ratios are deliberately UNROUNDED: int/int division of identical
    operands is bit-identical across engines; decimal rounding of rationals
    is not (Spark rounds the shortest decimal repr, DuckDB the scaled
    binary — they disagree on exact-boundary values)."""
    toks = tokens_expr(text_col)
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    stop_hits = _stopword_hits_expr(text_col)
    total_len = _token_chars_expr(text_col)
    return df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        F.length(F.col(text_col)).alias("n_chars"),
        (total_len / n_tokens).alias("avg_token_len"),
        (stop_hits / n_tokens).alias("stopword_ratio"),
        (n_distinct / n_tokens).alias("ttr"),
    )


def quality_score_expr(text_col: str = "text") -> Column:
    """Expression form of the composite quality score (reusable inside a
    wider single-scan projection — see registry curation_pipeline)."""
    toks = tokens_expr(text_col)
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    stop_hits = _stopword_hits_expr(text_col)
    length_component = F.least(F.lit(1.0), n_tokens / F.lit(100.0))
    diversity = n_distinct / n_tokens
    stop_presence = F.least(F.lit(1.0), stop_hits / F.lit(5.0))
    # same left-to-right op order as the SQL oracle → bit-identical doubles;
    # unrounded on purpose (see text_stats)
    return 0.4 * length_component + 0.4 * diversity + 0.2 * stop_presence


def quality_score(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Composite quality score in [0,1]: length saturation + lexical
    diversity + stopword presence (C4/Gopher-style rule features, made
    deterministic & closed-form)."""
    return df.select(
        F.col(id_col),
        F.size(tokens_expr(text_col)).alias("n_tokens"),
        quality_score_expr(text_col).alias("quality_score"),
    )


def detected_lang_expr(text_col: str = "text") -> Column:
    """Expression form of the language-ID argmax (reusable inside a wider
    single-scan projection). Inlines the per-language scores, so use the
    DataFrame form when the scores themselves are wanted."""
    toks = F.array_distinct(tokens_expr(text_col))
    scores = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(m) for m in markers])))
        for lang, markers in sorted(LANG_MARKERS.items())
    }
    langs = sorted(LANG_MARKERS)
    # argmax by (score desc, lang asc): max score, first lang holding it
    max_score = F.greatest(*[scores[lang] for lang in langs])
    detected = F.lit(None).cast("string")
    for lang in reversed(langs):
        detected = F.when(scores[lang] == max_score, F.lit(lang)).otherwise(detected)
    return F.when(max_score > 0, detected).otherwise(F.lit("und"))


def detect_language(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """N-gram/stopword-overlap language-ID heuristic: score each language by
    marker-token hits (set semantics), pick the argmax; deterministic
    alphabetical tiebreak; 'und' (undetermined) when no marker hits."""
    return df.select(
        F.col(id_col), detected_lang_expr(text_col).alias("detected_lang")
    )


def bpe_pair_stats(
    df: DataFrame,
    text_col: str = "text",
    k: int = 20,
) -> DataFrame:
    """Top-``k`` adjacent character pairs inside whitespace tokens — the
    statistic BPE tokenizer training (Sennrich et al. 2016, public arXiv
    1508.07909) computes for its first merge: the highest-count pair
    becomes the first merge rule. Running this over a candidate corpus is
    the standard pre-training sanity check that tokenizer merges will be
    dominated by the intended language/script mix.

    Shape: tokenize → explode positions → ``substring(t, i, 2)`` pair →
    hash aggregate with map-side combine (distinct character pairs are
    alphabet², a few thousand rows at any corpus size) → one
    single-partition top-k window over the AGGREGATED relation. Exact and
    engine-portable: substring indexing is 1-based character (not byte)
    semantics in both Spark and DuckDB; ties rank by pair ascending.

    Output: (pair, n_occ, rank), rank 1..k.
    """
    cnt = char_pair_counts(df, text_col)
    return finish_bpe_pair_stats(cnt, k)


def char_pair_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The aggregation half of :func:`bpe_pair_stats` — (pair, n_occ)
    counts. Works unchanged on a STREAMING DataFrame in complete mode:
    state is the alphabet²-ish distinct-pair set (bounded regardless of
    stream length) and the count is an associative integer sum, so the
    finished aggregate is bit-identical to batch in any arrival order
    (pinned by the stream≡batch test). Top-k ranking is derived on read
    via :func:`finish_bpe_pair_stats` — a rank over a still-growing
    count table is only final when the stream is."""
    toks = (
        df.select(F.explode(tokens_expr(text_col)).alias("_t"))
        .filter(F.length("_t") >= 2)
    )
    pairs = toks.select(
        F.explode(
            F.sequence(F.lit(1), F.length("_t") - 1)
        ).alias("_i"),
        "_t",
    ).select(F.expr("substring(_t, _i, 2)").alias("pair"))
    return pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n_occ"))


def finish_bpe_pair_stats(cnt: DataFrame, k: int = 20) -> DataFrame:
    """Top-k rank over a finished (pair, n_occ) aggregate — a
    single-partition window over the alphabet²-sized relation, never the
    data (ties rank by pair ascending)."""
    w = Window.orderBy(F.desc("n_occ"), F.asc("pair"))
    return (
        cnt.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("pair", "n_occ", "rank")
    )


def bpe_train_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 3,
) -> DataFrame:
    """The first ``n_merges`` BPE merge rules (Sennrich et al. 2016) as ONE
    declarative plan — no driver-side loop, no collect between steps.

    Each token is represented as its space-joined character sequence
    ("abc" → "a b c"); one merge step counts all adjacent symbol pairs
    corpus-wide, picks the most frequent (ties: pair ascending), and
    rewrites every occurrence by literal ``replace(rep, 'x y', 'xy')`` —
    left-to-right non-overlapping, identical in Spark and DuckDB, and
    regex-safe for any symbols (no pattern compilation from data). The
    chosen pair joins back as a broadcast 1-row relation, so the whole
    k-step trainer is a single lazy plan: k corpus-scan aggregates, k
    broadcast joins, zero driver round-trips. At 100 TB each step is one
    map-side-combined hash aggregate over alphabet²-ish keys plus a
    narrow rewrite — the scan cost IS the step cost.

    Output: (step 1..n_merges, pair "x y", n_occ) — the merge table a BPE
    tokenizer persists.

    Trains over the TYPE table (r12 optimization): tokens are first
    aggregated to distinct ``(type, frequency)`` rows — the standard
    Sennrich formulation — so every per-step pass (char split, pair
    explode, rewrite) runs over |vocabulary| rows weighted by frequency
    instead of |corpus| token instances. Pair counts are identical exact
    integers (a token occurring k times contributes k× each internal
    pair, whether counted per instance or as frequency × per-type
    occurrences), so the merge table and the DuckDB oracle twin are
    bit-unchanged. At 100 TB this is the difference between k merge
    steps scanning the corpus token stream and ONE corpus-wide type
    count followed by k passes over a vocabulary-sized relation.
    """
    rep = (
        df.select(F.explode(tokens_expr(text_col)).alias("_t"))
        .filter(F.length("_t") >= 2)
        .groupBy("_t")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            F.trim(F.regexp_replace("_t", "(.)", "$1 ")).alias("_rep"),
            "_n",
        )
    )
    out = None
    for step in range(1, n_merges + 1):
        syms = F.split(F.col("_rep"), " ")
        # guard: sequence(1, 0) DESCENDS to [1, 0] (the contrastive n_neg
        # lesson) — a rep merged down to one symbol must yield no pairs
        pairs = rep.select(
            F.explode(
                F.when(
                    F.size(syms) >= 2,
                    F.sequence(F.lit(1), F.size(syms) - 1),
                ).otherwise(F.expr("array()").cast("array<int>"))
            ).alias("_i"),
            syms.alias("_s"),
            "_n",
        ).select(
            F.concat_ws(
                " ", F.expr("_s[_i - 1]"), F.expr("_s[_i]")
            ).alias("pair"),
            "_n",
        )
        top1 = (
            pairs.groupBy("pair")
            .agg(F.sum("_n").alias("n_occ"))
            .orderBy(F.desc("n_occ"), F.asc("pair"))
            .limit(1)
            .select(
                F.lit(step).alias("step"), "pair", "n_occ"
            )
        )
        out = top1 if out is None else out.unionByName(top1)
        if step < n_merges:
            rep = rep.crossJoin(
                F.broadcast(top1.select(F.col("pair").alias("_p")))
            ).select(
                F.replace(
                    F.col("_rep"), F.col("_p"),
                    F.replace(F.col("_p"), F.lit(" "), F.lit("")),
                ).alias("_rep"),
                "_n",
            )
    return out


def bpe_segment(
    df: DataFrame,
    merges: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a BPE merge table (ordered rules like ``"e r"``, the output of
    :func:`bpe_train_merges`) and report per-document symbol accounting:
    ``(doc_id, n_symbols, n_chars)``. ``n_chars`` counts the characters
    that entered segmentation (token chars, whitespace excluded), so
    ``n_chars / n_symbols`` is the vocabulary's compression ratio — the
    standard fertility metric for a tokenizer on a candidate corpus.

    The merge chain applies as ``len(merges)`` nested literal ``replace``
    calls inside one projection — zero shuffle until the per-doc rollup;
    left-to-right non-overlapping replace is the same greedy application
    order as training, and identical across engines (both n_symbols and
    n_chars are exact integers → hash-matched oracle).
    """
    rep: Column = F.trim(F.regexp_replace("_t", "(.)", "$1 "))
    for m in merges:
        rep = F.replace(rep, F.lit(m), F.lit(m.replace(" ", "")))
    toks = df.select(
        F.col(id_col),
        F.explode(tokens_expr(text_col)).alias("_t"),
    ).filter(F.col("_t") != "")
    return (
        toks.select(
            F.col(id_col),
            F.size(F.split(rep, " ")).cast("long").alias("_n_sym"),
            F.length("_t").cast("long").alias("_n_chr"),
        )
        .groupBy(id_col)
        .agg(
            F.sum("_n_sym").alias("n_symbols"),
            F.sum("_n_chr").alias("n_chars"),
        )
    )


def fingerprint_expr(text_col: str = "text") -> Column:
    """Expression form of the document fingerprint."""
    return F.md5(F.concat_ws(" ", tokens_expr(text_col)))


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 over the normalized (lower, single-space)
    token stream — the exact-dedup key that ignores whitespace variance.
    md5 is engine-portable (identical hex in Spark & DuckDB)."""
    return df.select(F.col(id_col), fingerprint_expr(text_col).alias("fingerprint"))


def repetition_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021 §A1.1
    quality heuristics): per doc, the share of the most frequent token bigram
    and the fraction of bigram occurrences that are repeats. High values mark
    boilerplate / degenerate text a training pipeline should drop.

    Shape: explode bigrams → two hash-agg shuffles keyed by (doc, bigram)
    then doc — cost linear in corpus token count, no self-joins; partial
    aggregation makes the first shuffle carry only distinct (doc, bigram)
    counts. Docs with < 2 tokens have no bigrams and drop out (same semantics
    in the DuckDB oracle, where unnest of an empty list emits no row).

    The token array is MATERIALIZED in its own projection before the bigram
    construction: referencing ``tokens_expr`` inside a per-index lambda would
    re-run the regexp split for every element (O(tokens²) per doc — measured
    5.4s → 0.6s at sf0.1). Bigrams are ``posexplode`` of the first-token
    slice + one ``element_at`` per row — all whole-stage codegen, where the
    equivalent ``zip_with`` lambda evaluates interpreted per element; the
    ``greatest(size-1, 0)`` slice bound makes <2-token docs slice to []
    (no pre-filter for Catalyst to push into the scan as a second
    tokenization). Small inputs take a ONE-exchange plan that shuffles the
    RAW rows by doc BEFORE tokenizing — HashPartitioning(doc) then
    satisfies both the (doc, bigram) and the doc grouping, the shuffle
    carries text bytes (smaller than the exploded bigram rows: normal
    text has mostly-unique per-doc bigrams, so partial aggregation
    collapses little), and the tokenize runs 32-wide after the exchange
    (measured 0.74 s -> 0.44 s vs the floor + late-repartition form at
    sf0.1). At scale the plain two-exchange chain keeps map-side partial
    aggregation — there, degenerate repetitive shards DO collapse before
    the shuffle, and a full raw-text repartition is the bigger term.
    """
    from .transform import floor_parallelism

    if small_input("repetition_stats", df):
        n_shuffle = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
        src = df.repartition(n_shuffle, id_col)
    else:
        src = floor_parallelism(df, min_task_bytes=1 << 14)
    toked = src.select(F.col(id_col), tokens_expr(text_col).alias("_toks"))
    bgr = toked.select(
        F.col(id_col),
        F.posexplode(
            F.slice("_toks", 1, F.greatest(F.size("_toks") - 1, F.lit(0)))
        ).alias("_i", "_ta"),
        F.col("_toks"),
    ).select(
        F.col(id_col),
        F.concat_ws(
            " ", "_ta", F.element_at("_toks", F.col("_i") + 2)
        ).alias("bigram"),
    )
    counts = bgr.groupBy(id_col, "bigram").agg(F.count("*").alias("c"))
    return counts.groupBy(id_col).agg(
        (F.max("c").cast("double") / F.sum("c")).alias("top_bigram_share"),
        (F.lit(1.0) - F.count("*").cast("double") / F.sum("c")).alias(
            "dup_bigram_fraction"
        ),
    )


def term_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
) -> DataFrame:
    """Corpus vocabulary statistics: per term, the document frequency and the
    total term frequency — the building block of tf-idf, stopword discovery,
    and vocabulary pruning in a training-data pipeline.

    Shape: ONE explode + two hash aggregations. The (doc, term) aggregation
    is the big shuffle but map-side partial aggregation collapses repeats
    before the exchange, so shuffled bytes ≈ distinct (doc, term) pairs; the
    second agg's output is vocabulary-sized (small). At 100 TB: shuffle keyed
    by term skews on stopwords ONLY in the second agg, whose input is already
    ≤ one row per (doc, term) — worst-case per-key fan-in = corpus doc count,
    handled by partial aggregation (each task pre-sums its terms).

    All outputs are exact integers → bit-portable across engines.
    """
    tok = df.select(
        F.col(id_col), F.explode(tokens_expr(text_col)).alias("term")
    ).filter(F.col("term") != "")
    tf = tok.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    return (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"), F.sum("tf").alias("total_tf"))
        .filter(F.col("df") >= min_df)
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    ids_unique: bool = True,
) -> DataFrame:
    """Top-k most characteristic terms per document by tf-idf, with a
    RATIO idf (score = tf * N / df) instead of the usual log idf: log() is
    not bit-identical across engines/libms, while integer multiply + one
    IEEE division of exact integer operands is — same ranking semantics
    (N/df is a monotone transform of log(N/df)), deterministic everywhere.

    Plan: one pass over the token stream. The (doc, term) tf table is the
    only big intermediate; df is a count over a window keyed on term on
    that same table (one row per (doc, term), so the count is the
    document frequency), so the tokenize+aggregate subtree runs once and
    nothing is cached. The one-row doc count N is BROADCAST onto it; the
    final per-doc top-k is one row_number window partitioned by doc — at
    scale the rank-1..k filter pushes into the sort as a per-partition
    top-k. 4 planned exchanges total: tf agg, the term window, the scalar
    N agg, and the rank window. Deterministic tiebreak: (score desc, tf
    desc, term asc).
    """
    tok = df.select(
        F.col(id_col), F.explode(tokens_expr(text_col)).alias("term")
    ).filter(F.col("term") != "")
    tf = tok.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    # separate scalar scan of the id column only (not derived from tf: docs
    # whose text tokenizes to nothing still count toward N). ids_unique is
    # the documents-table contract (one row per document) and makes N a
    # plain count — one exchange instead of count_distinct's two.
    if ids_unique:
        n = df.agg(F.count(F.col(id_col)).alias("n_docs"))
    else:
        n = df.agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
    scored = (
        tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
        .join(F.broadcast(n))
        .withColumn(
            "tfidf",
            (F.col("tf") * F.col("n_docs")).cast("double")
            / F.col("df").cast("double"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.desc("tf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", "tfidf", "rank")
    )


# Default PII-ish patterns. Kept to RE2-compatible syntax (no backrefs, no
# lookaround) so Spark's java.util.regex and DuckDB's RE2 agree exactly.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"(\+?[0-9]{1,3}[-. ])?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
}


def redact(
    df: DataFrame,
    patterns: Mapping[str, str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """PII-style regex redaction: replace every match of each named pattern
    with ``<NAME>`` and count the replacements per pattern.

    Pure JVM-side ``regexp_replace`` / ``regexp_count`` chain — no shuffle,
    no Python, scales as a narrow map over the corpus. Patterns are applied
    in sorted-name order so composition is deterministic. Counts are taken
    BEFORE any replacement so overlapping patterns report what they saw in
    the original text.

    Reference has no redaction surface (its transforms are arithmetic,
    `/root/reference/src/main/scala/essentialsstreams/DataStreams.scala`);
    this is north-star curation plumbing.
    """
    pats = dict(PII_PATTERNS if patterns is None else patterns)
    out_cols = [F.col(id_col)]
    redacted = F.col(text_col)
    for name in sorted(pats):
        out_cols.append(
            F.regexp_count(F.col(text_col), F.lit(pats[name]))
            .cast("long").alias(f"n_{name}")
        )
        redacted = F.regexp_replace(redacted, pats[name], f"<{name.upper()}>")
    return df.select(*out_cols, redacted.alias("redacted"))


def inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_postings: int = 20,
) -> DataFrame:
    """Corpus inverted index: term → document frequency + the first
    ``max_postings`` doc ids (ascending) holding the term.

    Plan: explode to distinct (term, doc) pairs (map-side partials collapse
    in-doc repeats before the exchange), then ONE hash aggregate per term
    collecting df + a capped, sorted postings sample. The cap bounds output
    row width — a full postings list for a stopword at 100 TB would be the
    corpus itself; capped postings serve index previews and planning, while
    full postings would be written partitioned by term range instead.
    ``slice(sort_array(...))`` runs after the aggregate on grouped arrays
    whose size is already ≤ per-term distinct docs.
    """
    pairs = (
        df.select(F.col(id_col), F.explode(tokens_expr(text_col)).alias("term"))
        .filter(F.col("term") != "")
        .distinct()
    )
    return pairs.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.slice(
            F.sort_array(F.collect_list(id_col)), 1, max_postings
        ).alias("postings"),
    )


def source_term_affinity(
    df: DataFrame,
    k: int = 5,
    strata_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-drift diagnostic: per stratum, the ``k`` terms most
    over-represented relative to the whole corpus, scored by the frequency
    ratio ``(c_st / n_s) / (c_t / n) = (c_st · n) / (c_t · n_s)``.

    Portability design: the score is ONE double division of two exact
    BIGINT products — no double sums, no logs — so it is bit-identical in
    any engine and under any partitioning; ranking ties break on term.
    (At 100 TB promote the products to DECIMAL(38,0); counts here are far
    below 2^31 so BIGINT×BIGINT is exact.)

    Plan: one explode → (stratum, term) hash-agg, and every count derives
    from that one table without caching it. Per-term totals attach via a
    window keyed on term (rows per term ≤ |strata| after aggregation, so
    no stopword skew); the per-stratum total and the rank share ONE
    stratum-keyed exchange (both windows partition by source, so the
    planner inserts a single shuffle with two sorts). The corpus total is
    a scalar token count over the documents, which tokenizes them a
    second time but with no explode and no grouping, and broadcasts
    back. 4 planned exchanges total.
    """
    pairs = (
        df.select(F.col(strata_col).alias("source"),
                  F.explode(tokens_expr(text_col)).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c_st"))
    )
    n_total = F.broadcast(df.where(F.col(text_col).isNotNull()).agg(F.sum(F.expr(
        f"size(filter({tokens_sql(text_col)}, t -> t != ''))")).alias("n_tot")))
    w_term = Window.partitionBy("term")
    w_src = Window.partitionBy("source")
    scored = (
        pairs.withColumn("c_t", F.sum("c_st").over(w_term))
        .crossJoin(n_total)
        .withColumn("n_s", F.sum("c_st").over(w_src))
        .select(
            "source", "term", "c_st", "c_t", "n_s", "n_tot",
            ((F.col("c_st") * F.col("n_tot")).cast("double")
             / (F.col("c_t") * F.col("n_s")).cast("double")).alias("affinity"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("affinity"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("source", "term", "c_st", "c_t", "affinity", "rank")
    )


def oov_rate(
    df: DataFrame,
    vocab_size: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus's own top-V
    vocabulary — a perplexity *proxy* that is exact-arithmetic (a true LM
    perplexity needs log(), which is not bit-portable across engines; an
    OOV count is integers all the way down, so the driver's value-hash
    check holds, and it ranks junk documents almost as well).

    Plan shape (2 passes over the token stream, both narrow after the
    explode): (1) vocabulary = top-V terms by total frequency — a hash-agg
    whose output is vocabulary-sized, then a top-V sort over vocab rows
    only; (2) per-doc OOV counting — the token stream LEFT-joins the
    BROADCAST vocabulary (V ≤ ~100k terms → a few MB; never a shuffle of
    the corpus) and one hash-agg on doc_id with map-side partials.
    At 100 TB the only exchange carrying corpus-scale data is the doc_id
    agg, already reduced to one row per doc by partial aggregation.

    Determinism: top-V ties break on term ASC; the rate is one double
    division of two exact BIGINTs → bit-identical in any engine.
    """
    tok = df.select(
        F.col(id_col), F.explode(tokens_expr(text_col)).alias("term")
    ).filter(F.col("term") != "")
    vocab = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("total_tf"))
        .orderBy(F.desc("total_tf"), F.asc("term"))
        .limit(vocab_size)
        .select("term", F.lit(True).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "term", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias(
                "oov_tokens"
            ),
        )
        .withColumn(
            "oov_rate",
            F.col("oov_tokens").cast("double") / F.col("n_tokens").cast("double"),
        )
    )


def bm25_rank(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k documents for a bag-of-words query under BM25 scoring with a
    RATIO idf (N/df instead of log((N-df+.5)/(df+.5))) — the same
    determinism trade `tfidf_top_terms` makes: log() is not bit-portable
    across engines, a ratio of exact integers is, and the doc ranking for
    a fixed query is nearly identical (ratio idf is a monotone transform
    of df, just steeper).

      score(d) = Σ_t (N / df_t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    Per-term partial scores are cast to DECIMAL(38,18) before the per-doc
    sum so the fold is order-independent; every double input to the score
    dag derives from exact integers (tf, df, dl, N, Σdl) → the whole
    pipeline hash-matches the oracle.

    Scale shape: tokens are filtered to QUERY terms ARRAY-SIDE, before the
    explode ever materializes a row (the corpus token stream never exists
    as rows — only the few query-term hits do); the slim
    (id, dl, query-hits) projection is tokenized ONCE and lazily
    localCheckpointed so the scalar aggregate and the tf table don't each
    re-run the regex split over the corpus; df/N/avgdl are query-sized or
    scalar aggregates broadcast back. Final top-k is TakeOrdered — no
    global sort. One corpus scan, one tokenize pass total.
    """
    toks = tokens_expr(text_col)
    docs = df.select(
        F.col(id_col),
        F.size(toks).alias("dl"),
        F.expr(f"filter({tokens_sql(text_col)}, t -> {sql_in('t', query_terms)})").alias("_qt"),
    ).localCheckpoint(eager=False)
    scalars = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
    )
    tf = (
        docs.select(F.col(id_col), "dl", F.explode("_qt").alias("term"))
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    idf = F.col("n_docs").cast("double") / F.col("df_t").cast("double")
    tf_d = F.col("tf").cast("double")
    dl_d = F.col("dl").cast("double")
    term_score = idf * (
        tf_d * (k1 + 1.0)
        / (tf_d + k1 * (1.0 - b + b * dl_d / avgdl))
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(scalars))
        .select(
            F.col(id_col),
            term_score.cast("decimal(38,18)").alias("_s"),
        )
        .groupBy(id_col)
        .agg(F.sum("_s").cast("double").alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(k)
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD '03 — the MOSS algorithm): hash every k-token gram, then keep
    the MINIMUM hash of each window of ``w`` consecutive gram hashes.
    Guarantees: every shared substring of length >= w + k - 1 tokens
    contributes at least one shared fingerprint, while only ~2/(w+1) of
    grams are kept — the standard density/recall trade of local
    fingerprinting.

    Output: (doc_id, fingerprint) — DISTINCT selected hashes per document
    (bigint), ready for an equi-join candidate step (same shuffle shape as
    the LSH band join: 8-byte hashes + ids only).

    ZERO-SHUFFLE implementation — everything happens array-side inside the
    scan stage: per-token 31-bit hashes (md5-prefix arithmetic, identical
    in Spark and DuckDB so the oracle reproduces it bit-for-bit), gram
    hashes as a polynomial fold over k SHIFTED SLICES combined with
    zip_with (O(k) multiply-adds per gram and no per-position array
    allocation — a per-index ``aggregate(slice(...))`` lambda allocates a
    k-wide array per gram; the shifted-slice fold is the same
    ``shingles_expr`` idiom and measured ~40% cheaper on the full
    fingerprint leg), window minima likewise as a ``least`` fold over w
    shifted slices, and per-doc dedup via array_distinct before the
    explode. The old plan paid a window sort + a global distinct (two
    exchanges); this plan's only exchange is the conditional
    ``floor_parallelism`` round-robin, which fires exactly on under-split
    inputs (one tiny parquet file) so the CPU-heavy hash work spreads
    across cores — at real scale the input has enough splits and the
    plan is genuinely shuffle-free.

    The expressions are assembled as SQL STRINGS (``selectExpr``), not
    Column-builder calls: this operator's tree is large (a k-slice fold, a
    w-slice fold, a per-token hash lambda), and building it one
    ``F.<fn>`` call at a time costs hundreds of py4j round-trips — a
    measured ~0.35 s of driver-side plan-construction latency PER CALL at
    any data size, dominating the 0.27 s execution at bench SF. One
    parsed string per projection is a handful of round-trips; the
    resulting Catalyst plan (and therefore the oracle contract) is
    identical.
    """
    from .transform import floor_parallelism

    M = 2147483647  # 2^31 - 1: keeps acc*31 + tok < 2^36, safe in bigint
    qid = f"`{id_col}`"
    # min_task_bytes is sized to THIS stage's per-byte cost, not the
    # default: each input byte costs ~30 interpreted ops (a per-token
    # md5+conv, then k zip_with multiply-adds and w least-folds per
    # gram), so a single core saturates near 16 KB/task and the floor
    # pays for itself on inputs far below the generic 1 MB/task gate —
    # measured: the generic gate left the whole hash leg on ONE task at
    # bench SF (0.6 MB input, ~0.9 s single-core vs ~0.1 s exchange)
    # min_partitions = CORES, not shuffle partitions: the hash leg is
    # CPU-bound, and the bench session deliberately halves shuffle
    # partitions for its KB-sized exchanges — the right task count for
    # compute is the core count
    base = (
        floor_parallelism(
            df,
            min_partitions=df.sparkSession.sparkContext.defaultParallelism,
            min_task_bytes=1 << 14,
        )
        .selectExpr(qid, f"{tokens_sql(text_col)} AS _toks")
        .filter(f"size(_toks) >= {k + w - 1}")
    )
    hashed = base.selectExpr(
        qid,
        "transform(_toks, t -> cast(conv(substring(md5(t), 1, 8), 16, 10)"
        f" AS bigint) % {M}) AS _th",
    )
    # polynomial gram hash ((…(t_i*31 + t_{i+1})*31 + …) mod M) as a fold
    # over k shifted slices: element j of the result sees slices starting
    # at offsets j..j+k-1 — top-level slices are CSE'd to one token-hash
    # array per row, and zip_with runs element-wise with no per-gram
    # array allocation (a per-index aggregate(slice(...)) lambda allocates
    # a k-wide array per gram — measured ~40% slower on this leg)
    n_grams = f"size(_th) - {k - 1}"
    grams = f"slice(_th, 1, {n_grams})"
    for j in range(2, k + 1):
        grams = (
            f"zip_with({grams}, slice(_th, {j}, {n_grams}),"
            f" (acc, x) -> (acc * 31 + x) % {M})"
        )
    grammed = hashed.selectExpr(qid, f"{grams} AS _g")
    # only full windows select fingerprints: the fold's element j covers
    # gram positions j..j+w-1, so the n_grams-w+1 complete w-windows are
    # exactly the result width and trailing partial windows never
    # over-sample the tail
    n_wins = f"size(_g) - {w - 1}"
    mins = f"slice(_g, 1, {n_wins})"
    for j in range(2, w + 1):
        mins = (
            f"zip_with({mins}, slice(_g, {j}, {n_wins}),"
            " (a, b) -> least(a, b))"
        )
    return grammed.selectExpr(
        qid, f"explode(array_distinct({mins})) AS fingerprint"
    )


def winnow_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs from shared winnowing fingerprints: docs
    sharing >= ``min_shared`` selected fingerprints (the MOSS match step).
    Same shuffle economics as the LSH band join — the equi-join key is a
    16-byte hash, pair generation happens within fingerprint buckets, and
    the aggregate counts shared fingerprints per (id_a, id_b). Winnowing's
    guarantee makes this candidate set COMPLETE for substring overlaps of
    >= w + k - 1 tokens (no false negatives at that granularity), unlike
    probabilistic MinHash bands.

    ``max_bucket_size`` caps the in-bucket quadratic (the
    `minhash_lsh_pairs` idiom): at 100 TB a single boilerplate fingerprint
    shared by millions of docs would emit m² pairs; buckets above the cap
    are near-certainly boilerplate (license headers, navigation chrome)
    and are skipped — dropping them COSTS no true near-dup pair whose
    overlap also selects any non-hot fingerprint, which is why MOSS-style
    systems always ship this cap. Completeness then holds for overlaps
    not entirely made of capped fingerprints.
       PRODUCTION NOTE: the cap defaults to ``None`` (exact — every
    pair emitted, matching the DuckDB oracle on test fixtures). At
    100 TB ALWAYS set it: one uncapped hot bucket/block emits m²/2
    pairs in a single task. Recommended starting points and the
    recall argument are in SCALING.md §'Hot-block caps'.
    """
    fps = winnow_fingerprints(df, id_col, text_col, k, w)
    # Bucket formulation (the dedup.py LSH-band idiom) instead of a
    # self-join: ONE exchange groups ids per fingerprint, i<j pairs are
    # generated in-bucket from the sorted id array, and the fingerprint
    # computation — the expensive leg — runs once (a self-join would
    # recompute it per side: Spark only reuses exchanges when both
    # branches canonicalize identically, which broadcast planning breaks).
    # SQL-string expressions throughout, same rationale as
    # winnow_fingerprints: the Column-builder form of this tail measured
    # ~0.1 s of per-call py4j plan-construction latency.
    size_hi = (
        f" AND size(_ids) <= {int(max_bucket_size)}"
        if max_bucket_size is not None
        else ""
    )
    buckets = (
        fps.groupBy("fingerprint")
        .agg(F.expr(f"sort_array(collect_list(`{id_col}`)) AS _ids"))
        .where(f"size(_ids) >= 2{size_hi}")
    )
    pairs = buckets.selectExpr("posexplode(_ids)", "_ids").selectExpr(
        "col AS id_a",
        "explode(slice(_ids, pos + 2, size(_ids))) AS id_b",
    )
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.expr("count(1) AS n_shared"))
        .where(f"n_shared >= {int(min_shared)}")
    )


def unigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean log10 unigram probability under the corpus's OWN
    unigram distribution — the cheap statistical-LM quality signal (a doc
    of rare/garbled tokens scores far below fluent text; the
    perplexity-proxy complement of `quality_score`'s surface heuristics).

    Engine-portable exactness: per-token log-probs are quantized to
    integer micro-logs (``round(log10(cnt) * 1e6)``) BEFORE summation, so
    the per-doc aggregate is an exact integer sum — order-independent,
    hence identical across engines — and one final float division plus the
    shared ``log10(total)`` shift recovers the mean
    (``avg(log10(cnt)) - log10(total) = avg(log10(cnt/total))``).

    Scale shape: ONE LINEAR CHAIN that tokenizes the corpus exactly once
    — (doc, token) partial-agg shuffle → per-token corpus count as a
    window ``sum OVER (PARTITION BY token)`` on the same relation (the
    count joins itself for free: no second tokenize pass, no join, no
    broadcast) → per-doc rollup. The corpus total is NOT a separate
    aggregate over a re-evaluated subtree: ``total = Σ_docs n_tokens``,
    so it reads off the per-doc relation itself — as a single-partition
    ``sum OVER ()`` when the input is provably small (the doc-count-
    sized relation fits one task; downstream rank stages reuse the same
    single-partition exchange), else as a scalar aggregate over a
    lazily-checkpointed per-doc relation (materialized once —
    checkpointing the NARROW per-doc rows, never the token relation).
    The naive three-branch form (cnt join + total agg) re-ran the
    tokenize+explode scan three times: DAG reuse is per-plan-node, and
    Catalyst's ReuseExchange does not canonicalize across the branch
    shapes involved.
    """
    from apache_flink_essentials_spark.operators.transform import floor_parallelism

    # per-token work is CPU-heavy per input byte (regex split + 100×
    # row explosion + hash agg), so an under-split scan serializes it —
    # the winnowing 16 KB/task floor applies (no-op at real scale,
    # where the scan has plenty of splits)
    toks = floor_parallelism(df, min_task_bytes=1 << 14).select(
        F.col(id_col), F.explode(tokens_expr(text_col)).alias("_tok")
    ).filter(F.col("_tok") != "")
    return unigram_logprob_from_tokens(
        toks, id_col=id_col, small=small_input("unigram_logprob", df)
    )


def unigram_logprob_from_tokens(
    toks: DataFrame, id_col: str = "doc_id", small: bool = False
) -> DataFrame:
    """``unigram_logprob`` over a PRE-TOKENIZED ``(id, _tok)`` relation —
    the serving half of the streaming-ingest split: a stateless stream
    materializes exploded tokens once at ingest (the CPU-heavy half),
    and this report re-runs cheaply over the materialized relation.
    ``small=True`` selects the wave-lean single-partition plan (see
    ``unigram_logprob``); scores are identical either way (exact
    integer micro-log sums)."""
    micro_log = F.round(F.log10(F.col("_cnt").cast("double")) * 1e6).cast(
        "long"
    )
    if small:
        # wave-lean small plan: key the ONE token exchange by _tok —
        # HashPartitioning(_tok) satisfies the (doc, tok) grouping (a
        # subset of the clustering keys), so the occ aggregate AND the
        # per-token count window share that exchange; then go straight
        # to a single partition (proven tiny) so the per-doc rollup,
        # the corpus-total window, and any downstream rank all run in
        # ONE final stage. At bench shape each AQE stage wave costs
        # more than the data work, so the wave count IS the runtime:
        # this is 4 waves where the fully-distributed form is 6.
        n_shuffle = int(
            toks.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
        toks = toks.repartition(n_shuffle, "_tok")
    occ = toks.groupBy(id_col, "_tok").agg(F.count(F.lit(1)).alias("_n_occ"))
    with_cnt = occ.withColumn(
        "_cnt", F.sum("_n_occ").over(Window.partitionBy("_tok"))
    )
    keyed = with_cnt.select(F.col(id_col), "_n_occ", micro_log.alias("_ml"))
    if small:
        keyed = keyed.repartition(1)
    per_doc = keyed.groupBy(id_col).agg(
        F.sum("_n_occ").alias("n_tokens"),
        F.sum(F.col("_n_occ") * F.col("_ml")).alias("_s"),
    )
    if small:
        scored = per_doc.withColumn(
            "_total",
            F.sum("n_tokens").over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
    else:
        per_doc = per_doc.localCheckpoint(eager=False)
        total = per_doc.agg(F.sum("n_tokens").alias("_total"))
        scored = per_doc.crossJoin(F.broadcast(total))
    return scored.select(
        F.col(id_col),
        F.col("n_tokens"),
        (
            F.col("_s") / (F.lit(1e6) * F.col("n_tokens"))
            - F.log10(F.col("_total").cast("double"))
        ).alias("mean_logprob"),
    )


def token_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document Shannon entropy (base-10) of the doc's OWN token
    distribution — the lexical-diversity quality signal complementary to
    `repetition_score`: boilerplate and keyword-stuffed spam score low
    (mass concentrated on few tokens), fluent prose scores near
    ``log10(n_distinct)``.

    ``H = Σ_t (n_t/n)·log10(n/n_t) = (n·mlog(n) − Σ_t n_t·mlog(n_t))
    / (1e6·n)`` with ``mlog(x) = round(log10(x)·1e6)`` quantized to an
    integer micro-log BEFORE the sum — the `unigram_logprob` portability
    idiom: the aggregate is an exact integer (order-independent, identical
    across engines) and only the final int/int division is float.

    Scale shape: one (doc, token) partial-agg shuffle then a per-doc
    rollup — no corpus-global state at all (each doc scores against its
    own distribution), so the op is embarrassingly parallel at 100 TB.
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens_expr(text_col)).alias("_tok")
    ).filter(F.col("_tok") != "")
    occ = toks.groupBy(id_col, "_tok").agg(F.count(F.lit(1)).alias("_n_occ"))
    mlog_occ = F.round(F.log10(F.col("_n_occ").cast("double")) * 1e6).cast(
        "long"
    )
    per_doc = occ.groupBy(id_col).agg(
        F.sum("_n_occ").alias("n_tokens"),
        F.sum(F.col("_n_occ") * mlog_occ).alias("_s"),
    )
    mlog_n = F.round(F.log10(F.col("n_tokens").cast("double")) * 1e6).cast(
        "long"
    )
    return per_doc.select(
        F.col(id_col),
        F.col("n_tokens"),
        (
            (F.col("n_tokens") * mlog_n - F.col("_s"))
            / (F.lit(1e6) * F.col("n_tokens"))
        ).alias("entropy"),
    )


def pmi_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 64,
    min_pair_docs: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Top-k token pairs by pointwise mutual information over
    document-level co-occurrence — the collocation/phrase-mining signal
    (``pmi = log10(P(a,b) / (P(a)·P(b)))`` with document-frequency
    probabilities).

    The quadratic step is BOUNDED BY CONSTRUCTION: only the corpus-top
    ``vocab_size`` tokens (by document frequency; ties broken
    alphabetically) participate, so a document contributes at most
    C(vocab_size, 2) pairs regardless of its length — the vocabulary is a
    driver-free broadcast (vocab_size rows), per-doc pairs come from the
    sorted in-doc vocab array via the posexplode+slice idiom (no self
    join), and the pair count is one hash aggregation. PMI inputs are all
    exact integers; the single log10 per OUTPUT row makes the float
    engine-portable.

    Output: (tok_a, tok_b, pair_docs, df_a, df_b, pmi), pmi descending
    with (tok_a, tok_b) tiebreak, limited to ``top_k``.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens_expr(text_col))).alias("_tok"),
    ).filter(F.col("_tok") != "")
    docfreq = toks.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    n_docs = df.select(id_col).distinct().agg(
        F.count(F.lit(1)).alias("_n_docs")
    )
    vocab = docfreq.orderBy(F.desc("_df"), F.asc("_tok")).limit(vocab_size)
    in_vocab = toks.join(F.broadcast(vocab), "_tok")
    doc_vocab = in_vocab.groupBy(id_col).agg(
        F.sort_array(F.collect_list("_tok")).alias("_vt")
    )
    pairs = doc_vocab.select(
        F.posexplode("_vt").alias("_i", "tok_a"), F.col("_vt")
    ).select(
        "tok_a",
        F.explode(
            F.slice(F.col("_vt"), F.col("_i") + 2, F.size("_vt"))
        ).alias("tok_b"),
    )
    pair_counts = pairs.groupBy("tok_a", "tok_b").agg(
        F.count(F.lit(1)).alias("pair_docs")
    ).filter(F.col("pair_docs") >= min_pair_docs)
    va = vocab.select(
        F.col("_tok").alias("tok_a"), F.col("_df").alias("df_a")
    )
    vb = vocab.select(
        F.col("_tok").alias("tok_b"), F.col("_df").alias("df_b")
    )
    return (
        pair_counts.join(F.broadcast(va), "tok_a")
        .join(F.broadcast(vb), "tok_b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "tok_a",
            "tok_b",
            "pair_docs",
            "df_a",
            "df_b",
            F.log10(
                F.col("pair_docs").cast("double") * F.col("_n_docs")
                / (F.col("df_a").cast("double") * F.col("df_b"))
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("tok_a"), F.asc("tok_b"))
        .limit(top_k)
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document mean log10 bigram conditional probability under the
    corpus's OWN bigram LM — the next-quality-rung above
    ``unigram_logprob`` (a doc of individually-common but incoherently
    ordered tokens scores low here and fine there; together they bracket
    the classic KenLM quality filter without an external model).

    Score = mean over in-doc bigrams of log10 P(b|a), with
    P(b|a) = corpus_count(a b) / corpus_count(a as bigram-first): every
    in-doc bigram occurs in the corpus at least once (self-scoring), so no
    smoothing term is needed and the probability is a ratio of exact
    integers. Portability is the `unigram_logprob` idiom: both counts are
    quantized to integer micro-logs BEFORE the per-doc sum, so the
    aggregate is an exact integer sum in any order on any engine; one
    float division at the end recovers the mean.

    Two formulations, chosen by estimated input size — the two agree
    bit-for-bit (the aggregate is an order-independent exact integer sum;
    cross-checked in tests):

    * **Small inputs** (`session.small_input`): the corpus counts come
      from two window sums (``sum over partitionBy(_a, _bg)`` /
      ``partitionBy(_a)``) directly on the
      occurrence table — ONE scan of the text, 3 exchanges, no joins
      (the single token exchange is keyed by the bigram's FIRST token,
      whose hash partitioning satisfies the occurrence grouping and
      both window partitions at once). A window partition cannot be
      split by AQE, so this form has a skew cliff on hot first-tokens
      ("of", "the") — safe only when the whole input is small.
    * **Large/unknown inputs** (the 100 TB path): one (doc, bigram)
      partial-agg shuffle, a bigram-count rollup (map-side-combined: the
      shuffled rows are distinct bigrams per partition, not occurrences),
      a first-token rollup of the count table, then the two count tables
      join back onto the occurrence table as shuffle hash joins — AQE
      handles skewed join keys and down-converts to broadcast when
      runtime sizes allow. No forced broadcast: the distinct-bigram table
      is itself huge for a web corpus ("tiny relative to the corpus" is
      not "driver-sized"). Document text shuffles once, as bigram
      strings.

    Docs with < 2 tokens have no bigrams and drop out.
    """
    from .transform import floor_parallelism

    # bigram construction is ALL codegen: array_remove replaces the
    # interpreted filter() HOF (identical semantics: drops every ''),
    # posexplode + element_at replaces the interpreted zip_with lambda
    # (measured ~20% of query runtime at sf0.1), and the
    # greatest(size-1, 0) slice bound replaces the size >= 2 pre-filter
    # — which Catalyst pushed into the SCAN, re-running the whole
    # tokenization once per row just to test it (a 0-token doc slices
    # to [] and drops out of the explode for free). The first bigram
    # token rides along as _a — no re-split of the joined string.
    fl = F.array_remove(tokens_expr(text_col), "")
    base = floor_parallelism(df, min_task_bytes=1 << 14)
    bg = (
        base.select(F.col(id_col), fl.alias("_fl"))
        .select(
            F.col(id_col),
            F.posexplode(
                F.slice("_fl", 1, F.greatest(F.size("_fl") - 1, F.lit(0)))
            ).alias("_i", "_a"),
            F.col("_fl"),
        )
        .select(
            F.col(id_col),
            "_a",
            F.concat(
                "_a", F.lit(" "), F.element_at("_fl", F.col("_i") + 2)
            ).alias("_bg"),
        )
    )
    ml = lambda c: F.round(F.log10(c.cast("double")) * 1e6).cast("long")  # noqa: E731
    if small_input("bigram_logprob", df):
        # ONE token exchange keyed by _a: HashPartitioning(_a)
        # satisfies the (doc, bg, a) grouping AND both window
        # partitions (subsets of the clustering), so the occurrence
        # aggregate and the two count windows share it; then a single
        # partition (proven tiny) for the per-doc rollup — 3 exchanges
        # where the join form needs 5+.
        n_shuffle = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
        # window COUNTS directly over the occurrence rows — the
        # (doc, bg, a) pre-aggregation bought nothing here (its input is
        # already exchange-partitioned by _a, so it saved no shuffle
        # bytes, and normal text has mostly-unique per-doc bigrams), and
        # dropping it removes a HashAggregate from the hot stage
        # (measured ~8% at sf0.1). Each occurrence row then carries
        # _n_occ=1 into the shared per-doc rollup below.
        counted = (
            bg.repartition(n_shuffle, "_a")
            .withColumn(
                "_cnt_bg",
                F.count(F.lit(1)).over(Window.partitionBy("_a", "_bg")),
            )
            .withColumn(
                "_cnt_a",
                F.count(F.lit(1)).over(Window.partitionBy("_a")),
            )
            .withColumn("_n_occ", F.lit(1))
            .repartition(1)
        )
    else:
        occ = bg.groupBy(id_col, "_bg", "_a").agg(
            F.count(F.lit(1)).alias("_n_occ")
        )
        cnt_bg = occ.groupBy("_bg").agg(F.sum("_n_occ").alias("_cnt_bg"))
        cnt_first = (
            cnt_bg.select(
                F.split("_bg", " ").getItem(0).alias("_a"), F.col("_cnt_bg")
            )
            .groupBy("_a")
            .agg(F.sum("_cnt_bg").alias("_cnt_a"))
        )
        counted = occ.join(cnt_bg, "_bg").join(cnt_first, "_a")
    return (
        counted.groupBy(id_col)
        .agg(
            F.sum("_n_occ").alias("n_bigrams"),
            F.sum(
                F.col("_n_occ") * (ml(F.col("_cnt_bg")) - ml(F.col("_cnt_a")))
            ).alias("_s"),
        )
        .select(
            F.col(id_col),
            "n_bigrams",
            (F.col("_s") / (F.lit(1e6) * F.col("n_bigrams"))).alias(
                "mean_logprob"
            ),
        )
    )


# Gopher rule-set stopwords (Rae et al. 2021 §A1.1: "contains at least two
# of the following English words"). Distinct from STOPWORDS_EN, which feeds
# the ratio features — this list is the membership test the paper specifies.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

GOPHER_BULLETS = ["-", "*", "•", "‣"]

_NEWLINE = sql_str(r"\n")
_ELLIPSIS_END = sql_str(r"(\.\.\.|…)\s*$")


def _gopher_exprs(
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stopword_hits: int = 2,
) -> tuple[dict[str, Column], dict[str, Column], Column]:
    """Shared expression builder for the Gopher rule battery: returns
    (metrics, flags, overall-conjunction) so the per-doc flag table and
    wider single-scan compositions (``curation.dataset_card``) emit the
    SAME columns without re-deriving them."""
    toks = tokens_expr(text_col)
    n_words = F.size(toks)
    total_len = _token_chars_expr(text_col)
    mean_word_len = total_len / n_words
    # '#' occurrences + '...' occurrences, counted by length difference
    # (integer arithmetic — portable); '…' counts as an ellipsis symbol too
    hash_cnt = F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), r"#", "")
    )
    ell_cnt = (
        F.length(F.col(text_col))
        - F.length(F.regexp_replace(F.col(text_col), r"\.\.\.", ""))
    ) / F.lit(3)
    uni_ell_cnt = F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), "…", "")
    )
    symbol_ratio = (hash_cnt + ell_cnt + uni_ell_cnt) / n_words
    lines_sql = f"split({sql_ident(text_col)}, {_NEWLINE})"
    n_lines = F.expr(f"size({lines_sql})")
    bullet_re = "^[\\s]*[" + "".join(GOPHER_BULLETS) + "]"
    n_bullet = F.expr(f"size(filter({lines_sql}, ln -> ln rlike {sql_str(bullet_re)}))")
    n_ellipsis_end = F.expr(f"size(filter({lines_sql}, ln -> ln rlike {_ELLIPSIS_END}))")
    n_alpha = F.expr(f"size(filter({tokens_sql(text_col)}, t -> t rlike '[a-zA-Z]'))")
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    bullet_frac = n_bullet / n_lines
    ellipsis_frac = n_ellipsis_end / n_lines
    alpha_frac = n_alpha / n_words
    flags = {
        "ok_word_count": (n_words >= min_words) & (n_words <= max_words),
        "ok_mean_word_len": (mean_word_len >= min_mean_word_len)
        & (mean_word_len <= max_mean_word_len),
        "ok_symbol_ratio": symbol_ratio <= max_symbol_ratio,
        "ok_bullet": bullet_frac <= max_bullet_frac,
        "ok_ellipsis": ellipsis_frac <= max_ellipsis_frac,
        "ok_alpha": alpha_frac >= min_alpha_frac,
        "ok_stopwords": stop_hits >= min_stopword_hits,
    }
    overall = None
    for c in flags.values():
        overall = c if overall is None else (overall & c)
    metrics = {
        "n_words": n_words,
        "mean_word_len": mean_word_len,
        "symbol_ratio": symbol_ratio,
        "bullet_frac": bullet_frac,
        "ellipsis_frac": ellipsis_frac,
        "alpha_frac": alpha_frac,
        "stopword_hits": stop_hits,
    }
    return metrics, flags, overall


def gopher_pass_expr(text_col: str = "text", **thresholds) -> Column:
    """The Gopher rule conjunction as a single reusable Column (see
    ``gopher_quality_flags`` for rule semantics and thresholds)."""
    return _gopher_exprs(text_col, **thresholds)[2]


def gopher_quality_flags(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **thresholds,
) -> DataFrame:
    """The Gopher quality rule set (Rae et al. 2021, "Scaling Language
    Models" appendix A1.1 — the public filter battery RefinedWeb/Dolma
    reuse): per document, the raw rule metrics, one boolean per rule, and
    the conjunction ``gopher_pass``. Thresholds default to the paper's
    (keyword overrides: min_words=50, max_words=100_000,
    min_mean_word_len=3, max_mean_word_len=10, max_symbol_ratio=0.1,
    max_bullet_frac=0.9, max_ellipsis_frac=0.3, min_alpha_frac=0.8,
    min_stopword_hits=2).

    Rules: word count in [min_words, max_words]; mean word length in
    [3, 10]; symbol-to-word ratio ('#' or '...') <= 0.1; <= 90% of lines
    start with a bullet; <= 30% of lines end with an ellipsis; >= 80% of
    words contain an alphabetic character; >= 2 distinct required
    stopwords present.

    Scale: pure Column expressions over ONE scan — no shuffle, no Python,
    whole-stage codegen end to end; at 100 TB this runs at parquet read
    speed and the flags prune before any downstream shuffle. Ratios are
    exact int/int IEEE divisions in the same operand order as the DuckDB
    oracle (see text_stats for the portability argument).
    """
    metrics, flags, overall = _gopher_exprs(text_col, **thresholds)
    return df.select(
        F.col(id_col),
        *[expr.alias(name) for name, expr in metrics.items()],
        *[expr.alias(name) for name, expr in flags.items()],
        overall.alias("gopher_pass"),
    )


def hash_classifier_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 512,
    n_weights: int = 2048,
) -> DataFrame:
    """Hashing-trick linear text classifier (Weinberger et al., ICML '09;
    the fastText scoring shape, Joulin et al. '16): each token is hashed
    into one of ``n_buckets`` feature buckets, the bucket's weight is
    looked up, and the document score is the mean bucket weight. The
    weight table here is a FROZEN DETERMINISTIC stand-in for trained
    weights (w[b] = (b * 2654435761) mod n_weights, centered — Knuth's
    multiplicative constant as a fixed pseudo-random draw): in production
    the same plan runs with a broadcast weight map or an inlined literal
    CASE, and the engine-side cost is identical. Token hash is the repo's
    portable md5-prefix (identical hex in Spark and DuckDB), so the
    oracle reproduces scores bit-for-bit.

    Output: (doc_id, n_tokens, score, label) where score = sum(w)/
    ((n_weights/2) * n_tokens) in [-1, 1] and label = keep iff score > 0.
    The score is an UNROUNDED per-row rational (exact int sum over a
    power-of-two-times-n denominator): rounding it was the hash hazard —
    these denominators HIT the x.xxxxx5 boundary routinely, where Spark
    and DuckDB round() disagree (sf0.1 exposed one), and a rounded
    near-zero score could even flip the keep/drop label.

    Scale: ONE scan, ZERO shuffles — the per-token hash+weight+sum runs
    as an array fold inside the scan stage (aggregate over the token
    array), entirely JVM-side. At 100 TB this is the cheapest possible
    shape for a quality-classifier pass: parquet-read bound, no exchange,
    and the keep/drop label prunes before any downstream shuffle. The
    integer weight sum is EXACT (bigint adds), so the only float op is
    one final division — no reduction-order sensitivity.
    """
    half = n_weights // 2
    toks = tokens_expr(text_col)

    bucket = f"pmod(CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT), {n_buckets})"
    tok_weight = f"pmod({bucket} * 2654435761, {n_weights}) - {half}"
    out = df.select(
        F.col(id_col),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.expr(f"aggregate({tokens_sql(text_col)}, 0L, (acc, t) -> acc + ({tok_weight}))").alias("_sw"),
    ).select(
        F.col(id_col),
        F.col("n_tokens"),
        (F.col("_sw") / (float(half) * F.col("n_tokens"))).alias("score"),
    )
    return out.withColumn(
        "label", F.when(F.col("score") > 0, F.lit("keep")).otherwise(F.lit("drop"))
    )


def novelty_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's distinct
    k-token shingles whose FIRST corpus occurrence (minimum doc_id) is
    this document. Low novelty = the document is mostly made of n-grams
    already seen in earlier documents — a cheap cross-document redundancy
    signal complementing within-doc ``repetition_stats`` and pairwise
    ``ngram_jaccard`` (the 'new text' measure used in dataset-growth
    audits; same shingle basis as the dedup tier, ``shingles_expr``).

    Scale: exactly TWO exchanges regardless of corpus size — (1) the
    shingle shuffle for a whole-partition window min(doc_id) PARTITION BY
    gram (an aggregate window, not a sort window; one shuffle replaces
    the groupBy+self-join form's two), and (2) the per-doc hash agg of
    fixed-width counts. Shuffle rows are (gram, doc_id) pairs only; at
    100 TB the gram shuffle is the irreducible cost of any global
    first-occurrence computation, and AQE handles hot grams. Counts are
    exact integers; the final ratio is one int/int division.
    """
    from .dedup import shingles_expr  # call-time import avoids a cycle

    grams = df.select(
        F.col(id_col), F.explode(shingles_expr(text_col, k)).alias("gram")
    )
    w = Window.partitionBy("gram")
    flagged = grams.withColumn("first_doc", F.min(id_col).over(w))
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col(id_col), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .select(
            F.col(id_col),
            F.col("n_grams"),
            F.col("n_novel"),
            (F.col("n_novel") / F.col("n_grams")).alias("novelty"),
        )
    )


RAKE_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is")


_PHRASE_BREAK = sql_str(r"\s*\|\s*")


def rake_keyphrases(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    stopwords: tuple[str, ...] = RAKE_STOPWORDS,
    k: int = 3,
) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. '10), the distinct-candidate
    variant: stopwords delimit candidate phrases; per document, each
    word's score is degree/frequency over the doc's DISTINCT candidate
    phrases (degree = Σ length of phrases containing the word), and a
    phrase's score is the sum of its words' scores. Scores are carried in
    EXACT integer millionths (``degree*1e6 div freq``) so the per-phrase
    sum is order-independent — no float reduction anywhere; ties broken
    by phrase text. Output: top-``k`` phrases per doc with the integer
    score and rank.

    Plan shape (A/B-measured at sf0.1): candidate phrases dedup
    ARRAY-side (phrase identity is per-doc — a global DISTINCT bought
    nothing), and per-word degree/frequency attach as AGGREGATE WINDOWS
    ``PARTITION BY (doc, word)`` over the exploded phrase-word relation —
    the dsir_weights idiom: no word-score groupBy, no join back, no
    second explode (the map-scored join form measured 1.47 s warm, this
    form 1.06-1.21 s). Three exchanges total, all doc-/word-keyed: the
    (doc, word) window shuffle, the (doc, phrase) score agg, and the
    per-doc top-k window. The scan leg is CPU-heavy array work, so it
    rides ``floor_parallelism`` (the winnow 16 KB/task gate) — on
    under-split small inputs the phrase build otherwise runs on ONE task
    (measured 9 s → 1.8 s cold at sf0.1); at real scale the input has
    enough splits and the exchange never fires.
    """
    from .transform import floor_parallelism

    df = floor_parallelism(
        df,
        min_partitions=df.sparkSession.sparkContext.defaultParallelism,
        min_task_bytes=1 << 14,
    )
    qid = F.col(id_col)
    marked = (f"transform({tokens_sql(text_col)}, "
              f"t -> CASE WHEN {sql_in('t', stopwords)} THEN '|' ELSE t END)")
    phrases = F.expr(f"array_distinct(filter(transform(split(array_join({marked}, ' '), "
                     f"{_PHRASE_BREAK}), p -> trim(p)), p -> p != ''))")
    pw = (
        df.select(qid, F.explode(phrases).alias("phrase"))
        .select(qid, F.col("phrase"), F.split("phrase", " ").alias("_ws"))
        .select(
            qid,
            F.col("phrase"),
            F.size("_ws").cast("bigint").alias("_plen"),
            F.explode("_ws").alias("word"),
        )
    )
    # integer word score via one windowed pass; `div` keeps the exact
    # bigint semantics (floor(x/y) over doubles would be fine below 2^53
    # but div never degrades)
    over = f"PARTITION BY `{id_col}`, word"
    scored_words = pw.select(
        qid,
        F.col("phrase"),
        F.expr(
            f"(sum(_plen) OVER ({over}) * 1000000)"
            f" div count(1) OVER ({over})"
        ).alias("_w_score"),
    )
    scored = scored_words.groupBy(qid, F.col("phrase")).agg(
        F.sum("_w_score").cast("bigint").alias("score_milli")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score_milli"), F.asc("phrase"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(qid, "phrase", "score_milli", F.col("rk").cast("bigint").alias("rk"))
    )


def vocab_coverage(
    df: DataFrame,
    text_col: str = "text",
    vocab_sizes: tuple[int, ...] = (100, 500, 1000, 5000),
) -> DataFrame:
    """Tokenizer-design coverage curve: for each candidate vocabulary size
    N, the fraction of all token OCCURRENCES covered by the N most
    frequent token types (ties broken by token text, so the curve is
    deterministic). The standard first diagnostic when sizing a
    vocabulary or auditing OOV pressure before a BPE train
    (cf. ``oov_rate`` for a FIXED vocab; this sweeps the size axis).

    Output: (vocab_size, covered_occurrences, total_occurrences,
    coverage) — one row per requested N; integer sums, one final int/int
    division.

    Scale: one token hash-agg (map-side combined), then ranking/windows
    over the TYPE table (vocabulary-sized, not corpus-sized) — at 100 TB
    the type table is millions of rows vs trillions of occurrences, so
    the rank sort is negligible; the coverage rows are a broadcast-sized
    cross of |vocab_sizes| literals against the ranked types.
    """
    return coverage_from_counts(token_counts(df, text_col), vocab_sizes)


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The token-type table ``(tok, n)`` — the state half of
    :func:`vocab_coverage`. Counts are associative integers, so it runs
    unchanged as complete-mode stream state whose size is the
    vocabulary, never the corpus."""
    return (
        df.select(F.explode(tokens_expr(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def coverage_from_counts(
    counts: DataFrame,
    vocab_sizes: tuple[int, ...] = (100, 500, 1000, 5000),
) -> DataFrame:
    """Coverage-curve report over a :func:`token_counts` type table
    (batch or drained stream state). Ranking is a global sort —
    non-incremental by semantics — so it re-runs on read, over
    vocabulary-sized input."""
    w_rank = Window.orderBy(F.desc("n"), F.asc("tok"))
    ranked = counts.select(
        F.col("n"),
        F.row_number().over(w_rank).alias("rk"),
    )
    w_cum = Window.orderBy("rk").rowsBetween(Window.unboundedPreceding, 0)
    cum = ranked.select(
        "rk",
        F.sum("n").over(w_cum).alias("cum_n"),
        F.sum("n").over(Window.partitionBy()).alias("total_n"),
    )
    sizes = driver_frame(
        counts.sparkSession,
        {"vocab_size": [int(s) for s in vocab_sizes]},
        "vocab_size long",
    )
    # per size: the largest rk <= N (handles N > |vocab|: takes the last row)
    joined = sizes.join(
        F.broadcast(cum), F.col("rk") <= F.col("vocab_size"), "left"
    )
    return (
        joined.groupBy("vocab_size")
        .agg(
            F.max("cum_n").alias("covered_occurrences"),
            F.max("total_n").alias("total_occurrences"),
        )
        .select(
            "vocab_size",
            "covered_occurrences",
            "total_occurrences",
            (F.col("covered_occurrences") / F.col("total_occurrences")).alias(
                "coverage"
            ),
        )
        .orderBy("vocab_size")
    )


def kneser_ney_bigrams(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 20,
) -> DataFrame:
    """Interpolated Kneser-Ney smoothed bigram probabilities over the
    corpus's own bigram table (Kneser & Ney '95; the modified form of
    Chen & Goodman '98 is this with per-count discounts) →
    ``(rank, w1, w2, c12, n1p, n1f, p_kn)`` for the ``top_n`` bigrams by
    count — THE standard n-gram LM smoothing, and the quality rung above
    raw conditional frequency (`bigram_logprob`): continuation
    probability keeps "Francisco" from looking likely after anything
    just because "San Francisco" is frequent.

    With the standard discount d = 0.75 ( = 3/4, an exact rational):

      ``p_kn(w2|w1) = max(c12 − d, 0)/c1
                      + (d · n1p(w1)/c1) · (n1f(w2)/B)``

    where ``c1`` is w1's bigram-first count, ``n1p(w1)`` the distinct
    continuations of w1, ``n1f(w2)`` the distinct predecessors of w2
    (the continuation count), and ``B`` the distinct-bigram total.
    Rendered portably as the fixed-order all-integer-operand form
    ``greatest(4·c12 − 3, 0)/(4·c1) + (3·n1p·n1f)/(4·c1·B)`` — every
    leaf an exact BIGINT, two divisions and one addition in fixed
    order → bit-identical doubles, registered UNROUNDED (per-row
    rational convention).

    Scale — two formulations, chosen by estimated input size (the
    `bigram_logprob` size-adaptive precedent; identical results — every
    aggregate is an exact integer in both forms):

    * **Small inputs** (`session.small_input`): ONE linear
      pipeline with zero branches — the (w1, w2) hash-agg, then a
      ``coalesce(1)`` of the TYPE table (vocab-bounded and proven
      small) under which every window — (c1, n1p) over w1, n1f over
      w2, B, and the head rank — chains in a single stage
      (SinglePartition satisfies every clustered distribution, so no
      window re-exchanges; only in-memory sorts of the type table).
      No checkpoint, no join builds, no multi-job fan-out. The floor
      gate stays at the DEFAULT 1 MB/task here (measured: the 16 KB
      winnow gate's exchange costs more than this codegen-cheap bigram
      explode gains — 0.44 s vs 0.60 s at sf0.1).
    * **Large/unknown inputs** (the 100 TB path): the c1/n1p and n1f
      rollups re-aggregate the lazily-checkpointed TYPE table keyed by
      each side and join back (AQE broadcasts them when runtime sizes
      allow — no forced broadcast: a web corpus's bigram-type table is
      not driver-sized); the 1-row B total broadcasts; the head ranking
      is the two-phase ``global_row_number`` (never a single-task
      global window over an unbounded relation).
    """
    from .transform import floor_parallelism, global_row_number

    fl = F.array_remove(tokens_expr(text_col), "")
    base = floor_parallelism(df)
    occ = (
        base.select(fl.alias("_fl"))
        .select(
            F.posexplode(
                F.slice("_fl", 1, F.greatest(F.size("_fl") - 1, F.lit(0)))
            ).alias("_i", "w1"),
            F.col("_fl"),
        )
        .select("w1", F.element_at("_fl", F.col("_i") + 2).alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    # second term multiplies AS DOUBLES (matching the oracle's
    # n1p::DOUBLE * n1f::DOUBLE * 3 / (c1::DOUBLE * b::DOUBLE * 4)):
    # the earlier BIGINT product c1·B·4 overflows int64 on web-scale
    # corpora (c1 ~ 1e12 for a head word × B ~ 1e10 bigram types).
    # IEEE double ops are deterministic, so the identical expression
    # tree on both engines stays bit-equal.
    pkn = (
        F.greatest(F.lit(4) * F.col("c12") - F.lit(3), F.lit(0))
        .cast("double")
        / (F.lit(4) * F.col("c1")).cast("double")
        + (
            F.col("n1p").cast("double")
            * F.col("n1f").cast("double")
            * F.lit(3)
        )
        / (
            F.col("c1").cast("double")
            * F.col("_B").cast("double")
            * F.lit(4)
        )
    ).alias("p_kn")
    if small_input("kneser_ney_bigrams", df):
        w1w = Window.partitionBy("w1")
        w2w = Window.partitionBy("w2")
        scored = (
            occ.coalesce(1)
            .select(
                "w1",
                "w2",
                "c12",
                F.sum("c12").over(w1w).alias("c1"),
                F.count(F.lit(1)).over(w1w).alias("n1p"),
            )
            .withColumn("n1f", F.count(F.lit(1)).over(w2w))
            .withColumn("_B", F.count(F.lit(1)).over(Window.partitionBy()))
            .withColumn(
                "rank",
                F.row_number().over(
                    Window.orderBy(F.desc("c12"), "w1", "w2")
                ),
            )
        )
        return (
            scored.where(F.col("rank") <= top_n)
            .select("rank", "w1", "w2", "c12", "n1p", "n1f", pkn)
            .orderBy("rank")
        )
    occ = occ.localCheckpoint(eager=False)
    left = occ.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1p")
    )
    right = occ.groupBy("w2").agg(F.count(F.lit(1)).alias("n1f"))
    btot = occ.agg(F.count(F.lit(1)).alias("_B"))
    scored = (
        occ.join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(btot))
        .select("w1", "w2", "c12", "n1p", "n1f", pkn)
    )
    ranked = global_row_number(
        scored.withColumn("_negc", -F.col("c12")),
        ["_negc", "w1", "w2"],
        out_col="rank",
    )
    return (
        ranked.where(F.col("rank") <= top_n)
        # int, as the small path's row_number
        .select(F.col("rank").cast("int"), "w1", "w2", "c12", "n1p", "n1f", "p_kn")
        .orderBy("rank")
    )


def tokenizer_fertility(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer fertility per group → ``(group, n_docs, n_words,
    n_subwords, fertility)``: sub-word tokens emitted per whitespace
    word (the standard multilingual-tokenizer equity metric — Rust
    et al. '21 "How Good is Your Tokenizer?", public paper; a language
    whose fertility is 2× the corpus mean pays 2× the sequence length
    for the same content, the classic under-served-language signal).
    Uses the repo's BPE-ish regex pre-tokenizer as the sub-word proxy
    (`bpe_ish_tokens_expr`) and whitespace tokens as words.

    Portability: both counts are exact BIGINT sums of per-row array
    sizes from identical regexes; fertility is one int/int rational,
    unrounded. Scale: zero-join — per-row sizes inside codegen, one
    (group) hash-agg, |groups| output rows.
    """
    base = df.select(
        F.col(group_col).alias("grp"),
        F.size(F.array_remove(tokens_expr(text_col), "")).alias("_w"),
        F.size(F.array_remove(bpe_ish_tokens_expr(text_col), ""))
        .alias("_s"),
    )
    return (
        base.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_w").alias("n_words"),
            F.sum("_s").alias("n_subwords"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_docs",
            "n_words",
            "n_subwords",
            # a language whose docs are all empty has zero words:
            # fertility undefined -> NULL (DuckDB x/0), not an ANSI abort
            F.when(
                F.col("n_words") > 0,
                F.col("n_subwords") / F.col("n_words"),
            ).alias("fertility"),
        )
        .orderBy(group_col)
    )


def flesch_reading_ease(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Flesch reading-ease score per document (Flesch '48; the
    readability screen in every classic text-quality battery) →
    ``(id, n_words, n_sentences, n_syllables, flesch)`` with

      ``flesch = 206.835 − 1.015·(words/sentences)
                 − 84.6·(syllables/words)``

    using the standard cheap proxies: words = whitespace tokens,
    sentences = non-empty ``[.!?]+`` splits (floored at 1), syllables =
    vowel-group count per word (``[aeiouy]+`` runs — the textbook
    heuristic, biased but monotone, which is all a FILTER threshold
    needs). Out-of-band scores (very negative = run-on token soup,
    ≈ 121.22 = single-syllable spam) are curation signals in BOTH
    directions.

    Portability: all three counts are exact BIGINTs from identical
    regexes (character classes only — no engine-divergent syntax); the
    score is ONE fixed-order double expression of exact operands,
    registered unrounded (per-row rational convention). Docs with zero
    words drop out (no denominator).

    Scale: zero-shuffle scan-stage op — counts and score are computed
    per row inside whole-stage codegen; nothing joins, nothing
    aggregates. Runs at scan speed at any size.
    """
    toks = f"array_remove({tokens_sql(text_col)}, '')"
    n_words = F.expr(f"size({toks})")
    n_sent = F.expr(f"greatest(size(filter(split({sql_ident(text_col)}, '[.!?]+'), "
                    "s -> trim(s) != '')), 1)")
    n_syll = F.expr(f"aggregate({toks}, 0L, "
                    "(acc, t) -> acc + size(regexp_extract_all(t, '[aeiouy]+', 0)))")
    out = df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        n_sent.cast("long").alias("n_sentences"),
        n_syll.alias("n_syllables"),
    ).where(F.col("n_words") > 0)
    return out.select(
        id_col,
        "n_words",
        "n_sentences",
        "n_syllables",
        (
            F.lit(206.835)
            - F.lit(1.015)
            * (F.col("n_words").cast("double")
               / F.col("n_sentences").cast("double"))
            - F.lit(84.6)
            * (F.col("n_syllables").cast("double")
               / F.col("n_words").cast("double"))
        ).alias("flesch"),
    )


def zipf_fit(
    df: DataFrame, text_col: str = "text", max_rank: int | None = None
) -> DataFrame:
    """Zipf's-law fit over the corpus term-frequency distribution → ONE
    row ``(n_terms, total_tokens, slope, intercept, r2)``: least-squares
    regression of ln(frequency) on ln(rank) with terms ranked by
    (frequency DESC, term ASC). A natural corpus follows slope ≈ −1;
    a big deviation is the classic screen for TEMPLATE/SPAM corpora
    (too flat = near-uniform boilerplate vocabulary, too steep = a few
    tokens dominating — both poison tokenizer training).

    ``max_rank`` restricts the fit to the head of the distribution (the
    standard practice — the long unigram tail is noise-dominated).

    Determinism: term counts are exact BIGINTs; the rank is a total
    order; ln() of identical BIGINTs is the same libm double in both
    engines up to 1 ulp, and the regression sums fold vocabulary-sized
    relations — slope/intercept/r² are rounded to 6 dp per the repo's
    transcendental-aggregate rule.

    Scale: tokenize + explode is one codegen pass (parallelism floored
    for CPU-heavy hashing inputs upstream); term counts are a map-side-
    combined hash agg; the rank over the VOCABULARY-sized count table
    uses the distributed two-phase `global_row_number` (never a
    single-task window — a 100 TB web corpus's whitespace vocabulary is
    billions of distinct strings); the final fit is a one-row aggregate.
    """
    from apache_flink_essentials_spark.operators.transform import (
        global_row_number,
    )

    counts = (
        df.select(F.explode(tokens_expr(text_col)).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("_neg_cnt", -F.col("cnt"))
    )
    ranked = global_row_number(counts, ["_neg_cnt", "term"], "rank")
    if max_rank is not None:
        ranked = ranked.where(F.col("rank") <= max_rank)
    pts = ranked.select(
        "cnt",
        F.log(F.col("rank").cast("double")).alias("lx"),
        F.log(F.col("cnt").cast("double")).alias("ly"),
    )
    sums = pts.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("cnt").alias("total_tokens"),
        F.sum("lx").alias("_sx"),
        F.sum("ly").alias("_sy"),
        F.sum(F.col("lx") * F.col("lx")).alias("_sxx"),
        F.sum(F.col("lx") * F.col("ly")).alias("_sxy"),
        F.sum(F.col("ly") * F.col("ly")).alias("_syy"),
    )
    n = F.col("n_terms").cast("double")
    # degenerate regressions must be NULL (the DuckDB x/0 behavior), not
    # an ANSI abort: x-variance is 0 with a single term (slope/intercept
    # undefined), y-variance is 0 when every term has the SAME count (a
    # uniform corpus — e.g. all-unique tokens; r² undefined)
    vx = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    vy = n * F.col("_syy") - F.col("_sy") * F.col("_sy")
    slope = F.when(
        vx != 0,
        (n * F.col("_sxy") - F.col("_sx") * F.col("_sy")) / vx,
    )
    return sums.select(
        "n_terms",
        "total_tokens",
        F.round(slope, 6).alias("slope"),
        F.round((F.col("_sy") - slope * F.col("_sx")) / n, 6)
        .alias("intercept"),
        F.when(
            vy != 0,
            F.round(
                slope
                * (n * F.col("_sxy") - F.col("_sx") * F.col("_sy"))
                / vy,
                6,
            ),
        ).alias("r2"),
    )


def term_burstiness(
    df: DataFrame, text_col: str = "text", top_k: int = 20
) -> DataFrame:
    """Church-Gale burstiness of the head terms →
    ``(term, cf, df, burstiness)`` for the ``top_k`` terms by collection
    frequency: ``cf`` = total occurrences, ``df`` = documents containing
    the term, ``burstiness = cf/df`` = mean occurrences per containing
    document (Church & Gale '95, "Poisson mixtures" — public paper). A
    term with high burstiness clumps (content word / boilerplate
    artifact); ≈1 spreads thin (function word) — the screen that
    separates topical vocabulary from template noise before TF-IDF-style
    weighting.

    Shape: one tokenize + explode pass → (doc, term) hash agg (the
    dedup-and-count in one shuffle) → per-term agg where ``cf`` is a
    SUM of the per-doc counts and ``df`` a COUNT of them, so the raw
    occurrences shuffle once and the second exchange carries only the
    (doc, term) aggregate. Top-k via TakeOrderedAndProject on
    (cf DESC, term). ``burstiness`` is a BIGINT/BIGINT rational —
    engine-portable unrounded.
    """
    occ = (
        df.select(
            F.col("doc_id"), F.explode(tokens_expr(text_col)).alias("term")
        )
        .where(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        occ.groupBy("term")
        .agg(
            F.sum("c").cast("long").alias("cf"),
            F.count(F.lit(1)).alias("df"),
        )
        .select(
            "term", "cf", "df",
            (F.col("cf") / F.col("df")).alias("burstiness"),
        )
        .orderBy(F.col("cf").desc(), "term")
        .limit(top_k)
    )


def hapax_ratio(
    df: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-group vocabulary richness →
    ``(group, vocab_size, hapax_count, hapax_ratio)`` where hapax = terms
    occurring EXACTLY ONCE in the group's corpus slice. The classic
    lexical-diversity screen: scraped boilerplate shows a collapsed
    hapax share (the same tokens over and over), genuine prose ~40-60% —
    a cheap per-source quality signal next to `text_quality`'s per-doc
    ones.

    Shape: tokenize + explode once → (group, term) hash agg → per-group
    agg counting terms and the cnt=1 subset; both exchanges carry
    aggregates, never raw occurrences twice. ``hapax_ratio`` is a
    BIGINT/BIGINT rational — engine-portable unrounded.
    """
    return hapax_from_term_counts(
        grouped_term_counts(df, group_col, text_col), group_col
    )


def grouped_term_counts(
    df: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-group type table ``(grp, term, c)`` — the state half of
    :func:`hapax_ratio`; associative counts, so it runs unchanged as
    complete-mode stream state (vocabulary-sized per group)."""
    return (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(tokens_expr(text_col)).alias("term"),
        )
        .where(F.col("term") != "")
        .groupBy("grp", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def hapax_from_term_counts(tt: DataFrame, group_col: str = "source") -> DataFrame:
    """Hapax report over a :func:`grouped_term_counts` relation (batch or
    drained stream state). Hapax-ness is only final when the input is —
    one more occurrence demotes a term — so it derives on read."""
    return (
        tt.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("vocab_size"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("long").alias("hapax_count"),
        )
        .select(
            F.col("grp").alias(group_col),
            "vocab_size",
            "hapax_count",
            (F.col("hapax_count") / F.col("vocab_size"))
            .alias("hapax_ratio"),
        )
        .orderBy(group_col)
    )


def js_divergence_by_group(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    max_terms: int = 1000,
) -> DataFrame:
    """Jensen-Shannon divergence of each group's unigram distribution
    from the corpus distribution → ``(group, n_terms, jsd)``. THE
    distribution-drift screen for text (Lin '91 — public paper): a
    source whose JSD spikes against the corpus is template spam, a
    language mix-up, or a scraper gone wrong — caught without reading a
    single document.

    Both distributions restrict to the corpus's ``max_terms`` head
    (ranked by collection frequency via the two-phase
    `global_row_number` — the standard head-vocab practice; the tail is
    noise-dominated and unbounded) and renormalize over it, so
    ``jsd = 0.5·Σ p·ln(p/m) + 0.5·Σ q·ln(q/m)`` with ``m = (p+q)/2``
    is a proper 0..ln(2) divergence. p, q are exact-BIGINT rationals;
    the ln-sums fold a (|groups| × max_terms)-bounded grid, so jsd is
    rounded to 6 dp per the transcendental rule.

    Scale: one tokenize+explode pass feeds BOTH the (group, term) and
    corpus aggregates; the scoring grid is |groups| × head — a
    PARAMETER-bounded relation, never vocabulary × corpus. The
    tokenize leg rides the 16 KB/task ``floor_parallelism`` gate (the
    winnow convention): per-token work over an under-split source is
    the measured cost center, and one cheap row exchange fans it out;
    at real scale the scan has plenty of splits and the gate is a no-op.
    """
    from apache_flink_essentials_spark.operators.transform import (
        floor_parallelism,
        global_row_number,
    )

    occ = (
        floor_parallelism(df, min_task_bytes=1 << 14)
        .select(
            F.col(group_col).alias("grp"),
            F.explode(tokens_expr(text_col)).alias("term"),
        )
        .where(F.col("term") != "")
        .groupBy("grp", "term")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    corpus = occ.groupBy("term").agg(F.sum("c").alias("qc"))
    head = (
        global_row_number(
            corpus.withColumn("_neg", -F.col("qc")), ["_neg", "term"], "rank"
        )
        .where(F.col("rank") <= max_terms)
        .select("term", "qc")
    )
    tq = head.agg(F.sum("qc").alias("_tq"))
    st = occ.join(head.select("term"), "term", "left_semi")
    totals = st.groupBy("grp").agg(F.sum("c").alias("_tg"))
    grid = (
        totals.crossJoin(F.broadcast(head))
        .join(st, ["grp", "term"], "left")
        .crossJoin(F.broadcast(tq))
        .select(
            "grp",
            (F.coalesce(F.col("c"), F.lit(0)) / F.col("_tg")).alias("p"),
            (F.col("qc") / F.col("_tq")).alias("q"),
        )
        .withColumn("m", (F.col("p") + F.col("q")) / F.lit(2.0))
        .select(
            "grp",
            F.when(F.col("p") > 0,
                   F.col("p") * F.log(F.col("p") / F.col("m")))
            .otherwise(F.lit(0.0)).alias("kp"),
            (F.col("q") * F.log(F.col("q") / F.col("m"))).alias("kq"),
        )
    )
    return (
        grid.groupBy(F.col("grp").alias(group_col))
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.round(
                F.lit(0.5) * F.sum("kp") + F.lit(0.5) * F.sum("kq"), 6
            ).alias("jsd"),
        )
        .orderBy(group_col)
    )


def yule_k(
    df: DataFrame, group_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """Per-group Yule's K lexical-repetitiveness characteristic →
    ``(group, n_tokens, n_types, yule_k)`` where
    ``K = 10^4 · (Σ_m m²·V_m − N) / N²`` over the frequency spectrum
    V_m (Yule '44, public literature). The constant-under-sampling
    companion to `text_hapax_ratio`: K rises when a few types dominate
    the token mass — template spam and boilerplate score hundreds,
    genuine prose tens — and unlike TTR it barely moves with corpus
    size, so one threshold works across sources of different volume.

    Exactness: Σ m²·V_m = Σ_types freq², summed exactly on the
    DECIMAL(38,0)/HUGEINT pathway (a single term with freq > ~3e9
    would wrap a BIGINT square); the output is the single rational
    ``10000·(S2 − N) / N²`` whose operands convert exactly to double
    (N < 2^53 per group — petabyte headroom) and whose N² is ONE IEEE
    multiply — bit-identical across engines, unrounded per convention.
    N² stays on the double pathway deliberately for the same reason.

    Shape: tokenize + explode once → (group, term) hash agg →
    per-group sum of c and c² — two map-side-combined exchanges, the
    second carrying only type-level aggregates.
    """
    tt = (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(tokens_expr(text_col)).alias("term"),
        )
        .where(F.col("term") != "")
        .groupBy("grp", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        tt.groupBy("grp")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            # c² on the DECIMAL(38,0)/HUGEINT pathway (the hhi idiom):
            # one term with c > ~3e9 would wrap a BIGINT square
            F.sum(F.col("c").cast("decimal(38,0)")
                  * F.col("c").cast("decimal(38,0)")).alias("_s2"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_tokens",
            "n_types",
            (
                (F.lit(10000).cast("decimal(38,0)")
                 * (F.col("_s2") - F.col("n_tokens")))
                .cast("double")
                / (F.col("n_tokens").cast("double")
                   * F.col("n_tokens").cast("double"))
            ).alias("yule_k"),
        )
        .orderBy(group_col)
    )


def log_odds_terms(
    df: DataFrame,
    target_value: str,
    group_col: str = "lang",
    text_col: str = "text",
    top_n: int = 20,
    min_count: int = 10,
) -> DataFrame:
    """Discriminative vocabulary of one corpus slice vs the rest →
    the ``top_n`` terms by |smoothed log-odds-ratio| between the
    ``group_col == target_value`` slice and everything else
    (add-one-smoothed log-odds, the core of Monroe et al. '08
    "Fightin' Words", public paper, without the Dirichlet prior
    tuning). The corpus-comparison read a curation pipeline runs to see
    WHAT distinguishes a source/language slice — complementing
    `text_js_divergence`, which says only HOW MUCH they differ.

    ``score = ln((c_t+1)/(N_t−c_t+1)) − ln((c_r+1)/(N_r−c_r+1))``
    quantized per term to half-up micro BIGINTs: each operand of each
    ln is an exact int/int rational (identical double on both
    engines — the zipf/BM25 log convention), the subtraction happens
    on exact BIGINT micro-logs, and ranking/tie-break uses
    (|score_micro| DESC, term) — no accumulated float anywhere.

    Shape: tokenize + explode once → (side, term) hash agg → per-term
    pivot of the two sides → score projection → top-k
    (TakeOrderedAndProject). The ranked relation is vocabulary-sized.
    """
    side = F.when(F.col(group_col) == target_value, F.lit(1)).otherwise(
        F.lit(0)
    )
    tt = (
        df.select(
            side.alias("_side"),
            F.explode(tokens_expr(text_col)).alias("term"),
        )
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(
            F.sum("_side").cast("long").alias("ct"),
            F.sum(F.lit(1) - F.col("_side")).cast("long").alias("cr"),
        )
    )
    tot = tt.agg(
        F.sum("ct").cast("long").alias("nt"),
        F.sum("cr").cast("long").alias("nr"),
    )
    micro = lambda x: F.floor(  # noqa: E731
        F.log(x) * 1e6 + F.lit(0.5)
    ).cast("long")
    scored = tt.crossJoin(F.broadcast(tot)).select(
        "term", "ct", "cr",
        (
            micro(
                (F.col("ct") + 1)
                / (F.col("nt") - F.col("ct") + 1)
            )
            - micro(
                (F.col("cr") + 1)
                / (F.col("nr") - F.col("cr") + 1)
            )
        ).alias("log_odds_micro"),
    )
    return (
        scored.where(F.col("ct") + F.col("cr") >= min_count)
        .orderBy(
            F.abs(F.col("log_odds_micro")).desc(), "term"
        )
        .limit(top_n)
        .select(
            "term", "ct", "cr", "log_odds_micro",
            (F.col("log_odds_micro") / F.lit(1000000.0))
            .alias("log_odds"),
        )
    )
