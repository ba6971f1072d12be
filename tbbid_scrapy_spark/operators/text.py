"""Text-analysis operators over the ``documents`` table — language ID,
quality scoring, tokenization, the corpus filter. All pure
Catalyst expressions (regex / higher-order array functions); zero Python
in the hot path, so they run at scan speed on 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword seed lists (public common-word lists); the
# heuristic scores stopword hit-rate per language and argmaxes.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "of", "and", "to", "in", "is", "that", "it", "for", "on"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "se", "no"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "nicht"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "que"],
}

# Whitespace as an EXPLICIT character class, not \s: Java regex \s is
# [ \t\n\x0B\f\r] but RE2 (DuckDB, the oracle engine) \s omits \x0B —
# a vertical tab in a document would make word counts, shingle sets,
# and norm keys silently diverge between the engine and every oracle.
# The explicit class means both engines tokenize identically for ALL
# inputs, not just fixtures that happen to avoid \x0B. Interior (for
# composing into other classes) and full class exported for reuse.
WS_CHARS = r" \t\n\x0B\f\r"
WS_CLASS = f"[{WS_CHARS}]"

# BPE-ish tokenizer: words, numbers, or single non-space symbols — a
# deterministic stand-in for subword tokenization with similar count scale.
TOKEN_PATTERN = rf"[A-Za-z]+|[0-9]+|[^{WS_CHARS}A-Za-z0-9]"


def tokens(col: Column) -> Column:
    return F.regexp_extract_all(F.lower(col), F.lit(f"({TOKEN_PATTERN})"), 1)


def words_of(col: Column) -> Column:
    """Normalized whitespace tokens — THE shared tokenization every
    feature below consumes. Callers on a hot path should materialize it
    once per row in its own projection (``F.col`` reference afterwards)
    instead of passing raw text into several features: each feature
    otherwise embeds its own copy of the split subtree and the
    tokenization re-runs per consumer (the same duplicate-subtree class
    measured and fixed for shingle hashes and the URL canonicalizer —
    here it was ~7 evaluations per row in corpus_keep's gate
    projection)."""
    return F.split(F.trim(F.lower(col)), f"{WS_CLASS}+")


def _stop_arr_sql(lang: str) -> str:
    return "array(" + ",".join(f"'{w}'" for w in STOPWORDS[lang]) + ")"


def _hits_sql(words_ref: str, lang: str) -> str:
    """SQL text for 'stopword hit count of ``lang`` over the
    materialized token-array column ``words_ref``' — byte-equal
    semantics to size(filter(words, w -> array_contains(stops, w))).
    Built as ONE parsed expression: the Column-by-Column construction
    of the same tree costs hundreds of py4j round-trips per language
    (driver-side, inside every timed query build — measured ~0.45 s per
    heavy query, guide §1 'fixed costs dominate at the bench SF')."""
    return (
        f"size(filter({words_ref}, w -> "
        f"array_contains({_stop_arr_sql(lang)}, w)))"
    )


# comparator of the language argmax: hits desc, then lang asc — the
# flattened CASE is semantically identical to the nested when/otherwise
# Column comparator it replaces.
_CMP_SQL = (
    "(a, b) -> CASE WHEN a.hits > b.hits THEN -1 "
    "WHEN a.hits < b.hits THEN 1 "
    "WHEN a.lang < b.lang THEN -1 "
    "WHEN a.lang > b.lang THEN 1 ELSE 0 END"
)


def _lang_scores_sql(words_ref: str) -> str:
    entries = ",".join(
        f"struct('{lang}' AS lang, {_hits_sql(words_ref, lang)} AS hits)"
        for lang in STOPWORDS
    )
    return f"array({entries})"


def lang_best(words_ref: str = "_words") -> Column:
    """Winning (lang, hits) struct over a materialized token-array
    column: argmax language by stopword hits, ties broken by language
    code. Callers materialize THIS in its own projection too, then read
    the two fields with ``lang_from_best`` — reading best["hits"] and
    best["lang"] off an unmaterialized struct embeds a full copy of the
    4-language scoring tree per field, so the scoring runs twice per
    row."""
    return F.expr(
        f"element_at(array_sort({_lang_scores_sql(words_ref)}, {_CMP_SQL}), 1)"
    )


def lang_from_best(best: Column) -> Column:
    """'und' fallback over a MATERIALIZED best-struct column (two O(1)
    field reads)."""
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def words_gate(col: Column, min_words: int, lang: str | None) -> Column:
    """`n_words >= min_words AND language(col) == lang` as ONE
    single-evaluation boolean expression over raw text.

    Construction rationale (guide §1.2 step 2 + §7.2): the naive
    `select(n_words, lang_pred).filter(...)` shape evaluates the
    tokenization ~7x per row — each feature embeds its own copy of the
    split subtree, the best["hits"]/best["lang"] field reads of the
    argmax struct each embed a full copy of the 4-language scoring
    tree, and PushPredicateThroughProject then substitutes those trees
    into the pushed condition while the projection still computes its
    outputs.
    Here the token array is bound ONCE as a 1-element struct array and
    every consumer reads it through the lambda variable (evaluated once
    per row by construction); the argmax struct is bound the same way
    one level down. A filter on this expression therefore costs exactly
    one tokenization + one scoring pass per row wherever the optimizer
    moves it. NULL text yields NULL (row filtered) exactly like the
    previous shape."""

    def _inner(s: Column) -> Column:
        w = s["w"]
        cond = F.size(w) >= min_words
        if lang is not None:
            entries = []
            for lg, sw in STOPWORDS.items():
                arr = F.array(*[F.lit(x) for x in sw])
                entries.append(
                    F.struct(
                        F.lit(lg).alias("lang"),
                        F.size(
                            F.filter(w, lambda x: F.array_contains(arr, x))
                        ).alias("hits"),
                    )
                )
            best = F.element_at(
                F.array_sort(
                    F.array(*entries),
                    lambda a, b: F.when(a["hits"] > b["hits"], -1)
                    .when(a["hits"] < b["hits"], 1)
                    .otherwise(
                        F.when(a["lang"] < b["lang"], -1)
                        .when(a["lang"] > b["lang"], 1)
                        .otherwise(0)
                    ),
                ),
                1,
            )
            cond = cond & F.exists(
                F.array(best),
                lambda bb: (bb["hits"] > 0) & (bb["lang"] == F.lit(lang)),
            )
        return cond

    return F.exists(F.array(F.struct(words_of(col).alias("w"))), _inner)


def quality_features(col: Column, words: "Column | str | None" = None) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio features (the standard
    pretraining-corpus quality heuristics).

    ``words``: a pre-materialized token-array column — pass the NAME of
    a column holding ``words_of(col)`` so the tokenization runs once per
    row and the stopword scan parses as one SQL expression (see
    ``words_of``/``_hits_sql``); default None re-tokenizes inline
    (byte-identical values either way)."""
    n_chars = F.length(col)
    if isinstance(words, str):
        stop_hits = F.expr(_hits_sql(words, "en"))
        words = F.col(words)
    else:
        if words is None:
            words = words_of(col)
        en = F.array([F.lit(w) for w in STOPWORDS["en"]])
        stop_hits = F.size(F.filter(words, lambda w: F.array_contains(en, w)))
    n_words = F.size(words)
    # Unicode-aware punctuation class: Java \w is ASCII-only, so the old
    # [^\w\s] counted every ü/é/汉 as punctuation and the quality gate
    # rejected clean documents in exactly the languages STOPWORDS covers.
    # \p{L}\p{N} are identical Unicode general categories in Java regex
    # and DuckDB's RE2, so the oracle SQL uses the same class verbatim.
    n_punct = n_chars - F.length(F.regexp_replace(col, rf"[^\p{{L}}\p{{N}}_{WS_CHARS}]", ""))
    mean_word_len = F.when(
        n_words > 0,
        F.aggregate(words, F.lit(0), lambda a, w: a + F.length(w)) / n_words,
    ).otherwise(F.lit(0.0))
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "punct_ratio": (n_punct / F.greatest(n_chars, F.lit(1))).cast("double"),
        "stopword_ratio": (stop_hits / F.greatest(n_words, F.lit(1))).cast("double"),
        "mean_word_len": mean_word_len.cast("double"),
    }


def quality_score(col: Column, words: "Column | str | None" = None) -> Column:
    """Composite [0,1] quality score: rewards stopword presence and sane
    word lengths, penalizes punctuation soup — deterministic and cheap.
    ``words``: see ``quality_features``."""
    f = quality_features(col, words=words)
    word_len_ok = F.when(
        (f["mean_word_len"] >= 2.0) & (f["mean_word_len"] <= 12.0), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    score = (
        F.least(f["stopword_ratio"] * 2.0, F.lit(1.0)) * 0.5
        + (F.lit(1.0) - F.least(f["punct_ratio"] * 4.0, F.lit(1.0))) * 0.3
        + word_len_ok * 0.2
    )
    return score.cast("double")


def corpus_keep(documents: DataFrame, min_words: int = 20,
                max_punct_ratio: float = 0.2, lang: str | None = "en",
                near_dup_threshold: float = 0.5,
                max_shingle_df: int | None = 1000) -> DataFrame:
    """End-to-end pretraining-corpus filter — the composition a 100 TB
    data pipeline actually runs, each stage the already-tested operator:

    1. quality gate   : n_words ≥ min_words AND punct_ratio ≤ cap
                        (quality_features — scan-speed Catalyst)
    2. language gate  : stopword-argmax language == lang (skip when
                        lang is None)
    3. exact dedup    : keep the smallest doc_id per normalized text
                        (one hash-shuffle, map-side combined)
    4. near-dup drop  : remove any survivor with a SMALLER near-duplicate
                        among survivors (exact n-gram Jaccard ≥ τ via the
                        count-based dedup.ngram_jaccard_pairs — a doc is
                        dropped iff it appears as id_b of some pair)

    Deterministic end to end, so the whole pipeline is DuckDB-oracle
    checkable; returns (doc_id, n_words) of the kept documents. Stage
    order is filter-first: dedup runs on the quality/lang survivors
    (cheaper at scale — the gates are scan-speed, dedup shuffles).

    The survivor set is materialized once before the near-dup stage: ngram_jaccard_pairs references its
    input in four sub-plans (df cap, both self-join sides, set sizes)
    plus the final anti-join — without the persist the quality/lang/
    exact-dedup pipeline (regex-heavy language gate included) re-executes ~5×
    (measured 17 s → 6.5 s at sf0.1). At 100 TB prefer materializing
    survivors to a table; the persist is MEMORY_AND_DISK either way,
    registered with ``operators.scratch`` — call ``scratch.release()``
    after the final action to free it."""
    from tbbid_scrapy_spark.operators import dedup as _dedup
    from tbbid_scrapy_spark.operators import scratch as _scratch

    c = F.col("text")
    # widen a narrow input BEFORE the regex/HOF-heavy quality+lang
    # gate (dedup._spread — no-op for already-wide inputs): the
    # fixture parquet is one row group, so without this the whole
    # quality/lang pipeline ran as ONE task regardless of cores. The
    # raw input width is captured FIRST — it also decides the
    # survivors re-spread below (probing the derived survivors plan
    # directly would finalize + execute it, see safe_num_partitions)
    n_in = _dedup.safe_num_partitions(documents)
    documents = _dedup._spread(documents, n=n_in)
    # the min-words + language gate is ONE single-evaluation expression
    # (words_gate — the previous select+filter shape re-ran the
    # tokenization ~7x per row, measured 9.1 executor-seconds at sf0.1
    # for the gate stage); punct_ratio is a single-consumer conjunct, so
    # it needs no binding trick, and n_words is recomputed only for
    # gate survivors (one extra tokenization per KEPT row)
    f = quality_features(c)
    base = documents.filter(
        words_gate(c, min_words, lang)
        & (f["punct_ratio"] <= max_punct_ratio)
    ).select("doc_id", "text", F.size(words_of(c)).alias("n_words"))
    keyed = base.withColumn("_th", F.xxhash64(_dedup.normalize_text(c)))
    # keep-min-doc_id per text hash as ONE partitioned window instead of
    # a groupBy + semi-join back: same semantics, one exchange and no
    # broadcast-build job (the hash groups are tiny, so the window sort
    # is per-group trivial; partitioned by _th — never unpartitioned)
    from pyspark.sql import Window as _W

    _w = _W.partitionBy("_th").orderBy("doc_id")
    survivors = (
        keyed.withColumn("_rn", F.row_number().over(_w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_th")
    )
    # AQE coalesces the small post-window shuffle output down to ONE
    # partition, which would single-thread BOTH the cache-fill and the
    # O(text-length) shingle work downstream (measured 14.5 s vs 3.6 s
    # for the near-dup stage at sf0.1). Narrowness is decided from the
    # INPUT scan (safe to probe — executes nothing), so a 100 TB input
    # never pays a blind repartition: wide in ⇒ AQE keeps the survivors
    # at the advisory partition size.
    target = documents.sparkSession.sparkContext.defaultParallelism
    if n_in is not None and n_in * 2 <= target:
        survivors = survivors.repartition(target)
    survivors = _scratch.persist(survivors)
    pairs = _dedup.ngram_jaccard_pairs(
        survivors.select("doc_id", "text"),
        n=3,
        threshold=near_dup_threshold,
        max_shingle_df=max_shingle_df,
    )
    # no .distinct() on the losers: left_anti semantics are identical
    # against a multiset and the dedup shuffle was pure overhead
    losers = pairs.select(F.col("id_b").alias("doc_id"))
    return (
        survivors.join(losers, "doc_id", "left_anti")
        .select("doc_id", "n_words")
    )
