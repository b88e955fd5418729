"""Corpus-quality operators for LLM training-data pipelines.

- :func:`doc_repetition` — Gopher-style repetition signals per document
  (unique-word ratio, duplicate-word fraction, top-word fraction,
  top-bigram fraction). Rae et al., "Scaling Language Models: Methods,
  Analysis & Insights from Training Gopher" (arXiv:2112.11446) §A1.1
  filters on exactly these fractions.
- :func:`quality_filter` — C4/Gopher-style rule filter: each rule is an
  explicit 0/1 column plus a combined ``keep``, so a pipeline can both
  filter and audit *why* documents were dropped (Raffel et al., "C4",
  arXiv:1910.10683 §2.2).
- :func:`source_stats` — per-source corpus audit (doc counts, keep rate,
  mean length/uniqueness), the standard "which crawl dump is bad"
  roll-up.

100 TB shape: `doc_repetition` and `quality_filter` are pure JVM-side
Column expressions over per-row bounded word arrays — a narrow scan, no
shuffle, no UDF. Occurrence counts use array_sort + one run-length
aggregate pass (O(n log n) per row, single traversal) because Spark
evaluates higher-order-function lambdas interpretively per element.
`source_stats` is the same single scan plus
exactly one groupBy shuffle with map-side partial aggregation on a
low-cardinality key — rules are computed inline, never via a self-join.

No counterpart in the reference (its tasks are stream operators, e.g.
/root/reference/streamtasks/system/tasks/calculator.py); this tier is
the training-data extension the rebuild brief asks for.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from streamtasks_spark.core.frames import local_frame
from streamtasks_spark.llmdata.dedup import (
    ngrams_expr,
    norm_text,
    spread,
    tokens_expr,
)
from streamtasks_spark.llmdata.textstats import STOPWORDS

# Rule constants (documented C4/Gopher-inspired bounds; tuned for the
# synthetic corpus so both kept and dropped docs exist at every SF).
MIN_WORDS = 10
MAX_WORDS = 5000
MIN_AVG_WORD_LEN = 2.0
MAX_AVG_WORD_LEN = 12.0
MIN_STOPWORDS = 2
MIN_UNIQUE_RATIO = 0.2
MAX_TOP_WORD_FRACTION = 0.20


def _words_expr(text_col: str) -> str:
    return f"split({norm_text(text_col, 'spark')}, ' ')"


# Most-frequent-element count via sort + one run-length pass. Spark's
# higher-order functions are interpreted per element, so the naive
# count-each-distinct-element-in-the-full-array nest is O(u·n) per row
# and bench-visible; array_sort + a single aggregate is O(n log n) and
# ~5× faster at sf0.1. No explode, no shuffle either way.
def _top_count_expr(arr: str) -> str:
    return (
        f"aggregate(array_sort({arr}), "
        "named_struct('prev', cast(null as string), 'run', 0, 'best', 0), "
        "(acc, x) -> named_struct("
        "  'prev', x, "
        "  'run', if(x <=> acc.prev, acc.run + 1, 1), "
        "  'best', greatest(acc.best, if(x <=> acc.prev, acc.run + 1, 1))), "
        "acc -> acc.best)"
    )


# Same single sorted pass, also counting singleton runs (words occurring
# exactly once): best = top count, singles = #singleton words, so
# dup-occurrence count = n_words - singles without a second traversal.
def _run_stats_expr(arr: str) -> str:
    return (
        f"aggregate(array_sort({arr}), "
        "named_struct('prev', cast(null as string), 'run', 0, 'best', 0, "
        "             'singles', 0), "
        "(acc, x) -> named_struct("
        "  'prev', x, "
        "  'run', if(x <=> acc.prev, acc.run + 1, 1), "
        "  'best', greatest(acc.best, if(x <=> acc.prev, acc.run + 1, 1)), "
        "  'singles', acc.singles + if(not(x <=> acc.prev) and acc.run = 1,"
        "                              1, 0)), "
        "acc -> named_struct('best', acc.best, "
        "                    'singles', acc.singles + if(acc.run = 1, 1, 0)))"
    )


# DuckDB's vectorized lambdas make the direct count-per-distinct-element
# formulation fast enough for the oracle side; values are identical to
# the Spark run-length formulation by construction.
def _top_count_duck(arr: str) -> str:
    return (
        f"list_max(list_transform(list_distinct({arr}), "
        f"x -> len(list_filter({arr}, y -> y = x))))"
    )


def doc_repetition(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition signals (all rounded to 6 dp):

    - ``n_words``, ``n_unique_words``
    - ``unique_word_ratio`` = distinct/total words
    - ``dup_word_fraction`` = fraction of word *occurrences* whose word
      appears more than once (Gopher's duplicate-word measure)
    - ``top_word_fraction`` = occurrences of the most frequent word /
      total words
    - ``top_bigram_fraction`` = occurrences of the most frequent
      adjacent word pair / total bigrams (0.0 when < 2 words)
    """
    d = spread(docs, id_col).select(
        F.col(id_col), F.expr(_words_expr(text_col)).alias("__w")
    )
    bigrams = (
        "transform(sequence(1, size(__w) - 1), "
        "i -> concat(element_at(__w, i), ' ', element_at(__w, i + 1)))"
    )
    d = d.select(
        id_col,
        F.size("__w").alias("n_words"),
        F.expr("size(array_distinct(__w))").alias("n_unique_words"),
        F.expr(_run_stats_expr("__w")).alias("__rs"),
        # CASE short-circuits per row, so sequence(1, 0) is never built
        # for single-word docs.
        F.when(F.expr("size(__w) >= 2"), F.expr(_top_count_expr(bigrams)))
        .otherwise(F.lit(0))
        .alias("__top_bg"),
    )
    nw = F.col("n_words").cast("double")
    return d.select(
        id_col,
        "n_words",
        "n_unique_words",
        F.round(F.col("n_unique_words") / nw, 6).alias("unique_word_ratio"),
        F.round((F.col("n_words") - F.col("__rs.singles")) / nw, 6).alias(
            "dup_word_fraction"
        ),
        F.round(F.col("__rs.best") / nw, 6).alias("top_word_fraction"),
        F.round(
            F.when(
                F.col("n_words") >= 2,
                F.col("__top_bg") / (nw - F.lit(1.0)),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("top_bigram_fraction"),
    )


def oracle_doc_repetition_sql(
    source_sql: str = "SELECT doc_id, text FROM documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    bigrams = (
        "list_transform(range(1, len(__w)), i -> __w[i] || ' ' || __w[i + 1])"
    )
    return f"""
    WITH src AS ({source_sql}),
    w AS (
      SELECT {id_col},
             string_split({norm_text(text_col, "duck")}, ' ') AS __w
      FROM src
    ),
    d AS (
      SELECT {id_col},
        len(__w) AS n_words,
        len(list_distinct(__w)) AS n_unique_words,
        len(list_filter(__w, y -> len(list_filter(__w, z -> z = y)) > 1))
          AS __n_dup_occ,
        {_top_count_duck("__w")} AS __top_w,
        CASE WHEN len(__w) >= 2 THEN {_top_count_duck(bigrams)}
             ELSE 0 END AS __top_bg
      FROM w
    )
    SELECT {id_col}, n_words, n_unique_words,
      round(n_unique_words / CAST(n_words AS DOUBLE), 6) AS unique_word_ratio,
      round(__n_dup_occ / CAST(n_words AS DOUBLE), 6) AS dup_word_fraction,
      round(__top_w / CAST(n_words AS DOUBLE), 6) AS top_word_fraction,
      round(CASE WHEN n_words >= 2
                 THEN __top_bg / (CAST(n_words AS DOUBLE) - 1.0)
                 ELSE 0.0 END, 6) AS top_bigram_fraction
    FROM d
    """


def _rule_conditions() -> dict[str, str]:
    """Rule predicates as SQL fragments over the per-doc measure columns
    (``n_words``, ``__chars``, ``__n_stop``, ``__n_uniq``, ``__top_w``).
    Shared verbatim between the Spark and DuckDB formulations so the two
    engines cannot drift."""
    return {
        "r_word_count": f"(n_words >= {MIN_WORDS} AND n_words <= {MAX_WORDS})",
        "r_word_len": (
            f"(__chars / CAST(n_words AS DOUBLE) >= {MIN_AVG_WORD_LEN} "
            f"AND __chars / CAST(n_words AS DOUBLE) <= {MAX_AVG_WORD_LEN})"
        ),
        "r_stopwords": f"(__n_stop >= {MIN_STOPWORDS})",
        "r_unique": (
            f"(__n_uniq / CAST(n_words AS DOUBLE) >= {MIN_UNIQUE_RATIO})"
        ),
        "r_top_word": (
            f"(__top_w / CAST(n_words AS DOUBLE) <= {MAX_TOP_WORD_FRACTION})"
        ),
    }


def _measures(d: DataFrame, id_col: str, *extra: str) -> DataFrame:
    """Per-doc measure columns over a df holding ``__w`` (word array)."""
    stop_arr = ", ".join(f"'{s}'" for s in STOPWORDS)
    return d.select(
        id_col,
        *extra,
        F.size("__w").alias("n_words"),
        F.expr("aggregate(__w, 0L, (acc, t) -> acc + length(t))").alias(
            "__chars"
        ),
        F.expr(
            f"size(filter(__w, t -> array_contains(array({stop_arr}), t)))"
        ).alias("__n_stop"),
        F.expr("size(array_distinct(__w))").alias("__n_uniq"),
        F.expr(_top_count_expr("__w")).alias("__top_w"),
    )


_DUCK_MEASURES = """
      SELECT {id_col},{extra}
        len(__w) AS n_words,
        list_sum(list_transform(__w, t -> length(t))) AS __chars,
        len(list_filter(__w, t -> list_contains([{stop_arr}], t)))
          AS __n_stop,
        len(list_distinct(__w)) AS __n_uniq,
        {top_w} AS __top_w
      FROM w
"""


def _duck_measures_sql(id_col: str, *extra: str) -> str:
    stop_arr = ", ".join(f"'{s}'" for s in STOPWORDS)
    return _DUCK_MEASURES.format(
        id_col=id_col,
        extra=(" " + ", ".join(extra) + "," if extra else ""),
        stop_arr=stop_arr,
        top_w=_top_count_duck("__w"),
    )


def quality_filter(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """C4/Gopher-style rule filter. Emits one 0/1 column per rule plus
    ``keep`` (logical AND), so the drop *reason* is auditable:

    - ``r_word_count``: MIN_WORDS ≤ n_words ≤ MAX_WORDS
    - ``r_word_len``: MIN_AVG_WORD_LEN ≤ mean word length ≤ MAX_AVG_WORD_LEN
    - ``r_stopwords``: ≥ MIN_STOPWORDS stopword occurrences
    - ``r_unique``: unique-word ratio ≥ MIN_UNIQUE_RATIO
    - ``r_top_word``: top-word fraction ≤ MAX_TOP_WORD_FRACTION

    Flags are ints (not booleans) so the cross-engine value hash is
    representation-stable.
    """
    d = _measures(
        spread(docs, id_col).select(
            F.col(id_col), F.expr(_words_expr(text_col)).alias("__w")
        ),
        id_col,
    )
    rules = _rule_conditions()
    cols: list[Column] = [F.col(id_col), F.col("n_words")]
    for name, cond in rules.items():
        cols.append(F.expr(f"cast({cond} as int)").alias(name))
    keep = " AND ".join(rules.values())
    cols.append(F.expr(f"cast(({keep}) as int)").alias("keep"))
    return d.select(*cols)


def oracle_quality_filter_sql(
    source_sql: str = "SELECT doc_id, text FROM documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    rules = _rule_conditions()
    rule_cols = ",\n      ".join(
        f"CAST({cond} AS INTEGER) AS {name}" for name, cond in rules.items()
    )
    keep = " AND ".join(rules.values())
    return f"""
    WITH src AS ({source_sql}),
    w AS (
      SELECT {id_col},
             string_split({norm_text(text_col, "duck")}, ' ') AS __w
      FROM src
    ),
    d AS ({_duck_measures_sql(id_col)})
    SELECT {id_col}, n_words,
      {rule_cols},
      CAST(({keep}) AS INTEGER) AS keep
    FROM d
    """


def unigram_lm(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 256,
) -> DataFrame:
    """Corpus-derived unigram language-model quality score — the
    model-free stand-in for CCNet's KenLM perplexity filter (Wenzek et
    al. 2020, "CCNet: Extracting High Quality Monolingual Datasets from
    Web Crawl Data"): train a unigram LM on the corpus itself (token →
    count, vocabulary = top ``vocab_size`` tokens), then score each
    document by its mean in-vocabulary token probability. Output per
    document: ``n_tokens``, ``oov_count``, ``oov_ratio``, and ``score``
    = (Σ count(tok) for in-vocab toks) / (n_tokens · T) where T is the
    corpus token total — OOV tokens contribute zero mass, so junk text
    scores near 0 and stopword-dense prose scores high, the same
    ordering a perplexity filter produces. NULL text → all-NULL row;
    zero-token docs keep n_tokens = 0 with NULL ratios.

    Bit-exactness note (why no log-probs): ``ln`` is not an
    exactly-rounded IEEE op and diverges between the JVM and DuckDB on
    ~13% of inputs (measured), so the score stays in
    integer-sum-then-two-divisions form — integer sums are
    order-independent and each double division is correctly rounded,
    making the whole score bit-reproducible across engines and across
    partitionings. Monotonicity vs the log formulation differs (this is
    an arithmetic, not geometric, mean) but the filtering use is the
    same: threshold the low tail.

    100 TB shape: token counting is one explode + one groupBy(token)
    shuffle with map-side combine; the vocabulary and the scalar T are
    a codebook-sized driver pull (the train_centroids legitimacy
    class, ≤ vocab_size rows); scoring re-joins the exploded corpus to
    the BROADCAST vocabulary (never a shuffle of the token stream) and
    re-aggregates per document with partial aggregation — the
    decontaminate shape. The in-vocab mass accumulates in
    DECIMAL(38,0): a document's sum of counts is bounded by
    n_tokens · T ≈ 1e6 · 1e13 at the 100 TB envelope, past int64.

    The train and score stages are also exposed separately
    (:func:`unigram_lm_train` / :func:`unigram_lm_score`) so a
    pipeline can freeze the model on a reference corpus and score
    other corpora — or a STREAM — against it
    (:func:`~streamtasks_spark.streaming.stateful.
    streaming_unigram_lm`); this composite trains and scores the same
    corpus over one pinned tokenization.

    Cache note: the pinned tokenization (``base``) IS in the returned
    plan's lineage (the scoring scan reads it), so unlike the
    train-step ``counts`` pin it cannot be released here. Long-lived
    sessions invoking this repeatedly would accumulate one
    corpus-tokenization cache entry per call — bound the lifetime with
    :func:`~streamtasks_spark.llmdata.dedup.pin_scope` (r09, closing
    the r07 watch item)::

        with pin_scope():
            unigram_lm(docs).write.parquet(out)  # materialize inside

    and the pin is unpersisted on scope exit. The per-round harness
    additionally clears the cache between query families."""
    from streamtasks_spark.llmdata.dedup import pin

    base = pin(_tokenized(docs, id_col, text_col))
    vocab_rows, total = _unigram_train_on(base, vocab_size)
    return _unigram_score_on(base, docs.sparkSession, vocab_rows, total, id_col)


def _tokenized(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return spread(docs, id_col).select(
        F.col(id_col), F.expr(tokens_expr(text_col)).alias("__toks")
    )


def _ngram_tokenized(
    docs: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """Like :func:`_tokenized` but the scoring units are space-joined
    word n-grams: NULL text stays NULL (the all-NULL-row contract),
    a doc with fewer than ``n`` words yields an EMPTY array (zero
    scoring units → NULL ratios, the zero-token contract). The guard
    matters: Spark's ``sequence(0, size-n)`` with size < n would
    generate a DESCENDING sequence, not an empty one."""
    return (
        spread(docs, id_col)
        .select(F.col(id_col), F.expr(tokens_expr(text_col)).alias("__w"))
        .select(F.col(id_col), F.expr(ngrams_expr("__w", n)).alias("__toks"))
    )


def _unigram_train_on(
    base: DataFrame, vocab_size: int
) -> tuple[list[tuple[str, int]], int]:
    from streamtasks_spark.llmdata.dedup import pin

    counts = pin(
        base.select(F.explode("__toks").alias("__t"))
        .groupBy("__t")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    try:
        total = counts.agg(
            F.sum(F.col("__c").cast("decimal(38,0)")).alias("t")
        ).first()["t"]
        total = int(total) if total is not None else 0
        vocab_rows = (
            counts.orderBy(F.col("__c").desc(), F.col("__t").asc())
            .limit(vocab_size)
            .collect()
        )
    finally:
        # counts only feeds the two build-step driver pulls above and
        # is NOT in the returned plan's lineage — unpersist it here or
        # every call leaks a distinct-token-sized table into the cache
        # for the session lifetime (the similarity.py train-step rule:
        # "training is a build step; don't leak the pin"). The caller's
        # base stays pinned when it also feeds the scoring scan.
        counts.unpersist()
    return [(r["__t"], r["__c"]) for r in vocab_rows], total


def unigram_lm_train(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 256,
) -> tuple[list[tuple[str, int]], int]:
    """Train stage of :func:`unigram_lm` alone: returns the frozen
    model — ``(vocab, total)`` where ``vocab`` is the top
    ``vocab_size`` (token, count) list (count desc, token asc) and
    ``total`` the corpus token count. Driver-small (codebook-sized);
    feed it to :func:`unigram_lm_score` or the streaming twin."""
    return _unigram_train_on(_tokenized(docs, id_col, text_col), vocab_size)


def unigram_lm_score(
    docs: DataFrame,
    vocab: list[tuple[str, int]],
    total: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score stage of :func:`unigram_lm` against a FROZEN model from
    :func:`unigram_lm_train` — production quantizer semantics (the
    SemDedupIndex codebook rule): train once on a reference corpus,
    score any corpus or micro-batch against it without rescanning the
    reference. Stateless per document, so it applies unchanged inside
    ``foreachBatch``; same output schema and bit-identical values as
    the composite on identical rows."""
    return _unigram_score_on(
        _tokenized(docs, id_col, text_col),
        docs.sparkSession, vocab, total, id_col,
    )


def _unigram_score_on(
    base: DataFrame,
    spark,
    vocab_rows: list[tuple[str, int]],
    total: int,
    id_col: str,
) -> DataFrame:
    vocab = local_frame(spark, vocab_rows, "__t string, __c bigint")
    ex = base.select(
        F.col(id_col),
        F.col("__toks").isNull().alias("__nul"),
        F.explode_outer("__toks").alias("__t"),
    )
    per = (
        ex.join(F.broadcast(vocab), "__t", "left")
        .groupBy(id_col)
        .agg(
            F.max("__nul").alias("__nul"),
            F.count("__t").alias("__n"),
            F.sum(
                F.coalesce(F.col("__c"), F.lit(0)).cast("decimal(38,0)")
            ).alias("__s"),
            F.count(
                F.when(F.col("__t").isNotNull() & F.col("__c").isNull(), 1)
            ).alias("__oov"),
        )
    )
    nul = F.col("__nul")
    nz = nul | (F.col("__n") == 0)
    return per.select(
        F.col(id_col),
        F.when(~nul, F.col("__n")).alias("n_tokens"),
        F.when(~nul, F.col("__oov")).alias("oov_count"),
        F.when(
            ~nz,
            F.col("__oov").cast("double") / F.col("__n").cast("double"),
        ).alias("oov_ratio"),
        F.when(
            ~nz,
            (F.col("__s").cast("double") / F.col("__n").cast("double"))
            / F.lit(float(total) if total else None),
        ).alias("score"),
    )


def oracle_unigram_lm_sql(
    source_sql: str = "SELECT doc_id, text FROM documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 256,
) -> str:
    """DuckDB twin of :func:`unigram_lm` — same vocabulary tie-break
    (count desc, token asc: UTF-8 byte order ≡ codepoint order in both
    engines), same integer mass sums, same division sequence
    ``(Σc / n) / T`` so every double op is the identical correctly-
    rounded operation."""
    return _lm_sql_body(
        source_sql, id_col, tokens_expr(text_col, "duck"), vocab_size
    )


def _lm_sql_body(
    source_sql: str, id_col: str, toks_sql: str, vocab_size: int
) -> str:
    """The LM-scoring oracle body shared by :func:`oracle_unigram_lm_sql`
    and :func:`oracle_ngram_lm_sql` — the only difference between the
    twins is the ``__toks`` scoring-unit expression, so sharing the
    body keeps a NULL-handling or tie-break fix landing in both at
    once (the r07 copy-pasted-fragment lesson). Renders byte-identical
    SQL to the pre-refactor unigram oracle."""
    return f"""
    WITH src AS ({source_sql}),
    t AS (
      SELECT {id_col},
        {toks_sql} AS __toks
      FROM src
    ),
    ex AS (
      SELECT {id_col}, u.t AS __t
      FROM t, unnest(__toks) AS u(t)
    ),
    counts AS (
      SELECT __t, CAST(count(*) AS BIGINT) AS __c FROM ex GROUP BY __t
    ),
    total AS (
      SELECT CAST(coalesce(sum(__c), 0) AS DOUBLE) AS __T FROM counts
    ),
    vocab AS (
      SELECT __t, __c FROM counts
      ORDER BY __c DESC, __t ASC LIMIT {vocab_size}
    ),
    scored AS (
      SELECT ex.{id_col},
        CAST(count(*) AS BIGINT) AS __n,
        CAST(sum(coalesce(v.__c, 0)) AS DOUBLE) AS __s,
        CAST(sum(CASE WHEN v.__t IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS __oov
      FROM ex LEFT JOIN vocab v ON ex.__t = v.__t
      GROUP BY ex.{id_col}
    ),
    -- one row per DISTINCT id, like Spark's groupBy(id): a duplicated
    -- id merges its rows' token streams, and any NULL-text row among
    -- them NULLs the whole output row (bool_or ≡ Spark's max(__nul)).
    -- Without this the final join emitted one row per SOURCE row and
    -- diverged from the engine on non-unique ids (r07 review finding).
    -- The join below is NULL-safe (IS NOT DISTINCT FROM): Spark's
    -- groupBy treats NULL ids as one ordinary group, but a plain
    -- equi-join never matches NULL = NULL, so a NULL-id document would
    -- join-miss its own scored row and emit (NULL, 0, NULL, NULL)
    -- where the engine emits its real counts (r07 advisor finding).
    tg AS (
      SELECT {id_col}, bool_or(__toks IS NULL) AS __nul
      FROM t GROUP BY {id_col}
    )
    SELECT tg.{id_col},
      CASE WHEN tg.__nul THEN NULL
           ELSE coalesce(s.__n, 0) END AS n_tokens,
      CASE WHEN tg.__nul THEN NULL
           ELSE coalesce(s.__oov, 0) END AS oov_count,
      CASE WHEN tg.__nul OR s.__n IS NULL THEN NULL
           ELSE CAST(s.__oov AS DOUBLE) / CAST(s.__n AS DOUBLE)
      END AS oov_ratio,
      CASE WHEN tg.__nul OR s.__n IS NULL THEN NULL
           ELSE (s.__s / CAST(s.__n AS DOUBLE))
                / (SELECT __T FROM total)
      END AS score
    FROM tg LEFT JOIN scored s
      ON tg.{id_col} IS NOT DISTINCT FROM s.{id_col}
    """


def ngram_lm(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    vocab_size: int = 256,
) -> DataFrame:
    """:func:`unigram_lm` generalized to word n-gram scoring units
    (default bigrams) — the contextual-fluency step of the CCNet-style
    quality ladder: word-salad whose unigrams are all plausible still
    scores near zero here, because its ADJACENT PAIRS never recur in
    the corpus. Train = top ``vocab_size`` n-grams by corpus count;
    score = mean in-vocabulary n-gram mass, the same
    integer-sum-then-two-divisions form (and the same no-``ln``
    bit-exactness rationale) as the unigram scorer. Output schema is
    identical (``n_tokens`` counts n-gram units); NULL text → all-NULL
    row, a doc with fewer than ``n`` words has zero units → NULL
    ratios.

    This is the joint-probability (arithmetic-mean) variant, not a
    conditional P(w₂|w₁) chain: per-unit CONDITIONAL probabilities
    are ratios with per-unit denominators, and summing those fractions
    cross-engine would reintroduce exactly the order-dependent double
    accumulation the integer-mass design exists to avoid. Monotone for
    the filtering use (threshold the low tail).

    100 TB shape: identical to unigram_lm — one explode + one
    groupBy(gram) shuffle with map-side combine for training, a
    codebook-sized driver pull, broadcast-vocab scoring with partial
    re-aggregation per doc; the n-gram expansion is NARROW (a
    transform over the already-split token array). Same pin caveat:
    bound long-lived sessions with
    :func:`~streamtasks_spark.llmdata.dedup.pin_scope`."""
    from streamtasks_spark.llmdata.dedup import pin

    if n < 1:
        raise ValueError(f"ngram_lm: n must be >= 1, got {n}")
    base = pin(_ngram_tokenized(docs, id_col, text_col, n))
    vocab_rows, total = _unigram_train_on(base, vocab_size)
    return _unigram_score_on(base, docs.sparkSession, vocab_rows, total, id_col)


def ngram_lm_train(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    vocab_size: int = 256,
) -> tuple[list[tuple[str, int]], int]:
    """Train stage of :func:`ngram_lm` alone — the frozen
    ``(vocab, total)`` model over n-gram units, driver-small; feed it
    to :func:`ngram_lm_score` or the streaming twin."""
    if n < 1:
        raise ValueError(f"ngram_lm: n must be >= 1, got {n}")
    return _unigram_train_on(
        _ngram_tokenized(docs, id_col, text_col, n), vocab_size
    )


def ngram_lm_score(
    docs: DataFrame,
    vocab: list[tuple[str, int]],
    total: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Score stage of :func:`ngram_lm` against a FROZEN model from
    :func:`ngram_lm_train` — same frozen-model purity contract as
    :func:`unigram_lm_score` (a doc's score is a pure function of its
    text and the model), so it drops into ``foreachBatch`` unchanged."""
    if n < 1:
        raise ValueError(f"ngram_lm: n must be >= 1, got {n}")
    return _unigram_score_on(
        _ngram_tokenized(docs, id_col, text_col, n),
        docs.sparkSession, vocab, total, id_col,
    )


def oracle_ngram_lm_sql(
    source_sql: str = "SELECT doc_id, text FROM documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    vocab_size: int = 256,
) -> str:
    """DuckDB twin of :func:`ngram_lm` — the shared LM body over the
    n-gram scoring-unit expression (same <n-words → empty list, NULL →
    NULL contract; DuckDB's ``range`` is end-exclusive so the
    empty-vs-descending sequence hazard is Spark-side only, but the
    CASE guard is kept structurally identical)."""
    grams = ngrams_expr(tokens_expr(text_col, "duck"), n, "duck")
    return _lm_sql_body(source_sql, id_col, grams, vocab_size)


def dsir_weights(
    docs: DataFrame,
    *,
    target_pred: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
) -> DataFrame:
    """DSIR-style importance weights for targeted data selection (Xie
    et al. 2023, "Data Selection for Language Models via Importance
    Resampling"): split the corpus into a TARGET domain (rows where
    the SQL predicate ``target_pred`` holds — e.g. ``"lang = 'en'"``,
    a trusted source, a quality flag) and RAW (the rest), model both
    with add-one-smoothed hashed unigram distributions over
    ``n_buckets`` md5-prefix feature buckets (the
    :func:`~streamtasks_spark.llmdata.textstats.hashed_tf_embed`
    hashing-trick family), and score every document by how target-like
    its tokens are. Output per document: ``n_tokens``,
    ``target_mass`` = Σ_tok (c_t(bucket)+1), ``raw_mass`` = the raw
    twin, and ``weight`` = (target_mass/(T_t+B)) / (raw_mass/(T_r+B))
    — a ratio of mean smoothed token probabilities under the two
    models. weight > 1 reads "more target-like than raw-like";
    resample ∝ weight (:func:`mix_sample` / :func:`stratified_sample`
    downstream) to shift a raw corpus toward the target domain, the
    paper's selection recipe. NULL text → all-NULL row; zero-token
    docs keep n_tokens = 0 with NULL masses/weight; duplicated ids
    merge their token streams (one output row per distinct id, the
    :func:`unigram_lm` contract).

    Bit-exactness (the unigram_lm recipe): the paper scores in
    log-space, but ``ln`` is not exactly rounded and diverges
    JVM-vs-DuckDB on ~13% of inputs (measured, SCALE.md), so the
    weight here is the ARITHMETIC-mean likelihood ratio — integer
    bucket-count sums in DECIMAL(38,0) (order-independent), then three
    correctly-rounded double divisions in pinned order. The induced
    ranking differs from the geometric mean's, but the selection use
    is the same: threshold or sample on the high tail. Smoothing is
    add-one per bucket, so raw_mass ≥ n_tokens > 0 and the weight is
    never NULL/∞ on a tokenized doc.

    100 TB shape: training is ONE explode + groupBy(bucket) shuffle
    with map-side combine down to ≤ ``n_buckets`` rows, pulled to the
    driver (the codebook legitimacy class — same as unigram_lm's
    vocabulary and train_centroids); scoring re-joins the exploded
    corpus to the BROADCAST bucket table and re-aggregates per
    document with partial aggregation (the decontaminate shape — the
    token stream is never shuffled by token). The reference repo has
    no data-selection op; this extends the LLM-data tier beside
    unigram_lm (perplexity-style filtering) with the importance-
    resampling family. Train and score are also exposed separately
    (:func:`dsir_train` / :func:`dsir_score`) so a pipeline can freeze
    the two models on a reference corpus and weigh other corpora — or
    a STREAM (:func:`~streamtasks_spark.streaming.stateful.
    streaming_dsir_weights`) — against them; this composite trains and
    scores the same corpus."""
    from streamtasks_spark.llmdata.dedup import pin

    base = pin(_dsir_base(docs, target_pred, id_col, text_col))
    counts, t_t, t_r = _dsir_train_on(base, n_buckets)
    return _dsir_score_on(
        base, docs.sparkSession, counts, t_t, t_r, id_col, n_buckets
    )


def _bucket_expr(n_buckets: int) -> str:
    return (
        f"pmod(cast(conv(substring(md5(__t), 1, 7), 16, 10) as bigint), "
        f"{n_buckets})"
    )


def _dsir_base(
    docs: DataFrame, target_pred: str, id_col: str, text_col: str
) -> DataFrame:
    return spread(docs, id_col).select(
        F.col(id_col),
        F.coalesce(F.expr(target_pred), F.lit(False)).alias("__tgt"),
        F.expr(tokens_expr(text_col)).alias("__toks"),
    )


def _dsir_train_on(
    base: DataFrame, n_buckets: int
) -> tuple[list[tuple[int, int, int]], int, int]:
    from streamtasks_spark.llmdata.dedup import pin

    counts = pin(
        base.select("__tgt", F.explode("__toks").alias("__t"))
        .select("__tgt", F.expr(_bucket_expr(n_buckets)).alias("__b"))
        .groupBy("__b")
        .agg(
            F.count(F.when(F.col("__tgt"), 1)).alias("__ct"),
            F.count(F.when(~F.col("__tgt"), 1)).alias("__cr"),
        )
    )
    try:
        from streamtasks_spark.llmdata.dedup import bounded_collect

        # ≤ n_buckets rows (codebook-class): bound ENFORCED
        rows = bounded_collect(counts, n_buckets, "dsir_train buckets")
    finally:
        # counts only feeds the driver pull; not in the returned
        # plan's lineage (the unigram_lm train-step rule)
        counts.unpersist()
    t_t = sum(r["__ct"] for r in rows) + n_buckets
    t_r = sum(r["__cr"] for r in rows) + n_buckets
    return [(r["__b"], r["__ct"], r["__cr"]) for r in rows], t_t, t_r


def dsir_train(
    docs: DataFrame,
    *,
    target_pred: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
) -> tuple[list[tuple[int, int, int]], int, int]:
    """Train stage of :func:`dsir_weights` alone: returns the frozen
    model — ``(counts, t_t, t_r)`` where ``counts`` is the
    (bucket, target_count, raw_count) list and ``t_x`` the smoothed
    totals (token total + n_buckets). Driver-small (≤ n_buckets
    rows); feed it to :func:`dsir_score` or the streaming twin with
    the SAME ``n_buckets``."""
    return _dsir_train_on(
        _dsir_base(docs, target_pred, id_col, text_col), n_buckets
    )


def dsir_score(
    docs: DataFrame,
    counts: list[tuple[int, int, int]],
    t_t: int,
    t_r: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
) -> DataFrame:
    """Score stage of :func:`dsir_weights` against a FROZEN model from
    :func:`dsir_train` — production selection semantics: model target
    and raw once on reference corpora, weigh any corpus or micro-batch
    without rescanning them. Stateless per document (applies unchanged
    inside ``foreachBatch``); same schema and bit-identical values as
    the composite on identical rows. The scored docs need no
    ``target_pred`` column — a document's weight never depends on its
    own domain label."""
    return _dsir_score_on(
        spread(docs, id_col).select(
            F.col(id_col), F.expr(tokens_expr(text_col)).alias("__toks")
        ),
        docs.sparkSession, counts, t_t, t_r, id_col, n_buckets,
    )


def _dsir_score_on(
    base: DataFrame,
    spark,
    counts: list[tuple[int, int, int]],
    t_t: int,
    t_r: int,
    id_col: str,
    n_buckets: int,
) -> DataFrame:
    bdf = local_frame(spark, counts, "__b bigint, __ct bigint, __cr bigint")
    ex = base.select(
        F.col(id_col),
        F.col("__toks").isNull().alias("__nul"),
        F.explode_outer("__toks").alias("__t"),
    ).select(
        id_col, "__nul",
        F.expr(
            f"if(__t is null, null, {_bucket_expr(n_buckets)})"
        ).alias("__b"),
    )
    per = (
        ex.join(F.broadcast(bdf), "__b", "left")
        .groupBy(id_col)
        .agg(
            F.max("__nul").alias("__nul"),
            F.count("__b").alias("__n"),
            F.sum(
                (F.coalesce(F.col("__ct"), F.lit(0)) + F.lit(1))
                .cast("decimal(38,0)")
            ).alias("__st"),
            F.sum(
                (F.coalesce(F.col("__cr"), F.lit(0)) + F.lit(1))
                .cast("decimal(38,0)")
            ).alias("__sr"),
        )
    )
    nul = F.col("__nul")
    nz = nul | (F.col("__n") == 0)
    st = F.col("__st").cast("double")
    sr = F.col("__sr").cast("double")
    return per.select(
        F.col(id_col),
        F.when(~nul, F.col("__n")).alias("n_tokens"),
        F.when(~nz, st).alias("target_mass"),
        F.when(~nz, sr).alias("raw_mass"),
        F.when(
            ~nz,
            (st / F.lit(float(t_t))) / (sr / F.lit(float(t_r))),
        ).alias("weight"),
    )


def oracle_dsir_weights_sql(
    source_sql: str = "SELECT doc_id, text, lang FROM documents",
    *,
    target_pred: str = "lang = 'en'",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
) -> str:
    """DuckDB twin of :func:`dsir_weights` — identical md5-prefix
    bucketing, identical smoothed integer mass sums (HUGEINT is exact;
    the cast to DOUBLE is the same correctly-rounded conversion as
    Spark's DECIMAL(38,0) → double), identical division order. The
    final join is NULL-safe: a NULL id is one ordinary group (the
    oracle_unigram_lm_sql lesson)."""
    return f"""
    WITH src AS ({source_sql}),
    t AS (
      SELECT {id_col},
        coalesce(({target_pred}), false) AS __tgt,
        {tokens_expr(text_col, "duck")} AS __toks
      FROM src
    ),
    ex AS (
      SELECT {id_col}, __tgt,
        cast('0x' || substr(md5(u.t), 1, 7) AS BIGINT) % {n_buckets} AS __b
      FROM t, unnest(__toks) AS u(t)
    ),
    counts AS (
      SELECT __b,
        CAST(count(*) FILTER (__tgt) AS BIGINT) AS __ct,
        CAST(count(*) FILTER (NOT __tgt) AS BIGINT) AS __cr
      FROM ex GROUP BY __b
    ),
    tot AS (
      SELECT
        CAST(coalesce(sum(__ct), 0) + {n_buckets} AS DOUBLE) AS __tt,
        CAST(coalesce(sum(__cr), 0) + {n_buckets} AS DOUBLE) AS __tr
      FROM counts
    ),
    scored AS (
      SELECT ex.{id_col},
        CAST(count(*) AS BIGINT) AS __n,
        CAST(sum(c.__ct + 1) AS DOUBLE) AS __st,
        CAST(sum(c.__cr + 1) AS DOUBLE) AS __sr
      FROM ex LEFT JOIN counts c USING (__b)
      GROUP BY ex.{id_col}
    ),
    tg AS (
      SELECT {id_col}, bool_or(__toks IS NULL) AS __nul
      FROM t GROUP BY {id_col}
    )
    SELECT tg.{id_col},
      CASE WHEN tg.__nul THEN NULL
           ELSE coalesce(s.__n, 0) END AS n_tokens,
      CASE WHEN tg.__nul OR s.__n IS NULL THEN NULL
           ELSE s.__st END AS target_mass,
      CASE WHEN tg.__nul OR s.__n IS NULL THEN NULL
           ELSE s.__sr END AS raw_mass,
      CASE WHEN tg.__nul OR s.__n IS NULL THEN NULL
           ELSE (s.__st / (SELECT __tt FROM tot))
                / (s.__sr / (SELECT __tr FROM tot))
      END AS weight
    FROM tg LEFT JOIN scored s
      ON tg.{id_col} IS NOT DISTINCT FROM s.{id_col}
    """


# ----------------------------------------------------- importance_resample

def importance_resample(
    docs: DataFrame,
    *,
    target_pred: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    rate: float = 0.5,
    salt: str = "resample",
) -> DataFrame:
    """The SELECTION step of DSIR (NEW r09): :func:`dsir_weights` ends
    with a weight per document; this op actually draws the shifted
    corpus — keep document i with probability
    ``p_keep = min(1, rate · weight_i)``, so target-like documents
    survive proportionally more often and ``rate`` tunes the expected
    kept fraction. The coin is a DETERMINISTIC hash of
    (``salt``, id): u = md5-28-bit-prefix / 2^28, keep iff
    ``u < p_keep`` — reproducible across engines, runs, and
    partitionings (no RNG state), and a re-run with a different salt
    draws an independent sample. Output: kept rows only, with
    (``id``, ``n_tokens``, ``weight``, ``p_keep``, ``u``) so the
    decision is auditable. Unscorable documents (NULL text /
    zero-token → NULL weight) and NULL ids (no stable coin) are never
    sampled — both engines drop them identically.

    This is Poisson (independent-coin) importance sampling — the
    streaming/sharded variant of the paper's Gumbel top-k
    sample-WITHOUT-replacement (Xie et al. 2023, §3): top-k needs a
    global sort by a perturbed score, Bernoulli thinning needs NO
    coordination and yields the same importance-weighted expectation
    with a random (binomial) sample size; at pipeline scale the fixed
    budget is usually re-imposed downstream by :func:`mix_sample`
    quotas anyway. Exactness note: u is a dyadic rational (28-bit
    integer / 2^28) and p_keep one double multiply of the bit-exact
    dsir weight, so the comparison — and therefore the SAMPLE ITSELF —
    is bit-reproducible cross-engine (the integer-sums +
    correctly-rounded-division recipe carried one step further).

    100 TB shape: a per-row projection + filter ON TOP of dsir scoring
    — zero shuffles beyond :func:`dsir_weights`' one explode +
    groupBy(bucket) train shuffle and broadcast-scored re-aggregation;
    the kept fraction never changes the plan shape."""
    w = dsir_weights(
        docs,
        target_pred=target_pred,
        id_col=id_col,
        text_col=text_col,
        n_buckets=n_buckets,
    )
    return _resample_filter(w, id_col, rate, salt)


def _resample_filter(
    w: DataFrame, id_col: str, rate: float, salt: str
) -> DataFrame:
    """The deterministic coin + keep filter over a weights frame (any
    frame with a ``weight`` column — the composite's dsir_weights
    output or a frozen-model dsir_score batch). Pure per-row: this is
    what makes the kept set independent of batching, and the streaming
    twin a one-liner."""
    u = F.expr(
        f"cast(conv(substring(md5(concat('{salt}-', "
        f"cast({id_col} as string))), 1, 7), 16, 10) as bigint)"
    ) / F.lit(float(1 << 28))
    return (
        w.filter(F.col("weight").isNotNull() & F.col(id_col).isNotNull())
        .withColumn("u", u)
        .withColumn(
            "p_keep",
            F.least(F.lit(1.0), F.lit(float(rate)) * F.col("weight")),
        )
        .filter(F.col("u") < F.col("p_keep"))
        .select(id_col, "n_tokens", "weight", "p_keep", "u")
    )


def importance_resample_score(
    docs: DataFrame,
    counts: list[tuple[int, int, int]],
    t_t: int,
    t_r: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    rate: float = 0.5,
    salt: str = "resample",
) -> DataFrame:
    """Frozen-model variant of :func:`importance_resample` — score
    against a model from :func:`dsir_train` (production selection
    semantics: the models never move under already-drawn documents)
    and apply the same deterministic coin. This is the per-micro-batch
    body of :func:`~streamtasks_spark.streaming.stateful.
    streaming_importance_resample`; because both the weight and the
    coin are pure functions of the document and the frozen model, the
    union of per-batch kept sets equals this batch call over the same
    rows, bit-exactly."""
    w = dsir_score(
        docs, counts, t_t, t_r,
        id_col=id_col, text_col=text_col, n_buckets=n_buckets,
    )
    return _resample_filter(w, id_col, rate, salt)


def oracle_importance_resample_sql(
    source_sql: str = "SELECT doc_id, text, lang FROM documents",
    *,
    target_pred: str = "lang = 'en'",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    rate: float = 0.5,
    salt: str = "resample",
) -> str:
    """DuckDB twin of :func:`importance_resample` — the dsir oracle
    composed with the identical hash coin and one double multiply, so
    the kept SET (not just its statistics) matches bit-for-bit."""
    inner = oracle_dsir_weights_sql(
        source_sql,
        target_pred=target_pred,
        id_col=id_col,
        text_col=text_col,
        n_buckets=n_buckets,
    )
    u = (
        f"cast('0x' || substr(md5('{salt}-' || cast({id_col} AS varchar)), "
        f"1, 7) AS BIGINT) / {float(1 << 28)!r}"
    )
    return f"""
    WITH w AS ({inner}),
    s AS (
      SELECT {id_col}, n_tokens, weight,
        least(1.0, {float(rate)!r} * weight) AS p_keep,
        {u} AS u
      FROM w
      WHERE weight IS NOT NULL AND {id_col} IS NOT NULL
    )
    SELECT {id_col}, n_tokens, weight, p_keep, u
    FROM s WHERE u < p_keep
    """


def source_stats(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source corpus audit: doc count, quality-filter keep rate, mean
    word count and mean unique-word ratio. Rules are computed inline in
    the same scan (no self-join); the single groupBy on the
    low-cardinality source key does its heavy lifting map-side, so the
    shuffle carries one row per (task, source)."""
    d = _measures(
        spread(docs, id_col).select(
            F.col(id_col),
            F.col(source_col),
            F.expr(_words_expr(text_col)).alias("__w"),
        ),
        id_col,
        source_col,
    )
    keep = " AND ".join(_rule_conditions().values())
    d = d.select(
        source_col,
        "n_words",
        F.expr(f"cast(({keep}) as int)").alias("__keep"),
        (F.col("__n_uniq").cast("double") / F.col("n_words").cast("double"))
        .alias("__uniq_ratio"),
    )
    return d.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__keep").alias("n_kept"),
        F.round(F.avg(F.col("__keep").cast("double")), 6).alias("keep_rate"),
        F.round(F.avg(F.col("n_words").cast("double")), 6).alias("avg_words"),
        # keep_rate/avg_words average INTEGER-valued doubles — their
        # sums are exact in any order (and stay below the 2^53 double
        # integer edge through the 100 TB envelope). The uniqueness
        # ratio is a true double per doc, so its mean accumulates in
        # nano-units with half-up integer rounding to 6 dp — the
        # double-avg partition-order drift class the r05 fuzz caught
        # in q2 (preempted here). The accumulator is DECIMAL(38,0):
        # per-source doc counts grow with the corpus, and a BIGINT sum
        # of 1e9-scale terms overflows near 1e10 docs per source
        # (the r06 ADVICE class: fatal under ANSI, silent wrap without); the div quotient is a mean
        # (~1e6) so the BIGINT quotient is always safe. DuckDB's
        # sum(BIGINT)→HUGEINT oracle is exact as-is.
        (
            F.expr(
                "(sum(cast(cast(floor(__uniq_ratio * 1000000000 + 0.5) "
                "as bigint) as decimal(38,0))) + count(*) * 500) "
                "div (count(*) * 1000)"
            ).cast("double")
            / 1000000.0
        ).alias("avg_unique_ratio"),
    )


def oracle_source_stats_sql(
    source_sql: str = "SELECT doc_id, text, source FROM documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> str:
    keep = " AND ".join(_rule_conditions().values())
    return f"""
    WITH src AS ({source_sql}),
    w AS (
      SELECT {id_col}, {source_col},
             string_split({norm_text(text_col, "duck")}, ' ') AS __w
      FROM src
    ),
    d AS ({_duck_measures_sql(id_col, source_col)}),
    k AS (
      SELECT {source_col}, n_words,
        CAST(({keep}) AS INTEGER) AS __keep,
        __n_uniq / CAST(n_words AS DOUBLE) AS __uniq_ratio
      FROM d
    )
    SELECT {source_col},
      count(*) AS n_docs,
      CAST(sum(__keep) AS BIGINT) AS n_kept,
      round(avg(CAST(__keep AS DOUBLE)), 6) AS keep_rate,
      round(avg(CAST(n_words AS DOUBLE)), 6) AS avg_words,
      CAST((sum(CAST(floor(__uniq_ratio * 1000000000 + 0.5) AS BIGINT))
            + count(*) * 500) // (count(*) * 1000) AS DOUBLE)
        / 1000000.0 AS avg_unique_ratio
    FROM k
    GROUP BY {source_col}
    """
