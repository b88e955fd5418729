"""Text analysis operators for LLM training-data pipelines.

- :func:`text_stats` — token counts (whitespace + BPE-ish regex),
  punctuation/stopword ratios, and a composed quality score.
- :func:`lang_id` — marker-stopword language scoring (n-gram-free
  heuristic: count hits per language marker set, argmax with a
  deterministic tie order).
- :func:`doc_fingerprint` — winnowing fingerprint (char k-gram rolling
  hashes, min per sliding window, distinct selected hashes) — the
  standard local fingerprint for plagiarism/near-dup detection
  (Schleimer, Wilkerson, Aiken: "Winnowing: Local Algorithms for
  Document Fingerprinting", SIGMOD'03).

All pure JVM-side Column expressions (no UDFs): narrow per-row maps, no
shuffles — the 100 TB shape is a single scan. Each operator has an
``oracle_*_sql`` twin reproducing it in DuckDB (explicit character
classes everywhere, since Java regex and RE2 differ at the margins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streamtasks_spark.llmdata.dedup import (
    ngrams_expr,
    norm_text,
    pin,
    spread,
    tokens_expr,
)

# BPE-ish token regex: word runs OR single non-word-non-space symbols.
# Explicit classes keep Java regex and RE2 in exact agreement.
_TOKEN_RE_SPARK = "[A-Za-z0-9_]+|[^A-Za-z0-9_ ]"
_TOKEN_RE_DUCK = "[A-Za-z0-9_]+|[^A-Za-z0-9_ ]"
_PUNCT_RE = "[^A-Za-z0-9_ ]"

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it", "for", "on")

LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "is"),
    "fr": ("le", "la", "les", "et", "une", "dans"),
    "es": ("el", "los", "y", "que", "una", "por"),
    "de": ("der", "die", "das", "und", "ist", "nicht"),
}

FP_K = 8  # winnowing char-gram size
FP_W = 4  # winnowing window


def text_stats(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document stats + quality score over normalized text."""
    norm = norm_text(text_col, "spark")
    stop_arr = ", ".join(f"'{s}'" for s in STOPWORDS)
    d = spread(docs, id_col).select(
        F.col(id_col),
        F.expr(norm).alias("__n"),
    ).select(
        F.col(id_col),
        F.length("__n").alias("n_chars"),
        F.expr("split(__n, ' ')").alias("__toks"),
        F.expr(f"regexp_count(__n, '{_TOKEN_RE_SPARK}')").alias("n_bpe_tokens"),
        F.expr(f"regexp_count(__n, '{_PUNCT_RE}')").alias("n_punct"),
    )
    d = d.select(
        id_col,
        "n_chars",
        F.size("__toks").alias("n_tokens"),
        "n_bpe_tokens",
        "n_punct",
        F.expr(
            "aggregate(__toks, 0L, (acc, t) -> acc + length(t))"
        ).alias("__tok_chars"),
        F.expr(
            f"size(filter(__toks, t -> array_contains(array({stop_arr}), t)))"
        ).alias("n_stopwords"),
    )
    n_tokens_d = F.col("n_tokens").cast("double")
    # nullif guard: an empty/whitespace-only doc normalizes to n_chars=0
    # and ANSI mode makes the ratio a DIVIDE_BY_ZERO error, not ±inf.
    # NULL ratios (and a NULL quality_score) are the contract for empty
    # docs — mirrored with nullif in the DuckDB oracle. n_tokens needs
    # no guard: split('', ' ') = [''] on both engines, so it is ≥ 1.
    n_chars_d = F.expr("cast(nullif(n_chars, 0) as double)")
    return d.select(
        id_col,
        "n_chars",
        "n_tokens",
        "n_bpe_tokens",
        "n_punct",
        "n_stopwords",
        F.round(F.col("__tok_chars") / n_tokens_d, 6).alias("avg_token_len"),
        F.round(F.col("n_punct") / n_chars_d, 6).alias("punct_ratio"),
        F.round(F.col("n_stopwords") / n_tokens_d, 6).alias("stopword_ratio"),
        F.round(
            F.least(F.lit(1.0), n_tokens_d / F.lit(50.0))
            * (F.lit(1.0) - F.least(F.lit(0.5), F.col("n_punct") / n_chars_d))
            * (F.lit(0.5) + F.least(F.lit(0.5), F.col("n_stopwords") / n_tokens_d * F.lit(2.0))),
            6,
        ).alias("quality_score"),
    )


def oracle_text_stats_sql(
    source_sql: str = "SELECT doc_id, text FROM documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    stop_arr = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
    WITH src AS ({source_sql}),
    n AS (SELECT {id_col}, {norm_text(text_col, "duck")} AS __n FROM src),
    d AS (
      SELECT {id_col},
        length(__n) AS n_chars,
        string_split(__n, ' ') AS __toks,
        len(regexp_extract_all(__n, '{_TOKEN_RE_DUCK}')) AS n_bpe_tokens,
        len(regexp_extract_all(__n, '{_PUNCT_RE}')) AS n_punct
      FROM n
    ),
    e AS (
      SELECT {id_col}, n_chars, len(__toks) AS n_tokens, n_bpe_tokens, n_punct,
        list_sum(list_transform(__toks, t -> length(t))) AS __tok_chars,
        len(list_filter(__toks, t -> list_contains([{stop_arr}], t)))
          AS n_stopwords
      FROM d
    )
    SELECT {id_col}, n_chars, n_tokens, n_bpe_tokens, n_punct, n_stopwords,
      round(__tok_chars / CAST(n_tokens AS DOUBLE), 6) AS avg_token_len,
      round(n_punct / CAST(nullif(n_chars, 0) AS DOUBLE), 6) AS punct_ratio,
      round(n_stopwords / CAST(n_tokens AS DOUBLE), 6) AS stopword_ratio,
      round(
        least(1.0, n_tokens / 50.0)
        * (1.0 - least(0.5, n_punct / CAST(nullif(n_chars, 0) AS DOUBLE)))
        * (0.5 + least(0.5, n_stopwords / CAST(n_tokens AS DOUBLE) * 2.0)),
        6) AS quality_score
    FROM e
    """


def lang_id(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Marker-stopword language id: hits per language marker set over the
    token list; argmax with deterministic tie order (dict order);
    'unknown' when no marker hits at all. Output: (id, pred_lang,
    lang_score = hits/n_tokens)."""
    norm = norm_text(text_col, "spark")
    d = spread(docs, id_col).select(
        F.col(id_col), F.expr(f"split({norm}, ' ')").alias("__toks")
    )
    for lang, markers in LANG_MARKERS.items():
        arr = ", ".join(f"'{m}'" for m in markers)
        d = d.withColumn(
            f"__s_{lang}",
            F.expr(f"size(filter(__toks, t -> array_contains(array({arr}), t)))"),
        )
    langs = list(LANG_MARKERS)
    best = F.greatest(*[F.col(f"__s_{lang}") for lang in langs])
    pred = F.lit("unknown")
    for lang in reversed(langs):  # earlier languages win ties
        pred = F.when(F.col(f"__s_{lang}") == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("unknown"))
    return d.select(
        id_col,
        pred.alias("pred_lang"),
        F.round(
            best.cast("double") / F.size("__toks").cast("double"), 6
        ).alias("lang_score"),
    )


def oracle_lang_id_sql(
    source_sql: str = "SELECT doc_id, text FROM documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    score_exprs = ",\n        ".join(
        f"len(list_filter(__toks, t -> list_contains(["
        + ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        + f"], t))) AS __s_{lang}"
        for lang in LANG_MARKERS
    )
    langs = list(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"__s_{lang}" for lang in langs) + ")"
    pred = "'unknown'"
    for lang in reversed(langs):
        pred = f"CASE WHEN __s_{lang} = __best THEN '{lang}' ELSE {pred} END"
    return f"""
    WITH src AS ({source_sql}),
    d AS (
      SELECT {id_col},
             string_split({norm_text(text_col, "duck")}, ' ') AS __toks
      FROM src
    ),
    s AS (
      SELECT {id_col}, __toks,
        {score_exprs}
      FROM d
    ),
    b AS (SELECT *, {best} AS __best FROM s)
    SELECT {id_col},
      CASE WHEN __best > 0 THEN {pred} ELSE 'unknown' END AS pred_lang,
      round(CAST(__best AS DOUBLE) / CAST(len(__toks) AS DOUBLE), 6)
        AS lang_score
    FROM b
    """


def doc_fingerprint(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = FP_K,
    w: int = FP_W,
) -> DataFrame:
    """Winnowing fingerprint: hash all char k-grams of the normalized
    text, take the min hash of each w-sized sliding window, keep the
    distinct selected hashes. Output: (id, n_fingerprints, fingerprint =
    md5 of the sorted selected hashes) — equal fingerprints ⇒ documents
    share their winnowed sketch."""
    norm = norm_text(text_col, "spark")
    grams = f"transform(sequence(1, length(__n) - {k - 1}), i -> substring(__n, i, {k}))"
    hashes = (
        f"transform({grams}, g -> cast(conv(substring(md5(g), 1, 7), 16, 10) as bigint))"
    )
    mins = f"transform(sequence(1, size(__h) - {w - 1}), j -> array_min(slice(__h, j, {w})))"
    return (
        spread(docs, id_col)
        .select(F.col(id_col), F.expr(norm).alias("__n"))
        .filter(F.length("__n") >= k + w - 1)
        .select(F.col(id_col), F.expr(hashes).alias("__h"))
        .select(
            F.col(id_col),
            F.expr(f"array_sort(array_distinct({mins}))").alias("__fp"),
        )
        .select(
            F.col(id_col),
            F.size("__fp").alias("n_fingerprints"),
            F.expr(
                "md5(array_join(transform(__fp, x -> cast(x as string)), '-'))"
            ).alias("fingerprint"),
        )
    )


def oracle_doc_fingerprint_sql(
    source_sql: str = "SELECT doc_id, text FROM documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = FP_K,
    w: int = FP_W,
) -> str:
    return f"""
    WITH src AS ({source_sql}),
    n AS (
      SELECT {id_col}, {norm_text(text_col, "duck")} AS __n FROM src
    ),
    h AS (
      SELECT {id_col},
        list_transform(
          list_transform(range(1, length(__n) - {k - 1} + 1),
                         i -> substr(__n, i, {k})),
          g -> cast('0x' || substr(md5(g), 1, 7) AS BIGINT)) AS __h
      FROM n WHERE length(__n) >= {k + w - 1}
    ),
    fp AS (
      SELECT {id_col},
        list_sort(list_distinct(
          list_transform(range(1, len(__h) - {w - 1} + 1),
                         j -> list_min(__h[j:j + {w - 1}])))) AS __fp
      FROM h
    )
    SELECT {id_col}, len(__fp) AS n_fingerprints,
           md5(array_to_string(__fp, '-')) AS fingerprint
    FROM fp
    """


# ------------------------------------------------------------- vocab

def vocab_topk(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 100,
) -> DataFrame:
    """Corpus token vocabulary: the ``k`` most frequent whitespace
    tokens with counts and document frequency — the first pass of
    tokenizer/vocab construction over a training corpus.

    Ordering is fully deterministic: (count desc, token asc).

    100 TB shape: explode → ONE shuffle on the token with map-side
    partial counts (token cardinality ≪ token occurrences), then the
    global top-k plans as TakeOrderedAndProject — per-partition heaps of
    k rows, never a global sort of the vocabulary. Document frequency
    rides the same aggregate via count_distinct of the doc id bounded
    per token."""
    toks = spread(docs, id_col).select(
        F.col(id_col).alias("__doc"),
        F.explode(
            F.expr(f"split({norm_text(text_col, 'spark')}, ' ')")
        ).alias("token"),
    ).filter(F.col("token") != "")
    return (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("__doc").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
        .limit(k)
    )


def oracle_vocab_topk_sql(
    source_sql: str = "SELECT doc_id, text FROM documents",
    text_col: str = "text",
    k: int = 100,
) -> str:
    return f"""
    WITH src AS ({source_sql}),
    t AS (
      SELECT doc_id, unnest(string_split({norm_text(text_col, "duck")}, ' ')) AS token
      FROM src
    )
    SELECT token,
      CAST(count(*) AS BIGINT) AS n_occurrences,
      CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM t WHERE token <> ''
    GROUP BY token
    ORDER BY n_occurrences DESC, token ASC
    LIMIT {k}
    """


def token_histogram(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus sequence-length histogram: documents bucketed by
    floor(log2(token count)) — the standard pre-packing diagnostic for
    choosing a training sequence length (what fraction of the corpus
    fits 512/1k/2k/4k tokens).

    Bucketing is INTEGER-exact on both engines: bucket = bit-length − 1
    via the binary string (``bin``/``printf('%%b')``), never a float
    ``log2`` whose libm rounding could disagree at bucket boundaries.

    100 TB shape: one narrow scan (regexp_count is codegen'd JVM-side),
    then ONE map-side-combined shuffle onto ≤ ~40 bucket keys; the
    final orderBy sorts a bounded handful of rows."""
    norm = norm_text(text_col, "spark")
    d = (
        spread(docs, id_col)
        .select(F.expr(norm).alias("__n"))
        .select(
            F.length("__n").alias("__chars"),
            F.expr(f"regexp_count(__n, '{_TOKEN_RE_SPARK}')").alias("__t"),
        )
        .filter(F.col("__t") >= 1)
        .select(
            "__chars", "__t",
            (F.length(F.expr("bin(__t)")) - 1).cast("int").alias("bucket"),
        )
    )
    return (
        d.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__t").alias("sum_tokens"),
            F.min("__t").cast("long").alias("min_tokens"),
            F.max("__t").cast("long").alias("max_tokens"),
            F.sum("__chars").alias("__sum_chars"),
        )
        .select(
            "bucket",
            F.expr("shiftleft(cast(1 as bigint), bucket)").alias("bucket_lo"),
            "n_docs", "sum_tokens", "min_tokens", "max_tokens",
            F.round(
                F.col("__sum_chars") / F.col("n_docs").cast("double"), 6
            ).alias("avg_chars"),
        )
        .orderBy("bucket")
    )


def oracle_token_histogram_sql(
    source_sql: str = "SELECT doc_id, text FROM documents",
    text_col: str = "text",
) -> str:
    """DuckDB oracle for :func:`token_histogram`. Integer aggregates
    CAST to BIGINT (HUGEINT trap); avg built from the exact integer sum
    so no cross-engine float-summation drift exists."""
    return f"""
    WITH src AS ({source_sql}),
    n AS (SELECT {norm_text(text_col, "duck")} AS __n FROM src),
    d AS (
      SELECT length(__n) AS __chars,
        len(regexp_extract_all(__n, '{_TOKEN_RE_DUCK}')) AS __t
      FROM n
    ),
    b AS (
      SELECT __chars, __t,
        CAST(length(printf('%b', __t)) - 1 AS INT) AS bucket
      FROM d WHERE __t >= 1
    )
    SELECT bucket,
      CAST(1 AS BIGINT) << bucket AS bucket_lo,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(__t) AS BIGINT) AS sum_tokens,
      CAST(min(__t) AS BIGINT) AS min_tokens,
      CAST(max(__t) AS BIGINT) AS max_tokens,
      round(sum(__chars) / CAST(count(*) AS DOUBLE), 6) AS avg_chars
    FROM b
    GROUP BY bucket
    ORDER BY bucket
    """


def quality_buckets(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 10,
) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al., "CCNet: Extracting
    High Quality Monolingual Datasets", LREC'20 — there perplexity
    terciles; here the composed quality score): exact decile boundaries
    over the corpus score, every doc binned by boundary comparison,
    per-bucket retention stats.

    100 TB shape: deliberately NOT ``ntile`` — a global ntile is a
    single-partition sort of the corpus. Instead the ``n_buckets − 1``
    exact percentile boundaries reduce through one scalar aggregate
    (sorts per aggregation buffer, merges sorted runs — no global
    exchange of rows), broadcast back onto the scan, and binning is a
    narrow array comparison followed by one bounded-key groupBy. The
    boundary aggregate is order-deterministic (a sort, not a float
    sum), and the boundary array is rounded to 6 dp before binning:
    when a percentile position lands between TIED values, Spark's
    ``lower + d*(hi-lo)`` is exact while DuckDB's ``(1-d)*lo + d*hi``
    carries an ulp of float error, and a doc whose score equals the
    boundary then flips buckets under the strict ``>`` (caught by the
    sf0.001 oracle sweep in r05 — same rounding discipline as
    events_quantiles). Bucket populations are near-equal rather than
    ntile-exact — the CCNet semantics, at a plan shape that survives
    1000 executors."""
    fracs = ", ".join(
        f"{i / n_buckets:.6f}D" for i in range(1, n_buckets)
    )
    stats = text_stats(docs, id_col=id_col, text_col=text_col).filter(
        F.col("quality_score").isNotNull()
    )
    from streamtasks_spark.llmdata.dedup import pin

    stats = pin(stats.select(id_col, "quality_score", "n_chars"))
    bnd = stats.agg(
        F.expr(
            f"transform(percentile(quality_score, array({fracs})), "
            "b -> round(b, 6))"
        ).alias("__bnd")
    )
    binned = stats.crossJoin(F.broadcast(bnd)).select(
        (
            1 + F.expr("size(filter(__bnd, b -> quality_score > b))")
        ).cast("int").alias("bucket"),
        "quality_score",
        "n_chars",
    )
    return (
        binned.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.min("quality_score"), 6).alias("min_score"),
            F.round(F.max("quality_score"), 6).alias("max_score"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .select(
            "bucket", "n_docs", "min_score", "max_score", "sum_chars",
            F.round(
                F.col("sum_chars") / F.col("n_docs").cast("double"), 6
            ).alias("avg_chars"),
        )
        .orderBy("bucket")
    )


def oracle_quality_buckets_sql(
    source_sql: str = "SELECT doc_id, text FROM documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 10,
) -> str:
    """DuckDB oracle for :func:`quality_buckets` — ``quantile_cont``
    list boundaries rounded to 6 dp exactly like the Spark side
    (raw interpolation differs by an ulp between the engines when a
    percentile position lands between tied values — see the operator
    docstring), identical ``>`` binning rule, BIGINT casts on integer
    sums."""
    fracs = ", ".join(f"{i / n_buckets:.6f}" for i in range(1, n_buckets))
    ts = oracle_text_stats_sql(source_sql, id_col=id_col, text_col=text_col)
    return f"""
    WITH __ts AS ({ts}),
    s AS (
      SELECT {id_col}, quality_score, n_chars FROM __ts
      WHERE quality_score IS NOT NULL
    ),
    b AS (SELECT list_transform(
            quantile_cont(quality_score, [{fracs}]), x -> round(x, 6)
          ) AS __bnd FROM s),
    binned AS (
      SELECT CAST(1 + len(list_filter(b.__bnd, x -> s.quality_score > x))
                  AS INT) AS bucket,
        s.quality_score, s.n_chars
      FROM s, b
    )
    SELECT bucket,
      CAST(count(*) AS BIGINT) AS n_docs,
      round(min(quality_score), 6) AS min_score,
      round(max(quality_score), 6) AS max_score,
      CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      round(sum(n_chars) / CAST(count(*) AS DOUBLE), 6) AS avg_chars
    FROM binned
    GROUP BY bucket
    ORDER BY bucket
    """


def tfidf_topk(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Per-document top-``k`` keywords by tf-idf — the standard
    relevance signal for keyword extraction / topic tagging over a
    training corpus. Output: (``doc_id``, ``token``, ``tf``, ``df``,
    ``tfidf``, ``rank``), rank 1..k by (tfidf desc, token asc).

    Scoring uses the RAW-RATIO idf variant — ``tf · (N+1)/(df+1)``
    with N = total corpus documents — rather than the log-smoothed
    classic. The choice is cross-engine exactness: tf, df, N are
    integers, the products stay far below 2^53, and IEEE division is
    correctly rounded, so Spark and the DuckDB oracle
    (:func:`oracle_tfidf_topk_sql`) produce bit-identical scores and
    therefore identical ranks — a transcendental ``ln`` could flip a
    rank on a last-ulp disagreement between libm builds. Per TERM the
    two idfs are monotone transforms of each other; across terms the
    raw ratio weights rarity more aggressively (it is the
    no-log member of the standard idf family).

    Tokenization = the corpus-wide convention (whitespace-normalize,
    split on single spaces — :func:`norm_text`, same as vocab_topk and
    the MinHash shingles).

    100 TB shape: tf is one shuffle on (doc, token) with map-side
    partial counts; df reuses tf's output (one vocabulary-sized shuffle
    on the token); the tf⋈df join is token-keyed — stopword-grade hot
    tokens are exactly the AQE skew-join case, and the join's big side
    is already partial-aggregated to (doc, token) rows, never raw
    occurrences. N attaches as a broadcast single-row scalar (the
    q11/q15/q22 pattern). The final per-doc top-k is a window on the
    doc id — rank k bounds the output, WindowExec spills on a
    degenerate doc rather than holding arrays."""
    toks = spread(docs, id_col).select(
        F.col(id_col),
        F.explode(
            F.expr(f"split({norm_text(text_col, 'spark')}, ' ')")
        ).alias("token"),
    ).filter(F.col("token") != "")
    tf = toks.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(
        F.count(F.lit(1)).alias("__n")
    )
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    w = Window.partitionBy(id_col).orderBy(
        F.col("__score").desc(), F.col("token").asc()
    )
    return (
        tf.join(df_, "token")
        .crossJoin(broadcast(n_docs))
        .withColumn(
            "__score",
            F.col("tf") * (F.col("__n") + F.lit(1)).cast("double")
            / (F.col("df") + F.lit(1)).cast("double"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            id_col,
            "token",
            "tf",
            "df",
            F.round("__score", 6).alias("tfidf"),
            "rank",
        )
    )


def oracle_tfidf_topk_sql(
    source_sql: str = "SELECT doc_id, text FROM documents",
    text_col: str = "text",
    k: int = 5,
) -> str:
    return f"""
    WITH src AS ({source_sql}),
    t AS (
      SELECT doc_id,
             unnest(string_split({norm_text(text_col, "duck")}, ' ')) AS token
      FROM src
    ),
    tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM t WHERE token <> '' GROUP BY doc_id, token
    ),
    df AS (
      SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token
    ),
    n AS (SELECT count(*) AS __n FROM src),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, df.df,
        tf.tf * CAST(n.__n + 1 AS DOUBLE) / CAST(df.df + 1 AS DOUBLE)
          AS __score
      FROM tf JOIN df USING (token), n
    )
    SELECT doc_id, token, tf, df, round(__score, 6) AS tfidf,
           CAST(row_number() OVER w AS INT) AS rank
    FROM scored
    WINDOW w AS (PARTITION BY doc_id ORDER BY __score DESC, token ASC)
    QUALIFY rank <= {k}
    """


def hashed_tf_embed(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
) -> DataFrame:
    """Feature-hashed (signed hashing-trick) term-frequency embeddings
    — Weinberger et al. 2009, "Feature Hashing for Large Scale
    Multitask Learning": each token maps to bucket
    ``md5(token)[:7] mod dim`` with sign from the md5's 8th nibble, and
    the document's embedding is the signed bucket count vector. Output:
    (``doc_id``, ``embedding`` array<bigint> of length ``dim``).

    This is the model-free bridge from the text tier to the embedding
    tier: its output drops directly into :func:`~streamtasks_spark.
    llmdata.similarity.semantic_dedup` / ``cosine_topk`` / the ANN
    family (their ``array<float|bigint>`` → double cast is exact for
    counts < 2^53), giving text-level semantic grouping with no
    inference dependency. The md5-prefix hash is the repo's standard
    cross-engine hash (same family as the MinHash shingles), so
    :func:`oracle_hashed_tf_embed_sql` reproduces every bucket and sign
    bit-exactly in DuckDB.

    100 TB shape: ONE narrow projection — tokens map to (bucket, sign)
    structs (md5 computed ONCE per token), then each of the ``dim``
    output slots sums its bucket's signs; no explode, no shuffle, no
    pivot. Formulation note (measured at sf0.1): the per-bucket
    ``aggregate(filter(...))`` used here is ~4× faster than the
    equivalent running ``aggregate`` fold that rebuilds a dim-length
    accumulator array per token (same O(dim·tokens) comparisons, but
    no per-token array allocation in the interpreted higher-order
    path), and ~25× faster than an explode→groupBy(doc, bucket)
    re-aggregation, which exchanges a row per token occurrence — at
    100 TB that's the corpus re-shuffled by its token count."""
    toks = tokens_expr(text_col)
    pairs = (
        f"transform({toks}, t -> named_struct("
        f"'b', pmod(cast(conv(substring(md5(t), 1, 7), 16, 10) as bigint),"
        f" {dim}), "
        f"'s', if(pmod(cast(conv(substring(md5(t), 8, 1), 16, 10) as bigint),"
        f" 2) = 0, 1L, -1L)))"
    )
    # NULL text → NULL pairs must yield a NULL EMBEDDING, not an array
    # of NULL slots — the outer transform runs over sequence() whether
    # or not __ps is NULL, so the gate has to be explicit
    per_bucket = (
        f"if(__ps is null, null, "
        f"transform(sequence(0, {dim - 1}), i -> "
        f"aggregate(filter(__ps, p -> p.b = i), 0L, (a, p) -> a + p.s)))"
    )
    return (
        spread(docs, id_col)
        .select(F.col(id_col), F.expr(pairs).alias("__ps"))
        .select(F.col(id_col), F.expr(per_bucket).alias("embedding"))
    )


def oracle_hashed_tf_embed_sql(
    source_sql: str = "SELECT doc_id, text FROM documents",
    text_col: str = "text",
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`hashed_tf_embed` — same md5-prefix bucket,
    same sign nibble, same signed-count fold."""
    return f"""
    WITH src AS ({source_sql}),
    tok AS (
      SELECT doc_id,
        {tokens_expr(text_col, "duck")} AS __toks
      FROM src
    ),
    pairs AS (
      SELECT doc_id,
        list_transform(__toks, t -> struct_pack(
          b := cast('0x' || substr(md5(t), 1, 7) AS BIGINT) % {dim},
          s := CASE WHEN cast('0x' || substr(md5(t), 8, 1) AS BIGINT) % 2 = 0
               THEN 1 ELSE -1 END)) AS __ps
      FROM tok
    )
    SELECT doc_id,
      CASE WHEN __ps IS NULL THEN NULL ELSE
        -- coalesce turns an empty bucket's NULL sum into 0, but must
        -- not fire for NULL text: Spark's aggregate(NULL, ...) is
        -- NULL, so the whole embedding stays NULL there (the CASE)
        list_transform(range(0, {dim}), i ->
          coalesce(list_sum(list_transform(
            list_filter(__ps, p -> p.b = i), p -> p.s)), 0)::BIGINT)
      END AS embedding
    FROM pairs
    """


# --------------------------------------------------------------- BM25

def _bm25_score_expr(k1: float, b: float) -> str:
    """The per-(doc, term) BM25 score as a SQL fragment shared VERBATIM
    by the Spark plan and the DuckDB oracle — bit-exactness here comes
    from both engines evaluating the IDENTICAL IEEE expression tree
    (every division and multiplication is correctly rounded, so equal
    trees over equal inputs give equal doubles; a re-parenthesized
    twin would not). Expects columns ``__tf``, ``__df``, ``__dl``
    (BIGINT-class) and the broadcast scalars ``__n``, ``__sdl``.

    The idf is the RAW-RATIO variant ``(N+1)/(df+1)`` — the same
    no-log member of the idf family :func:`tfidf_topk` uses and for
    the same reason: ``ln`` is not an exactly-rounded IEEE op and
    diverges between libm builds, so a log idf could flip a rank on a
    last-ulp disagreement. Per term the two are monotone transforms;
    across terms the raw ratio weights rarity more aggressively. The
    saturation term is classic BM25/Okapi (Robertson & Zaragoza 2009):
    ``tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))`` with ``dl/avgdl``
    expanded to ``dl·N/Σdl`` so it stays a two-integer-input division
    chain instead of a pre-divided scalar."""
    k1l = f"CAST({k1!r} AS DOUBLE)"
    bl = f"CAST({b!r} AS DOUBLE)"
    return (
        "(CAST(__n + 1 AS DOUBLE) / CAST(__df + 1 AS DOUBLE)) * "
        f"((CAST(__tf AS DOUBLE) * ({k1l} + CAST(1 AS DOUBLE))) / "
        f"(CAST(__tf AS DOUBLE) + {k1l} * "
        f"((CAST(1 AS DOUBLE) - {bl}) + {bl} * "
        "((CAST(__dl AS DOUBLE) * CAST(__n AS DOUBLE)) / "
        "CAST(__sdl AS DOUBLE)))))"
    )


# per-term scores are scaled by 1e6 and floored to an integer before
# the per-document sum: integer (DECIMAL) sums are order-independent,
# so the score is bit-reproducible across partitionings and engines —
# summing raw doubles would depend on Spark's partial-agg combine
# order. 1e-6 per-term granularity; ranks tie-break on the id anyway.
# Envelope: floor(score·1e6) must stay exact in both engines' paths
# (Spark floors to BIGINT, DuckDB to DOUBLE), i.e. below 2^53 —
# score ≤ idf·(k1+1) ≈ 2.2·(N+1), so N up to ~4e9 documents is safe.
_BM25_SCALE = "CAST(1000000 AS DOUBLE)"

# doc length with an EXPLICIT NULL guard: NULL-text docs must yield
# NULL __dl so count(__dl)/sum(__dl) exclude them from N and Σdl
# (matching DuckDB, where len(NULL) IS NULL). Bare size(NULL) only
# returns NULL under ANSI mode (the Spark 4 default) — on an ANSI-off
# session it returns -1, which would silently pollute N and Σdl, so
# the guard is written out rather than relying on session posture.
_BM25_DL_EXPR = "CASE WHEN __toks IS NULL THEN NULL ELSE size(__toks) END"


def _bm25_terms(terms) -> list[str]:
    """Validate + normalize the query terms: lowercase (the corpus
    tokenization lowercases, so an uppercase query term could never
    match), drop duplicates, keep sorted for a deterministic plan."""
    out = sorted({str(t).strip().lower() for t in terms} - {""})
    if not out:
        raise ValueError("bm25_topk: terms must contain a non-empty term")
    return out


def bm25_topk(
    docs: DataFrame,
    *,
    terms,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
) -> DataFrame:
    """Top-``k`` documents by BM25 relevance to a bag of query
    ``terms`` — the retrieval scorer behind corpus search / RAG
    candidate generation, complementing :func:`tfidf_topk` (per-doc
    keywords) with the per-QUERY ranking direction. Output:
    (``doc_id``, ``n_terms_matched``, ``bm25``, ``rank``), rank 1..k
    by (score desc, id asc); only documents matching ≥1 term appear.

    Corpus statistics (df per term, N, Σdl) are derived from ``docs``
    itself; tokenization is the corpus-wide convention
    (:func:`~streamtasks_spark.llmdata.dedup.tokens_expr`). NULL-text
    documents can never match and are excluded from N / Σdl (both
    engines agree: ``count(__dl)`` skips NULL).

    100 TB shape: ONE corpus scan; the token work (dl, per-term tf)
    is NARROW — `size(filter(tokens, x = term))` per (doc, term) row
    from exploding the literal terms array, never a (doc, token)
    shuffle (contrast tfidf_topk, which must shuffle because its
    vocabulary is unbounded — a query's term list is not). Per-term
    document frequency is a ≤|terms|-row aggregate joined back as a
    BROADCAST; N and Σdl attach as a broadcast single-row scalar (the
    q11/q15/q22 pattern). The only wide op is the final per-doc sum
    (one partial-agg shuffle, ≤|terms| rows per doc) and the global
    top-k (TakeOrdered; rank attaches post-limit over k rows)."""
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    tl = _bm25_terms(terms)
    base = (
        spread(docs, id_col)
        .select(F.col(id_col), F.expr(tokens_expr(text_col)).alias("__toks"))
        .select(
            F.col(id_col), "__toks",
            F.expr(_BM25_DL_EXPR).cast("bigint").alias("__dl"),
        )
    )
    tot = base.agg(
        F.count("__dl").alias("__n"), F.sum("__dl").alias("__sdl")
    )
    m = (
        base.select(
            F.col(id_col), "__toks", "__dl",
            F.explode(F.array(*[F.lit(t) for t in tl])).alias("__term"),
        )
        .select(
            F.col(id_col), "__dl", "__term",
            F.expr("size(filter(__toks, x -> x = __term))")
            .cast("bigint").alias("__tf"),
        )
        .filter(F.col("__tf") > 0)
    )
    dfreq = m.groupBy("__term").agg(F.count(F.lit(1)).alias("__df"))
    scored = (
        m.join(broadcast(dfreq), "__term")
        .crossJoin(broadcast(tot))
        .select(
            F.col(id_col),
            F.expr(
                f"CAST(floor(({_bm25_score_expr(k1, b)}) * {_BM25_SCALE}) "
                "AS DECIMAL(38,0))"
            ).alias("__sc"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.sum("__sc").alias("__ssum"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms_matched"),
    )
    topk = agg.orderBy(F.col("__ssum").desc(), F.col(id_col).asc()).limit(k)
    w = Window.orderBy(F.col("__ssum").desc(), F.col(id_col).asc())
    return topk.select(
        F.col(id_col),
        "n_terms_matched",
        (F.col("__ssum").cast("double") / F.expr(_BM25_SCALE)).alias("bm25"),
        F.row_number().over(w).cast("int").alias("rank"),
    )


def oracle_bm25_topk_sql(
    source_sql: str = "SELECT doc_id, text FROM documents",
    *,
    terms,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
) -> str:
    """DuckDB twin of :func:`bm25_topk` — same shared score fragment,
    same floored-integer scaled sum, df/N/Σdl re-derived in CTEs
    (never literal-injected)."""
    tl = _bm25_terms(terms)
    vals = ", ".join("('" + t.replace("'", "''") + "')" for t in tl)
    return f"""
    WITH src AS ({source_sql}),
    terms(__term) AS (VALUES {vals}),
    base AS (
      SELECT {id_col},
             {tokens_expr(text_col, 'duck')} AS __toks,
             CAST(len({tokens_expr(text_col, 'duck')}) AS BIGINT) AS __dl
      FROM src
    ),
    tot AS (
      SELECT CAST(count(__dl) AS BIGINT) AS __n,
             CAST(sum(__dl) AS BIGINT) AS __sdl
      FROM base
    ),
    m AS (
      SELECT b.{id_col}, b.__dl, t.__term,
             CAST(len(list_filter(b.__toks, x -> x = t.__term)) AS BIGINT)
               AS __tf
      FROM base b CROSS JOIN terms t
    ),
    mm AS (SELECT * FROM m WHERE __tf > 0),
    dfreq AS (
      SELECT __term, CAST(count(*) AS BIGINT) AS __df
      FROM mm GROUP BY __term
    ),
    scored AS (
      SELECT mm.{id_col},
        CAST(floor(({_bm25_score_expr(k1, b)}) * {_BM25_SCALE})
             AS DECIMAL(38,0)) AS __sc
      FROM mm JOIN dfreq USING (__term), tot
    ),
    agg AS (
      SELECT {id_col}, sum(__sc) AS __ssum,
             CAST(count(*) AS BIGINT) AS n_terms_matched
      FROM scored GROUP BY {id_col}
    )
    SELECT {id_col}, n_terms_matched,
           CAST(__ssum AS DOUBLE) / {_BM25_SCALE} AS bm25,
           CAST(row_number() OVER w AS INT) AS rank
    FROM agg
    WINDOW w AS (ORDER BY __ssum DESC, {id_col} ASC)
    QUALIFY rank <= {k}
    """


def bm25_search(
    docs: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
) -> DataFrame:
    """Multi-query BM25 retrieval — :func:`bm25_topk` generalized from
    one literal term bag to a QUERY TABLE ``(query_id, terms
    array<string>)``, the production retrieval-workload shape (a RAG
    batch scores thousands of queries, not one). Output: one row per
    (query, hit): (``query_id``, ``doc_id``, ``n_terms_matched``,
    ``bm25``, ``rank``), rank 1..k per query by (score desc, id asc).

    Same scoring and bit-exactness discipline as bm25_topk (shared
    :func:`_bm25_score_expr`, floored-integer scaled DECIMAL sums);
    terms are normalized (lower/trim, empties dropped) and deduped per
    query in both engines; df for a term is its corpus-wide matched
    document count, identical to the single-bag scorer.

    100 TB shape — where it differs from bm25_topk: the per-term tf
    can no longer be a literal-bag lambda, so the corpus token stream
    explodes — but it is PRUNED BY A BROADCAST SEMI-JOIN against the
    distinct query-term set BEFORE the (doc, term) aggregation, so
    the one real shuffle carries only query-term occurrences, not the
    corpus vocabulary (a query workload's term set is small; that is
    the asymmetry this plan exploits). df re-aggregates the pruned
    pairs (≤ |terms| rows, broadcast back), the query table attaches
    term-keyed as a broadcast, N/Σdl as the scalar broadcast, and the
    per-query top-k is a rank window partitioned on query_id."""
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    qt = (
        queries.select(
            "query_id", F.explode("terms").alias("__raw")
        )
        .select("query_id", F.lower(F.trim("__raw")).alias("__term"))
        .filter(F.col("__term") != "")
        .distinct()
    )
    terms_set = qt.select("__term").distinct()
    base = (
        spread(docs, id_col)
        .select(F.col(id_col), F.expr(tokens_expr(text_col)).alias("__toks"))
        .select(
            F.col(id_col), "__toks",
            F.expr(_BM25_DL_EXPR).cast("bigint").alias("__dl"),
        )
    )
    tot = base.agg(
        F.count("__dl").alias("__n"), F.sum("__dl").alias("__sdl")
    )
    m = (
        base.select(F.col(id_col), "__dl", F.explode("__toks").alias("__tok"))
        .join(broadcast(terms_set), F.col("__tok") == F.col("__term"))
        .groupBy(id_col, "__dl", "__term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__tf"))
    )
    dfreq = m.groupBy("__term").agg(F.count(F.lit(1)).alias("__df"))
    scored = (
        m.join(broadcast(dfreq), "__term")
        .join(broadcast(qt), "__term")
        .crossJoin(broadcast(tot))
        .select(
            "query_id",
            F.col(id_col),
            F.expr(
                f"CAST(floor(({_bm25_score_expr(k1, b)}) * {_BM25_SCALE}) "
                "AS DECIMAL(38,0))"
            ).alias("__sc"),
        )
    )
    agg = scored.groupBy("query_id", id_col).agg(
        F.sum("__sc").alias("__ssum"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms_matched"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__ssum").desc(), F.col(id_col).asc()
    )
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col(id_col),
            "n_terms_matched",
            (F.col("__ssum").cast("double") / F.expr(_BM25_SCALE))
            .alias("bm25"),
            "rank",
        )
    )


def oracle_bm25_search_sql(
    source_sql: str = "SELECT doc_id, text FROM documents",
    *,
    query_bags: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
) -> str:
    """DuckDB twin of :func:`bm25_search` over literal query bags
    ``{query_id: (terms, ...)}`` — same shared score fragment, same
    normalization/dedup, df/N/Σdl re-derived in CTEs."""
    rows = []
    for qid in sorted(query_bags):
        for t in query_bags[qid]:
            esc = str(t).replace("'", "''")
            rows.append(f"({int(qid)}, '{esc}')")
    vals = ", ".join(rows)
    return f"""
    WITH src AS ({source_sql}),
    qraw(query_id, __raw) AS (VALUES {vals}),
    qt AS (
      SELECT DISTINCT query_id, lower(trim(__raw)) AS __term
      FROM qraw WHERE lower(trim(__raw)) <> ''
    ),
    base AS (
      SELECT {id_col},
             {tokens_expr(text_col, 'duck')} AS __toks,
             CAST(len({tokens_expr(text_col, 'duck')}) AS BIGINT) AS __dl
      FROM src
    ),
    tot AS (
      SELECT CAST(count(__dl) AS BIGINT) AS __n,
             CAST(sum(__dl) AS BIGINT) AS __sdl
      FROM base
    ),
    toks AS (
      SELECT {id_col}, __dl, unnest(__toks) AS __tok FROM base
    ),
    m AS (
      SELECT t.{id_col}, t.__dl, s.__term,
             CAST(count(*) AS BIGINT) AS __tf
      FROM toks t JOIN (SELECT DISTINCT __term FROM qt) s
        ON t.__tok = s.__term
      GROUP BY t.{id_col}, t.__dl, s.__term
    ),
    dfreq AS (
      SELECT __term, CAST(count(*) AS BIGINT) AS __df
      FROM m GROUP BY __term
    ),
    scored AS (
      SELECT qt.query_id, m.{id_col},
        CAST(floor(({_bm25_score_expr(k1, b)}) * {_BM25_SCALE})
             AS DECIMAL(38,0)) AS __sc
      FROM m JOIN dfreq USING (__term) JOIN qt USING (__term), tot
    ),
    agg AS (
      SELECT query_id, {id_col}, sum(__sc) AS __ssum,
             CAST(count(*) AS BIGINT) AS n_terms_matched
      FROM scored GROUP BY query_id, {id_col}
    )
    SELECT CAST(query_id AS BIGINT) AS query_id, {id_col},
           n_terms_matched,
           CAST(__ssum AS DOUBLE) / {_BM25_SCALE} AS bm25,
           CAST(row_number() OVER w AS INT) AS rank
    FROM agg
    WINDOW w AS (PARTITION BY query_id ORDER BY __ssum DESC, {id_col} ASC)
    QUALIFY rank <= {k}
    """


def bm25_stats(
    docs: DataFrame,
    *,
    terms,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[dict, int, int]:
    """Freeze the corpus statistics BM25 scoring needs — ``(df_map,
    n_docs, sum_dl)`` with df per normalized query term — from a
    reference corpus: the unigram_lm_train / dsir_train convention
    applied to retrieval. Driver-small (≤ |terms| + 2 values); feed it
    to :func:`bm25_score_frozen` or
    :func:`~streamtasks_spark.streaming.stateful.streaming_bm25_filter`
    so a stream is scored under stats that never move beneath it."""
    tl = _bm25_terms(terms)
    base = (
        spread(docs, id_col)
        .select(F.col(id_col), F.expr(tokens_expr(text_col)).alias("__toks"))
        .select(
            F.col(id_col),
            "__toks",
            F.expr(_BM25_DL_EXPR).cast("bigint").alias("__dl"),
        )
    )
    tot = base.agg(
        F.count("__dl").alias("__n"), F.sum("__dl").alias("__sdl")
    ).first()
    m = (
        base.select(
            F.col(id_col), "__toks",
            F.explode(F.array(*[F.lit(t) for t in tl])).alias("__term"),
        )
        .select(
            "__term",
            F.expr("size(filter(__toks, x -> x = __term))")
            .cast("bigint").alias("__tf"),
        )
        .filter(F.col("__tf") > 0)
        .groupBy("__term")
        .agg(F.count(F.lit(1)).alias("__df"))
    )
    from streamtasks_spark.llmdata.dedup import bounded_collect

    # ≤ |terms| rows (codebook-class): bound ENFORCED, not just argued
    m = bounded_collect(m, len(tl), "bm25_stats per-term df")
    df_map = {r["__term"]: int(r["__df"]) for r in m}
    n = int(tot["__n"]) if tot["__n"] is not None else 0
    sdl = int(tot["__sdl"]) if tot["__sdl"] is not None else 0
    return df_map, n, sdl


def bm25_score_frozen(
    docs: DataFrame,
    stats: tuple,
    *,
    terms,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Score each document against a FROZEN ``(df_map, n_docs,
    sum_dl)`` from :func:`bm25_stats` — stateless per document (pure
    function of text, terms, and the model), so it drops into
    ``foreachBatch`` unchanged and per-batch appends union to the
    batch result bit-exactly. Output (id, ``n_terms_matched``,
    ``bm25``) for documents matching ≥1 term — no rank: a stream has
    no global order; thresholding/ranking is the consumer's move.
    Same shared score fragment and floored-integer scaled sums as the
    corpus-derived scorers, with df/N/Σdl attached as LITERALS —
    on the frozen stats of the same corpus, scores equal
    :func:`bm25_topk`'s exactly (pinned)."""
    tl = _bm25_terms(terms)
    df_map, n, sdl = stats
    base = (
        spread(docs, id_col)
        .select(F.col(id_col), F.expr(tokens_expr(text_col)).alias("__toks"))
        .select(
            F.col(id_col), "__toks",
            F.expr(_BM25_DL_EXPR).cast("bigint").alias("__dl"),
        )
    )
    df_entries = ", ".join(
        "'" + t.replace("'", "''") + f"', CAST({int(df_map.get(t, 0))} "
        "AS BIGINT)" for t in tl
    )
    m = (
        base.select(
            F.col(id_col), "__toks", "__dl",
            F.explode(F.array(*[F.lit(t) for t in tl])).alias("__term"),
        )
        .select(
            F.col(id_col), "__dl", "__term",
            F.expr("size(filter(__toks, x -> x = __term))")
            .cast("bigint").alias("__tf"),
        )
        .filter(F.col("__tf") > 0)
        .withColumn("__df", F.expr(f"map({df_entries})[__term]"))
        .withColumn("__n", F.lit(int(n)).cast("bigint"))
        .withColumn("__sdl", F.lit(int(sdl)).cast("bigint"))
        .select(
            F.col(id_col),
            F.expr(
                f"CAST(floor(({_bm25_score_expr(k1, b)}) * {_BM25_SCALE}) "
                "AS DECIMAL(38,0))"
            ).alias("__sc"),
        )
    )
    return (
        m.groupBy(id_col)
        .agg(
            F.sum("__sc").alias("__ssum"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms_matched"),
        )
        .select(
            id_col,
            "n_terms_matched",
            (F.col("__ssum").cast("double") / F.expr(_BM25_SCALE))
            .alias("bm25"),
        )
    )


def heavy_hitters_cms(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 256,
    depth: int = 4,
    phi: float = 0.005,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Heavy hitters via a COUNT-MIN SKETCH with exact verification
    (Cormode & Muthukrishnan 2005) — the bounded-memory frequency tier
    next to :func:`vocab_topk`'s exact heap: the sketch is ``depth``
    hash rows × ``width`` counters (d·w cells TOTAL, independent of
    vocabulary size — the reason a 100 TB stream can afford it), a
    token's estimate is the MIN of its ``depth`` counters, and a token
    is reported when its estimate reaches ``phi`` of the corpus token
    count. Output per reported token: (``token``, ``est``,
    ``true_count``, ``overestimate``), est desc / token asc ordered
    implicitly by the consumer.

    Two CMS guarantees are made VISIBLE rather than asserted:
    ``est ≥ true_count`` always (collisions only ever ADD), so
    ``overestimate`` is the per-token collision mass; and no false
    negatives — every token with ``true_count ≥ phi·T`` is reported
    (its min-counter is at least its own count). False positives
    (est inflated past the bar by collisions) appear with
    ``true_count < phi·T``, which is exactly what the exact
    verification column is for.

    Hashing is the repo's standard md5-prefix family (row-seeded:
    ``md5(j || ':' || token)``), so sketch contents — collisions
    included — are bit-reproducible in the DuckDB twin.

    100 TB shape: ONE (row, bucket) shuffle with map-side combine
    builds the sketch (d·w bounded output rows); candidate estimation
    joins the distinct-token stream against the BROADCAST sketch
    (d·w ≤ a few thousand cells). By default the candidate stream is
    the corpus's own distinct tokens (exact at any test scale); at
    true stream scale pass ``candidates`` — a one-column token
    DICTIONARY (coarse pre-filter output, a curated lexicon) that
    broadcast-semi-prunes the candidate side while the SKETCH stays
    the only full-stream aggregate. The restricted output equals the
    full run filtered to the dictionary (same sketch, same total,
    same bar — pinned in tests); dictionary tokens absent from the
    corpus report nothing (their true count is 0; keep the dictionary
    within the observed vocabulary, which any pre-filter output
    is)."""
    toks = (
        spread(docs, id_col)
        .select(F.explode(F.expr(tokens_expr(text_col))).alias("__t"))
    )
    # pin: the (token, count) table feeds SIX branches (the total, the
    # `depth` sketch-row projections, and the estimate chain) and Spark
    # has no cross-branch CSE — unpinned, the corpus tokenize+groupBy
    # re-runs per branch (measured: 18 exec jobs / 44 Exchanges at
    # sf0.1). The pinned table is VOCABULARY-sized (distinct tokens,
    # Heaps-law ≪ corpus), the legitimate pin class per its docstring.
    counts = pin(toks.groupBy("__t").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    ))
    # unique name: total shares lineage with the estimate chain (both
    # stem from counts), and Spark's self-join disambiguation would
    # otherwise see the generic name on both sides
    total = counts.agg(
        F.sum(F.col("__c").cast("decimal(38,0)")).alias("__cms_total")
    )
    bucket = (
        "pmod(cast(conv(substring(md5(concat(cast({j} as string), ':', "
        "__t)), 1, 12), 16, 10) as bigint), {w})"
    )
    rows = [
        counts.select(
            F.lit(j).alias("__row"),
            F.expr(bucket.format(j=j, w=width)).alias("__bucket"),
            "__c",
        )
        for j in range(depth)
    ]
    cells = rows[0]
    for r in rows[1:]:
        cells = cells.unionByName(r)
    sketch = cells.groupBy("__row", "__bucket").agg(
        F.sum("__c").alias("__cell")
    )
    from pyspark.sql.functions import broadcast

    est = counts
    if candidates is not None:
        cand = (
            candidates.select(
                F.col(candidates.columns[0]).alias("__t")
            ).distinct()
        )
        est = est.join(broadcast(cand), "__t", "left_semi")
    for j in range(depth):
        sk = sketch.filter(F.col("__row") == j).select(
            F.col("__bucket").alias(f"__b{j}"),
            F.col("__cell").alias(f"__e{j}"),
        )
        est = est.withColumn(
            f"__b{j}", F.expr(bucket.format(j=j, w=width))
        ).join(broadcast(sk), f"__b{j}")
    mins = F.least(*[F.col(f"__e{j}") for j in range(depth)])
    return (
        est.withColumn("__est", mins)
        .crossJoin(broadcast(total))
        .filter(
            F.col("__est").cast("decimal(38,0)")
            * F.lit(1000000).cast("decimal(38,0)")
            >= F.col("__cms_total")
            * F.lit(int(round(phi * 1000000))).cast("decimal(38,0)")
        )
        .select(
            F.col("__t").alias("token"),
            F.col("__est").alias("est"),
            F.col("__c").alias("true_count"),
            (F.col("__est") - F.col("__c")).alias("overestimate"),
        )
    )


def oracle_heavy_hitters_cms_sql(
    source_sql: str = "SELECT doc_id, text FROM documents",
    text_col: str = "text",
    width: int = 256,
    depth: int = 4,
    phi: float = 0.005,
) -> str:
    """DuckDB twin of :func:`heavy_hitters_cms` — same row-seeded
    md5-prefix buckets, same integer threshold comparison (phi scaled
    to an exact 1e-6-unit integer on both sides, no float compare)."""
    bucket = (
        "cast('0x' || substr(md5(cast({j} as varchar) || ':' || __t), "
        "1, 12) AS BIGINT) % {w}"
    )
    row_selects = "\n      UNION ALL\n      ".join(
        f"SELECT {j} AS __row, {bucket.format(j=j, w=width)} AS __bucket, "
        "__c FROM counts"
        for j in range(depth)
    )
    est_joins = "\n      ".join(
        f"JOIN sketch s{j} ON s{j}.__row = {j} AND "
        f"s{j}.__bucket = {bucket.format(j=j, w=width)}"
        for j in range(depth)
    )
    mins = "least(" + ", ".join(f"s{j}.__cell" for j in range(depth)) + ")"
    return f"""
    WITH src AS ({source_sql}),
    t AS (
      SELECT unnest({tokens_expr(text_col, 'duck')}) AS __t FROM src
    ),
    counts AS (
      SELECT __t, CAST(count(*) AS BIGINT) AS __c FROM t GROUP BY __t
    ),
    total AS (
      SELECT CAST(coalesce(sum(__c), 0) AS DECIMAL(38,0)) AS __cms_total
      FROM counts
    ),
    cells AS (
      {row_selects}
    ),
    sketch AS (
      SELECT __row, __bucket, CAST(sum(__c) AS BIGINT) AS __cell
      FROM cells GROUP BY __row, __bucket
    ),
    est AS (
      SELECT counts.__t, counts.__c, {mins} AS __est
      FROM counts
      {est_joins}
    )
    SELECT __t AS token, __est AS est, __c AS true_count,
           __est - __c AS overestimate
    FROM est, total
    WHERE CAST(__est AS DECIMAL(38,0)) * CAST(1000000 AS DECIMAL(38,0))
          >= __cms_total * CAST({int(round(phi * 1000000))} AS DECIMAL(38,0))
    """


def _hll_units_expr(toks: str, n: int, engine: str) -> str:
    """The HLL counting unit as a SQL array fragment over the token
    array ``toks``: word n-grams (:func:`~streamtasks_spark.llmdata.
    dedup.ngrams_expr`; n = 1 → the tokens themselves) — same
    <n-words → empty, NULL → NULL contract as ngram_lm's units;
    explode/unnest then drop the NULLs identically. On Spark ``toks``
    is a column projected once per row (:func:`_hll_units`)."""
    return toks if n == 1 else ngrams_expr(toks, n, engine)


def _hll_units(docs: DataFrame, id_col: str, text_col: str, n: int):
    """One ``__t`` row per non-NULL HLL counting unit of ``docs``. The
    text is tokenized ONCE per row into ``__toks`` and the n-grams
    explode over that column: Catalyst does not hoist the tokenizer
    out of the n-gram lambda, so inlining it would tokenize a T-token
    document ~T + 3 times."""
    return (
        spread(docs, id_col)
        .select(F.expr(tokens_expr(text_col)).alias("__toks"))
        .select(
            F.explode(F.expr(_hll_units_expr("__toks", n, "spark")))
            .alias("__t")
        )
        .filter(F.col("__t").isNotNull())
    )


def _hll_registers(units: DataFrame, p: int) -> DataFrame:
    """``(__bucket, __M)``: the 2^p-register file of the ``__t`` unit
    rows — bucket = 48-bit md5 prefix mod m, rank = the integer-exact
    leading-zero count of the rest, max per bucket (partial max before
    the m-keyed exchange). Shared by :func:`approx_distinct_hll` and
    its streaming twin, whose merged registers must equal it."""
    m = 1 << p
    w = 48 - p          # value width after the bucket split
    s = w + 1           # max possible rank; exponents S-M land in [0, S]
    h = "cast(conv(substring(md5(__t), 1, 12), 16, 10) as bigint)"
    return (
        units.select(
            F.expr(f"pmod({h}, {m})").alias("__bucket"),
            F.expr(f"cast(floor({h} / {m}) as bigint)").alias("__v"),
        )
        .select(
            "__bucket",
            F.expr(
                f"CASE WHEN __v = 0 THEN {s} "
                f"ELSE {w} - length(bin(__v)) + 1 END"
            ).alias("__rho"),
        )
        .groupBy("__bucket")
        .agg(F.max("__rho").alias("__M"))
    )


def _hll_corrected_expr(est: str, nhit: str, m: int) -> str:
    """HLL range corrections (Flajolet et al. 2007 §4) as a SQL
    fragment over the raw estimate ``est`` and register-hit count
    ``nhit`` — SHARED between the batch op, its DuckDB oracle twin,
    and the streaming twin so the branch conditions and expressions
    cannot drift:

    - small range: while empty registers remain (V = m − n_hit > 0)
      and E ≤ 2.5·m, linear counting m·ln(m/V) beats the raw
      harmonic-mean estimator (whose low-cardinality bias the raw
      column exposes);
    - large range: with our 48-bit hash space, hash collisions bias E
      downward once E approaches 2^48; past E > 2^48/30 the standard
      correction −2^48·ln(1 − E/2^48) applies (unreachable at test
      scale, included for the estimator's published envelope);
    - otherwise the raw estimate stands.

    ``ln`` is the one transcendental in the sketch family (everything
    else is integer-exact or a single correctly-rounded division);
    Spark and DuckDB both spell it ``ln`` and their libms agree at the
    6-decimal rounding the ops apply (swept input-exhaustively in
    tests/test_llmdata.py::test_hll_corrected_expr_engines_agree)."""
    two48 = 1 << 48
    return (
        f"CASE WHEN {m} - {nhit} > 0 AND {est} <= 2.5 * {m} "
        f"THEN CAST({m} AS DOUBLE) * ln(CAST({m} AS DOUBLE) / "
        f"CAST({m} - {nhit} AS DOUBLE)) "
        f"WHEN {est} > CAST({two48} AS DOUBLE) / 30.0 "
        f"THEN -CAST({two48} AS DOUBLE) * "
        f"ln(1.0 - {est} / CAST({two48} AS DOUBLE)) "
        f"ELSE {est} END"
    )


def approx_distinct_hll(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
    p: int = 5,
) -> DataFrame:
    """Approximate distinct-token cardinality via a HYPERLOGLOG
    register file with exact verification (Flajolet et al. 2007) —
    the cardinality member of the sketch family (CMS = frequency,
    bloom = membership, MinHash = similarity): ``m = 2^p`` registers,
    each holding the max leading-zero rank seen in its substream,
    estimate = αₘ·m²/Σ2^(−Mⱼ). One row out: (``m``,
    ``n_buckets_hit``, ``raw_estimate``, ``corrected_estimate``,
    ``exact_distinct``, ``rel_error``, ``corrected_rel_error``) —
    like :func:`heavy_hitters_cms`, the sketch's error is a VISIBLE
    measured column (the exact side is the verification, not the
    operator), and the driver certifies the estimates themselves, not
    an assertion about them. ``corrected_estimate`` applies the
    published range corrections (:func:`_hll_corrected_expr`:
    linear counting below 2.5·m with empty registers, 48-bit-hash
    large-range past 2^48/30); ``raw_estimate`` stays for continuity
    and to keep the raw estimator's bias visible.

    Bit-exactness without transcendentals: the rank is the
    integer-exact ``W − length(bin(v)) + 1`` (both engines' ``bin``
    agree byte-for-byte), the register sum Σ2^(S−Mⱼ) accumulates
    exact powers of two in DECIMAL(38,0) (2^k is exactly
    representable; absent registers contribute 2^S), and the single
    final division is one correctly-rounded double op with αₘ·m²
    pre-folded to a literal in the plan. The raw estimator stays
    ``ln``-free; the corrections column is the one place a
    transcendental enters, through the shared
    :func:`_hll_corrected_expr` fragment both engines render.

    100 TB shape: the whole sketch is ONE m-keyed shuffle with
    map-side partial max over the raw token stream — duplicates never
    need deduplicating (max is idempotent), which is the entire point
    vs ``count(distinct)``'s vocabulary-sized exchange; the
    verification column is the expensive exact path and exists for
    the oracle's sake."""
    if not (2 <= p <= 14):
        raise ValueError(f"approx_distinct_hll: p must be in [2, 14], got {p}")
    m = 1 << p
    w = 48 - p          # value width after the bucket split
    s = w + 1           # max possible rank; exponents S-M land in [0, S]
    alpha = 0.7213 / (1.0 + 1.079 / m) if m >= 128 else (
        0.673 if m == 16 else 0.697 if m == 32 else 0.709 if m == 64
        else 0.5  # m < 16: out of the published constant table
    )
    am2 = alpha * m * m
    toks = _hll_units(docs, id_col, text_col, n)
    regs = _hll_registers(toks, p)
    sk = regs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets_hit"),
        F.sum(
            F.expr(f"CAST(power(2, {s} - __M) AS DECIMAL(38,0))")
        ).alias("__sp"),
    )
    exact = toks.agg(
        F.countDistinct("__t").cast("bigint").alias("exact_distinct")
    )
    from pyspark.sql.functions import broadcast

    est = (
        f"CAST({am2!r} AS DOUBLE) * CAST({1 << s} AS DOUBLE) / "
        f"CAST(__sum AS DOUBLE)"
    )
    return (
        sk.crossJoin(broadcast(exact))
        .withColumn(
            "__sum",
            F.expr(
                f"__sp + CAST({m} - n_buckets_hit AS DECIMAL(38,0)) * "
                f"CAST({1 << s} AS DECIMAL(38,0))"
            ),
        )
        .withColumn("__est", F.expr(est))
        .withColumn(
            "__corr",
            F.expr(_hll_corrected_expr("__est", "n_buckets_hit", m)),
        )
        .select(
            F.lit(m).cast("bigint").alias("m"),
            "n_buckets_hit",
            F.round(F.col("__est"), 6).alias("raw_estimate"),
            F.round(F.col("__corr"), 6).alias("corrected_estimate"),
            "exact_distinct",
            F.round(
                F.col("__est") / F.col("exact_distinct").cast("double")
                - F.lit(1.0),
                6,
            ).alias("rel_error"),
            F.round(
                F.col("__corr") / F.col("exact_distinct").cast("double")
                - F.lit(1.0),
                6,
            ).alias("corrected_rel_error"),
        )
    )


def oracle_approx_distinct_hll_sql(
    source_sql: str = "SELECT doc_id, text FROM documents",
    text_col: str = "text",
    n: int = 1,
    p: int = 5,
) -> str:
    """DuckDB twin of :func:`approx_distinct_hll` — same integer rank
    path (``bin`` agrees byte-for-byte), same DECIMAL register sum,
    same single-division estimate with the αₘ·m² literal."""
    m = 1 << p
    w = 48 - p
    s = w + 1
    alpha = 0.7213 / (1.0 + 1.079 / m) if m >= 128 else (
        0.673 if m == 16 else 0.697 if m == 32 else 0.709 if m == 64
        else 0.5
    )
    am2 = alpha * m * m
    h = "cast('0x' || substr(md5(__t), 1, 12) AS BIGINT)"
    units = _hll_units_expr(tokens_expr(text_col, "duck"), n, "duck")
    est = (
        f"CAST({am2!r} AS DOUBLE) * CAST({1 << s} AS DOUBLE) / "
        f"CAST(__sum AS DOUBLE)"
    )
    return f"""
    WITH src AS ({source_sql}),
    t0 AS (
      SELECT unnest({units}) AS __t FROM src
    ),
    t AS (SELECT __t FROM t0 WHERE __t IS NOT NULL),
    hashed AS (
      SELECT {h} % {m} AS __bucket,
             CAST(floor({h} / {m}) AS BIGINT) AS __v
      FROM t
    ),
    rho AS (
      SELECT __bucket,
        CASE WHEN __v = 0 THEN {s}
             ELSE {w} - length(bin(__v)) + 1 END AS __rho
      FROM hashed
    ),
    regs AS (
      SELECT __bucket, max(__rho) AS __M FROM rho GROUP BY __bucket
    ),
    sk AS (
      SELECT CAST(count(*) AS BIGINT) AS n_buckets_hit,
             sum(CAST(power(2, {s} - __M) AS DECIMAL(38,0))) AS __sp
      FROM regs
    ),
    exact AS (
      SELECT CAST(count(DISTINCT __t) AS BIGINT) AS exact_distinct FROM t
    ),
    c AS (
      SELECT sk.n_buckets_hit,
        sk.__sp + CAST({m} - sk.n_buckets_hit AS DECIMAL(38,0)) *
          CAST({1 << s} AS DECIMAL(38,0)) AS __sum,
        exact.exact_distinct
      FROM sk, exact
    ),
    e AS (
      SELECT n_buckets_hit, exact_distinct, {est} AS __est FROM c
    ),
    cc AS (
      SELECT n_buckets_hit, exact_distinct, __est,
        {_hll_corrected_expr('__est', 'n_buckets_hit', m)} AS __corr
      FROM e
    )
    SELECT CAST({m} AS BIGINT) AS m, n_buckets_hit,
           round(__est, 6) AS raw_estimate,
           round(__corr, 6) AS corrected_estimate,
           exact_distinct,
           round(__est / CAST(exact_distinct AS DOUBLE) - 1.0, 6)
             AS rel_error,
           round(__corr / CAST(exact_distinct AS DOUBLE) - 1.0, 6)
             AS corrected_rel_error
    FROM cc
    """
