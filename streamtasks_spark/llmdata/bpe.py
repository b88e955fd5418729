"""Byte-pair-encoding tokenizer operators for LLM training pipelines.

- :func:`bpe_train` — learn a merge table over the corpus vocabulary
  (Sennrich, Haddow, Birch: "Neural Machine Translation of Rare Words
  with Subword Units", ACL 2016, §3.2 — the standard BPE learner).
- :func:`bpe_token_count` — per-document token counts under the
  learned BPE (the real sequence-length number packing/pricing needs,
  refining :func:`~streamtasks_spark.llmdata.textstats.text_stats`'s
  regex-count ``n_bpe_tokens`` estimate into the exact figure).
- :func:`bpe_encode` — apply a trained merge table to documents,
  returning the subword token stream per document.

The reference system has no tokenizer tier; this module is part of the
training-data surface (SURVEY.md §2 "beyond the reference" scope, like
the dedup/ANN tiers).

Algorithm (word-level BPE): tokenize normalized text with the shared
``[a-z0-9_]+|[^a-z0-9_ ]`` regex (word runs vs single punctuation /
non-ASCII symbols — the same class split
:mod:`~streamtasks_spark.llmdata.textstats` counts with); only word
tokens participate in merges, everything else stays atomic. Each word
becomes a symbol sequence (its characters plus a trailing ``</w>``
end-of-word symbol); ``n_merges`` rounds each count adjacent symbol
pairs weighted by word frequency, pick the most frequent pair
(ties: lowest ``(x, y)`` — both engines compare ASCII bytes), and fuse
it everywhere.

Engine-parity mechanics: a symbol sequence is stored as a delimited
string — every symbol wrapped in ``~`` (``~a~~b~~</w>~``) — so fusing
pair ``(x, y)`` is the plain string ``replace(seq, '~x~~y~', '~xy~')``
in BOTH engines. The double delimiter makes that replace exact BPE:
a pattern can only match at symbol boundaries (symbols never contain
``~``, and ``x`` must sit immediately after a delimiter, so it can
never match a symbol suffix), and left-to-right non-overlapping
``replace`` semantics — identical in Spark and DuckDB — fuse runs like
``a a a a → aa aa`` exactly as the reference BPE does. Regex-based
merging (the usual ``(?<!\\S)x y(?!\\S)`` lookarounds) is NOT portable:
DuckDB's RE2 has no lookbehind.

100 TB shape: the ONLY corpus-sized work is one tokenize→groupBy(word)
with map-side partial counts; the vocabulary it produces is bounded by
Heaps' law (≪ corpus size), and every merge round runs on that
vocabulary-sized table — the k-means-codebook cost model, not a corpus
scan per round. Each round's winning pair is a 1-row ``bounded_collect``
that re-enters the next round as LITERALS (the codebook-training
discipline of :func:`~streamtasks_spark.llmdata.similarity
.train_centroids`) — deliberately NOT an in-plan self-join: a chain
where round t's plan references round t−1 twice (pair count + fuse)
doubles the analyzed tree per round, and Catalyst analysis of the
2^n_merges-node lineage dwarfs the actual work (measured: minutes at
n_merges=10 on a 9-doc corpus; the literal form is linear and runs in
seconds). Encoding joins the corpus against the broadcast vocabulary.
Determinism: pair counts are exact BIGINT sums of word frequencies —
no float appears anywhere in training, so cross-engine and
cross-partitioning bit-equality holds by construction.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streamtasks_spark.core.frames import local_frame
from streamtasks_spark.core.state import manifest_read, replace_write
from streamtasks_spark.llmdata.dedup import (
    bounded_collect,
    norm_text,
    pin,
    spread,
)

# token regex over NORMALIZED (lowercased, whitespace-collapsed) text:
# word runs OR single other symbols — the lowered twin of textstats'
# _TOKEN_RE; explicit classes keep Java regex and RE2 in agreement
_BPE_TOKEN_RE = "[a-z0-9_]+|[^a-z0-9_ ]"
# full-match class for tokens that participate in merges; everything
# outside it (punctuation, non-ASCII letters) is atomic by definition,
# which also guarantees the '~' delimiter and the '</w>' marker can
# never collide with symbol text
_BPE_WORD_RE = "[a-z0-9_]+"
BPE_EOW = "</w>"


def bpe_tokens_expr(text_col: str, engine: str = "spark") -> str:
    """Token-list SQL fragment shared by train/encode and the oracles:
    all regex tokens of the normalized text, in document order."""
    if engine == "spark":
        return (
            f"regexp_extract_all({norm_text(text_col)}, "
            f"'{_BPE_TOKEN_RE}', 0)"
        )
    return (
        f"regexp_extract_all({norm_text(text_col, 'duck')}, "
        f"'{_BPE_TOKEN_RE}')"
    )


def _seq0_expr(word_col: str, engine: str) -> str:
    """Initial symbol sequence of a word: each character wrapped in the
    '~' delimiter, then the end-of-word symbol — '~a~~b~~</w>~'."""
    if engine == "spark":
        return (
            f"concat(regexp_replace({word_col}, '(.)', '~$1~'), "
            f"'~{BPE_EOW}~')"
        )
    return (
        f"regexp_replace({word_col}, '(.)', '~\\1~', 'g') || '~{BPE_EOW}~'"
    )


def _syms_expr(seq_col: str, engine: str) -> str:
    """Symbol array of a delimited sequence: strip the outer '~', split
    on the '~~' gaps."""
    if engine == "spark":
        return (
            f"split(substring({seq_col}, 2, length({seq_col}) - 2), '~~')"
        )
    return (
        f"string_split(substr({seq_col}, 2, length({seq_col}) - 2), '~~')"
    )


_MERGE_SCHEMA = (
    "merge_rank int, x string, y string, merged string, cnt bigint"
)

# Driver-local fit gate (r11 optimization): vocabularies at or under
# this many distinct words are pulled once (`limit(bound+1)` — driver-
# safe by construction, the bounded_collect discipline) and the merge
# loop runs in-process, replacing n_merges distributed argmax rounds
# (2-3 Spark jobs each) with ZERO extra jobs. The same size-gated
# driver fast path as dedup.connected_components' ``max_local_edges``
# union-find: above the bound the distributed learner below runs
# unchanged, so 100 TB corpora (whose Heaps-law vocabulary exceeds any
# driver bound) keep the vocabulary distributed. Parameterized for
# deployments via the env knob; 65,536 words ≈ a few MB of driver
# state and < 1 s of in-process counting.
_BPE_MAX_LOCAL_VOCAB = int(
    os.environ.get("SPARK_GRAFT_BPE_LOCAL_VOCAB", "65536")
)


def _bpe_fit_local(
    rows, n_merges: int, min_freq: int
) -> tuple[list[tuple], list[tuple]]:
    """Driver-local twin of the distributed merge learner — bit-identical
    by construction: exact integer pair counts (Python ints), ties to
    the lowest ``(x, y)`` (symbols are ASCII by the word-class
    construction, so Python's per-codepoint order equals both engines'
    byte order), and left-to-right non-overlapping fusion, which is
    exactly what the delimited-string ``replace`` does (symbols never
    contain ``~``, so every match aligns with symbol boundaries).

    Incremental pair bookkeeping (the standard Sennrich learner shape):
    a fused pair only changes the counts of words that contained it, so
    each round rescans just those words, keeping the loop fast at the
    gate's upper bound. Returns ``(merge rows, (word, freq, seq) rows)``
    with ``seq`` re-delimited to the exact string the replace chain
    would have produced."""
    words = [(r["word"], r["freq"]) for r in rows]
    syms: list[list[str]] = [
        list(w) + [BPE_EOW] for w, _ in words
    ]
    counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}
    for idx, ((_, freq), ss) in enumerate(zip(words, syms)):
        for i in range(len(ss) - 1):
            p = (ss[i], ss[i + 1])
            counts[p] = counts.get(p, 0) + freq
            where.setdefault(p, set()).add(idx)
    merges: list[tuple] = []
    for t in range(1, n_merges + 1):
        best = None
        for p, c in counts.items():
            if c >= min_freq:
                key = (-c, p[0], p[1])
                if best is None or key < best:
                    best = key
        if best is None:
            break  # provably empty forever — the reference early stop
        cnt, x, y = -best[0], best[1], best[2]
        merges.append((t, x, y, x + y, cnt))
        for idx in sorted(where.get((x, y), ())):
            ss = syms[idx]
            freq = words[idx][1]
            for i in range(len(ss) - 1):
                p = (ss[i], ss[i + 1])
                counts[p] -= freq
                if counts[p] == 0:
                    del counts[p]
                    del where[p]
                else:
                    where[p].discard(idx)
            out: list[str] = []
            i = 0
            n = len(ss)
            while i < n:
                if i + 1 < n and ss[i] == x and ss[i + 1] == y:
                    out.append(x + y)
                    i += 2
                else:
                    out.append(ss[i])
                    i += 1
            syms[idx] = out
            for i in range(len(out) - 1):
                p = (out[i], out[i + 1])
                counts[p] = counts.get(p, 0) + freq
                where.setdefault(p, set()).add(idx)
    seq_rows = [
        (w, f, "".join(f"~{s}~" for s in ss))
        for (w, f), ss in zip(words, syms)
    ]
    return merges, seq_rows


def _word_freqs(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(word, freq) over the corpus — the single corpus-sized stage of
    BPE training (map-side-combined groupBy; vocabulary out)."""
    toks = spread(docs, id_col).select(
        F.explode(F.expr(bpe_tokens_expr(text_col))).alias("word")
    )
    return (
        toks.filter(F.col("word").rlike(f"^{_BPE_WORD_RE}$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _bpe_fit(
    words: DataFrame, n_merges: int, min_freq: int,
    *, max_local_vocab: int | None = None,
) -> tuple[list[tuple], DataFrame]:
    """Run the ``n_merges``-round learner. Returns (merge rows as
    ``(merge_rank, x, y, merged, cnt)`` tuples, final seqs frame).

    Vocabularies at or under ``max_local_vocab`` (default
    :data:`_BPE_MAX_LOCAL_VOCAB`; 0 disables) take the driver-local
    fast path: ONE ``limit(bound+1)`` pull of the (word, freq) table —
    driver-safe whatever the true vocabulary size — then
    :func:`_bpe_fit_local`, whose results are bit-identical to the
    distributed loop below (pinned by tests/test_bpe.py both-paths
    parametrization). Over the bound, the distributed learner runs
    unchanged — the 100 TB path.

    The vocabulary base (word, freq, seq0) is :func:`pin`-ned once —
    every round's pair count replays only its own chain of narrow
    literal replaces over that cache, never the corpus tokenize. Each
    round pulls exactly ONE row (the argmax pair) to the driver and
    folds it back as literals; a round with no pair at ``min_freq``
    stops the loop (later rounds are provably also empty — pair counts
    are monotone under a no-op fuse), which is the reference learner's
    early stop."""
    bound = (
        _BPE_MAX_LOCAL_VOCAB if max_local_vocab is None else max_local_vocab
    )
    if bound > 0:
        probe = words.limit(bound + 1).collect()
        if len(probe) <= bound:
            merges, seq_rows = _bpe_fit_local(probe, n_merges, min_freq)
            seqs_local = local_frame(
                words.sparkSession, seq_rows,
                "word string, freq bigint, seq string",
            )
            return merges, seqs_local
        # over the bound: the probe cost one corpus tokenize pass — the
        # same pass the pin below pays — and the vocabulary stays
        # distributed from here on
    seqs = pin(
        words.select(
            "word", "freq", F.expr(_seq0_expr("word", "spark")).alias("seq")
        )
    )
    merges: list[tuple] = []
    pair_expr = (
        "transform(slice(__syms, 1, size(__syms) - 1), "
        "(s, i) -> named_struct('x', s, 'y', __syms[i + 1]))"
    )
    for t in range(1, n_merges + 1):
        pairs = (
            seqs.select(
                "freq", F.expr(_syms_expr("seq", "spark")).alias("__syms")
            )
            .select("freq", F.explode(F.expr(pair_expr)).alias("__p"))
            .select(
                "freq", F.col("__p.x").alias("x"), F.col("__p.y").alias("y")
            )
            .groupBy("x", "y")
            .agg(F.sum("freq").alias("cnt"))
        )
        win = bounded_collect(
            pairs.filter(F.col("cnt") >= min_freq)
            .orderBy(F.col("cnt").desc(), F.col("x").asc(), F.col("y").asc())
            .limit(1),
            1,
            "bpe merge argmax",
        )
        if not win:
            break
        x, y, cnt = win[0]["x"], win[0]["y"], win[0]["cnt"]
        merges.append((t, x, y, x + y, cnt))
        seqs = seqs.withColumn(
            "seq",
            F.replace(
                F.col("seq"), F.lit(f"~{x}~~{y}~"), F.lit(f"~{x}{y}~")
            ),
        )
    return merges, seqs


def bpe_train(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = 10,
    min_freq: int = 2,
    max_local_vocab: int | None = None,
) -> DataFrame:
    """Learn the BPE merge table: ``(merge_rank, x, y, merged, cnt)``
    in merge order — rank t fused symbol pair (x, y) whose adjacent
    count (weighted by word frequency) was ``cnt`` at round t. Fewer
    than ``n_merges`` rows come back when the vocabulary exhausts pairs
    at ``min_freq`` (the learner's early stop). Deterministic: exact
    integer counts, ties broken on lowest (x, y). The returned frame
    is codebook-class metadata (each row was a 1-row bounded pull from
    a distributed aggregate — see the module docstring for why the
    literal fold beats an in-plan chain)."""
    merges, _ = _bpe_fit(
        _word_freqs(docs, id_col, text_col), n_merges, min_freq,
        max_local_vocab=max_local_vocab,
    )
    return local_frame(docs.sparkSession, merges, _MERGE_SCHEMA).orderBy(
        "merge_rank"
    )


def bpe_token_count(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = 10,
    min_freq: int = 2,
    max_local_vocab: int | None = None,
) -> DataFrame:
    """Per-document token counts under a BPE trained on the same
    corpus: ``(id, n_tokens, n_word_tokens, n_bpe_tokens)`` — regex
    tokens, the subset that are merge-eligible words, and the exact
    subword count (word tokens contribute their trained symbol count,
    atomic tokens contribute 1). Documents whose normalized text has
    zero tokens are absent (mirrored by the oracle). All-integer
    output: bit-stable across engines and partitionings.

    100 TB shape: train on the vocabulary (above), then ONE broadcast
    hash join of the token stream against the vocabulary's symbol
    counts and a map-side-combined groupBy(id)."""
    _, seqs = _bpe_fit(
        _word_freqs(docs, id_col, text_col), n_merges, min_freq,
        max_local_vocab=max_local_vocab,
    )
    vocab = seqs.select(
        "word",
        F.size(F.expr(_syms_expr("seq", "spark"))).cast("long").alias("__n_sym"),
    )
    toks = spread(docs, id_col).select(
        F.col(id_col),
        F.explode(F.expr(bpe_tokens_expr(text_col))).alias("__tok"),
    )
    return (
        toks.join(
            F.broadcast(vocab), toks["__tok"] == vocab["word"], "left"
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count("word").alias("n_word_tokens"),
            F.sum(F.coalesce(F.col("__n_sym"), F.lit(1).cast("long"))).alias(
                "n_bpe_tokens"
            ),
        )
        .orderBy(id_col)
    )


def bpe_vocab(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = 10,
    min_freq: int = 2,
    max_local_vocab: int | None = None,
) -> DataFrame:
    """The trained vocabulary itself — one row per corpus word with
    its frequency, final symbol count, and the space-joined subword
    encoding (``low → 'low </w>'`` after a (l,o)+(lo,w) merge chain).
    This is the direct artifact a trainer consumes next to the merge
    table; deterministic (word-ordered), all strings ASCII by the
    word-class construction."""
    _, seqs = _bpe_fit(
        _word_freqs(docs, id_col, text_col), n_merges, min_freq,
        max_local_vocab=max_local_vocab,
    )
    return seqs.select(
        "word",
        "freq",
        F.expr(_syms_expr("seq", "spark")).alias("__syms"),
    ).select(
        "word",
        "freq",
        F.size("__syms").cast("long").alias("n_sym"),
        F.array_join("__syms", " ").alias("encoding"),
    ).orderBy("word")


def oracle_bpe_vocab_sql(
    source_sql: str = "SELECT doc_id, text FROM documents",
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = 10,
    min_freq: int = 2,
) -> str:
    """DuckDB twin of :func:`bpe_vocab`."""
    ctes, sfin, _ = _duck_bpe_ctes(n_merges, min_freq, text_col, id_col)
    syms = _syms_expr("seq", "duck")
    return f"""
    WITH src AS ({source_sql}),
    {ctes}
    SELECT word, freq,
      CAST(len({syms}) AS BIGINT) AS n_sym,
      array_to_string({syms}, ' ') AS encoding
    FROM {sfin} ORDER BY word
    """


def bpe_fertility(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    n_merges: int = 10,
    min_freq: int = 2,
    max_local_vocab: int | None = None,
) -> DataFrame:
    """Tokenizer quality as data (the tier's :func:`ann_recall`
    analog): per-``group_col`` fertility — subword tokens emitted per
    word token, the standard tokenizer-efficiency metric (a fertility
    of 1.0 means every word is one token; higher means the vocabulary
    serves that slice poorly and its documents cost more sequence
    length per word). Output ``(group, n_docs, n_words, n_subwords,
    fertility_micro)`` where ``fertility_micro`` is the exact integer
    ``(n_subwords * 1_000_000) div n_words`` — floor division in both
    engines, so the probe is bit-stable with no float discipline.

    Only word tokens count (atomics are 1 subword by definition and
    would just dilute the metric). 100 TB shape: the train chain plus
    ONE broadcast join and a map-side-combined groupBy on the
    (bounded) group key."""
    _, seqs = _bpe_fit(
        _word_freqs(docs, id_col, text_col), n_merges, min_freq,
        max_local_vocab=max_local_vocab,
    )
    vocab = seqs.select(
        "word",
        F.size(F.expr(_syms_expr("seq", "spark"))).cast("long").alias(
            "__n_sym"
        ),
    )
    toks = (
        spread(docs, id_col)
        .select(
            F.col(id_col),
            F.col(group_col),
            F.explode(F.expr(bpe_tokens_expr(text_col))).alias("__tok"),
        )
        .filter(F.col("__tok").rlike(f"^{_BPE_WORD_RE}$"))
    )
    return (
        toks.join(F.broadcast(vocab), toks["__tok"] == vocab["word"])
        .groupBy(group_col)
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_words"),
            F.sum("__n_sym").alias("n_subwords"),
        )
        .select(
            group_col,
            "n_docs",
            "n_words",
            "n_subwords",
            F.expr(
                "CAST((n_subwords * 1000000L) DIV n_words AS BIGINT)"
            ).alias("fertility_micro"),
        )
        # asc_nulls_last pins the tie to DuckDB's ASC default (NULLS
        # LAST); Spark's bare asc is NULLS FIRST — latent divergence on
        # a NULL group value
        .orderBy(F.col(group_col).asc_nulls_last())
    )


def bpe_encode(
    docs: DataFrame,
    merges: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_merges: int = 4096,
) -> DataFrame:
    """Apply a TRAINED merge table (any frame with ``merge_rank, x,
    y`` — e.g. :func:`bpe_train`'s output read back from storage) to a
    corpus: ``(id, bpe_tokens array<string>, n_bpe_tokens)`` with
    subwords in document order. This is the serving-side half —
    training and encoding corpora need not be the same (unseen words
    simply fuse as far as the learned merges reach, standard BPE
    open-vocabulary behavior).

    The merge table is pulled to the driver (``bounded_collect``,
    ``max_merges``-bounded — merge tables are codebook-class metadata)
    and compiled into a chained literal ``replace`` Column applied to
    the DISTINCT token table, so per-occurrence work is one broadcast
    join regardless of how long the merge chain is."""
    rows = bounded_collect(
        merges.select("merge_rank", "x", "y"), max_merges, "bpe_encode merges"
    )
    return bpe_encode_frozen(
        docs,
        sorted(
            ((r["merge_rank"], r["x"], r["y"]) for r in rows),
        ),
        id_col=id_col,
        text_col=text_col,
    )


def bpe_encode_frozen(
    docs: DataFrame,
    merge_rows: list[tuple],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """:func:`bpe_encode` against an ALREADY-COLLECTED merge table —
    ``merge_rows`` as ``(merge_rank, x, y, ...)`` tuples sorted by
    rank. The frozen-model form streaming twins use: collect once at
    stream start, compile once, apply per batch (a doc's encoding is a
    pure function of (text, merges), so per-batch results union to the
    one-shot batch encode bit-exactly, independent of batching)."""
    toks = spread(docs, id_col).select(
        F.col(id_col),
        F.posexplode(F.expr(bpe_tokens_expr(text_col))).alias(
            "__pos", "__tok"
        ),
    )
    seq = F.expr(_seq0_expr("__tok", "spark"))
    for _, x, y in ((m[0], m[1], m[2]) for m in merge_rows):
        seq = F.replace(
            seq, F.lit(f"~{x}~~{y}~"), F.lit(f"~{x}{y}~")
        )
    enc = (
        toks.select("__tok")
        .distinct()
        .withColumn("__seq", seq)
        .select(
            "__tok",
            F.when(
                F.col("__tok").rlike(f"^{_BPE_WORD_RE}$"),
                F.expr(_syms_expr("__seq", "spark")),
            )
            .otherwise(F.array(F.col("__tok")))
            .alias("__syms"),
        )
    )
    return (
        toks.join(F.broadcast(enc), "__tok")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__pos", "__syms"))
                    ),
                    lambda s: s["__syms"],
                )
            ).alias("bpe_tokens")
        )
        .select(
            id_col,
            "bpe_tokens",
            F.size("bpe_tokens").cast("long").alias("n_bpe_tokens"),
        )
        .orderBy(id_col)
    )


def save_merges(merges: DataFrame, path: str) -> None:
    """Persist a trained merge table through the versioned-manifest
    commit protocol (:mod:`streamtasks_spark.core.state` — the same
    crash-safety story as the index classes: a crash before the
    pointer flip leaves the previous merge table live, which matters
    because a HALF-written merge table silently changes every token
    count downstream). The tokenizer is the artifact a production run
    stores next to the dataset manifest; loading a different version
    than the one the corpus was priced with is a budget bug."""
    replace_write(merges.coalesce(1), path)


def load_merges(spark, path: str) -> DataFrame:
    """Read the live committed merge table back (snapshot-isolated
    against a concurrent :func:`save_merges`). Raises if nothing has
    been committed."""
    df = manifest_read(spark, path)
    if df is None:
        raise ValueError(f"no committed BPE merge table at {path}")
    return df.orderBy("merge_rank")


def _duck_bpe_ctes(
    n_merges: int, min_freq: int, text_col: str, id_col: str
) -> tuple[str, str, str]:
    """DuckDB CTE chain reproducing :func:`_bpe_fit` exactly (same
    integer pair counts, same (cnt desc, x, y) argmax, same delimited
    replace fuse). Expects a ``src`` CTE in scope; returns
    (cte_sql, final_seqs_cte, merges_cte). The ``__toks`` CTE it also
    emits carries (id, token) for encode-side consumers.

    Every chain CTE is ``AS MATERIALIZED``: each round references the
    previous round TWICE (pair count + fuse), so DuckDB's default CTE
    inlining re-expands the tree ~2^n_merges times — measured 30 s vs
    0.09 s at sf0.01 with n_merges=10. (The Spark twin dodges the same
    blowup by folding each round's argmax back as literals.)"""
    parts = [
        f"""__toks AS MATERIALIZED (
      SELECT {id_col},
        unnest({bpe_tokens_expr(text_col, "duck")}) AS __tok
      FROM src
    )""",
        f"""__w AS MATERIALIZED (
      SELECT __tok AS word, CAST(count(*) AS BIGINT) AS freq
      FROM __toks WHERE regexp_full_match(__tok, '{_BPE_WORD_RE}')
      GROUP BY __tok
    )""",
        f"""__s0 AS MATERIALIZED (
      SELECT word, freq, {_seq0_expr("word", "duck")} AS seq FROM __w
    )""",
    ]
    for t in range(1, n_merges + 1):
        syms = _syms_expr("seq", "duck")
        parts.append(f"""__p{t} AS MATERIALIZED (
      SELECT x, y, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        SELECT freq,
          unnest(list_slice(syms, 1, len(syms) - 1)) AS x,
          unnest(list_slice(syms, 2, len(syms))) AS y
        FROM (SELECT freq, {syms} AS syms FROM __s{t - 1})
      ) GROUP BY x, y
    )""")
        parts.append(f"""__m{t} AS MATERIALIZED (
      SELECT CAST({t} AS INTEGER) AS merge_rank, x, y,
             x || y AS merged, cnt
      FROM __p{t} WHERE cnt >= {min_freq}
      ORDER BY cnt DESC, x ASC, y ASC LIMIT 1
    )""")
        parts.append(f"""__s{t} AS MATERIALIZED (
      SELECT s.word, s.freq,
        CASE WHEN w.x IS NULL THEN s.seq
             ELSE replace(s.seq, '~' || w.x || '~~' || w.y || '~',
                          '~' || w.x || w.y || '~') END AS seq
      FROM __s{t - 1} s LEFT JOIN __m{t} w ON TRUE
    )""")
    union = " UNION ALL ".join(
        f"SELECT * FROM __m{t}" for t in range(1, n_merges + 1)
    )
    parts.append(f"__mall AS ({union})")
    return ",\n    ".join(parts), f"__s{n_merges}", "__mall"


def oracle_bpe_train_sql(
    source_sql: str = "SELECT doc_id, text FROM documents",
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = 10,
    min_freq: int = 2,
) -> str:
    """DuckDB twin of :func:`bpe_train` — the full unrolled learner."""
    ctes, _, mall = _duck_bpe_ctes(n_merges, min_freq, text_col, id_col)
    return f"""
    WITH src AS ({source_sql}),
    {ctes}
    SELECT merge_rank, x, y, merged, cnt FROM {mall} ORDER BY merge_rank
    """


def oracle_bpe_fertility_sql(
    source_sql: str = "SELECT doc_id, text, source FROM documents",
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    n_merges: int = 10,
    min_freq: int = 2,
) -> str:
    """DuckDB twin of :func:`bpe_fertility` — same trained vocabulary,
    same integer floor-division fertility."""
    ctes, sfin, _ = _duck_bpe_ctes(n_merges, min_freq, text_col, id_col)
    return f"""
    WITH src AS ({source_sql}),
    {ctes},
    __v AS (
      SELECT word, CAST(len({_syms_expr("seq", "duck")}) AS BIGINT)
               AS __n_sym
      FROM {sfin}
    ),
    __gt AS (
      SELECT {id_col}, {group_col},
        unnest({bpe_tokens_expr(text_col, "duck")}) AS __tok
      FROM src
    ),
    __g AS (
      SELECT t.{group_col},
        CAST(count(DISTINCT t.{id_col}) AS BIGINT) AS n_docs,
        CAST(count(*) AS BIGINT) AS n_words,
        CAST(sum(v.__n_sym) AS BIGINT) AS n_subwords
      FROM __gt t JOIN __v v ON t.__tok = v.word
      WHERE regexp_full_match(t.__tok, '{_BPE_WORD_RE}')
      GROUP BY t.{group_col}
    )
    SELECT {group_col}, n_docs, n_words, n_subwords,
      CAST((n_subwords * 1000000) // n_words AS BIGINT)
        AS fertility_micro
    FROM __g ORDER BY {group_col} ASC
    """


def oracle_bpe_token_count_sql(
    source_sql: str = "SELECT doc_id, text FROM documents",
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = 10,
    min_freq: int = 2,
) -> str:
    """DuckDB twin of :func:`bpe_token_count` — trains the same BPE in
    CTEs, then recounts the token stream against the final vocabulary."""
    ctes, sfin, _ = _duck_bpe_ctes(n_merges, min_freq, text_col, id_col)
    return f"""
    WITH src AS ({source_sql}),
    {ctes},
    __v AS (
      SELECT word, CAST(len({_syms_expr("seq", "duck")}) AS BIGINT)
               AS __n_sym
      FROM {sfin}
    )
    SELECT t.{id_col},
      CAST(count(*) AS BIGINT) AS n_tokens,
      CAST(count(v.word) AS BIGINT) AS n_word_tokens,
      CAST(sum(coalesce(v.__n_sym, 1)) AS BIGINT) AS n_bpe_tokens
    FROM __toks t LEFT JOIN __v v ON t.__tok = v.word
    GROUP BY t.{id_col}
    ORDER BY t.{id_col}
    """
