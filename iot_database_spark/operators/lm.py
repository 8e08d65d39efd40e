"""N-gram language-model quality scoring, Spark-first.

Production corpus-curation pipelines (CCNet, Gopher/MassiveText, most
open-data reproductions) rank documents by the perplexity of a small
n-gram LM — a cheap, strong fluency/quality proxy that complements the
rule batteries in operators/textstats.py. The reference has no text
surface at all; this is a training-data superset component like
dedup/bpe/search.

Scale shape (the 100 TB contract):

- LM TRAINING is two keyed aggregations over the corpus: context
  counts ((n-1)-gram occurrences, one explode + groupBy) and n-gram
  counts (one slice-transform explode + groupBy). Both outputs are
  vocabulary-sized, not corpus-sized, at any order.
- SCORING computes each DISTINCT n-gram's smoothed log-probability
  exactly once, then joins those partials back onto the exploded
  document stream and integer-sums per document — Python never touches
  a row, and the corpus-sized exchange is the one unavoidable
  (doc, gram) shuffle.
- Cross-engine determinism follows operators/search.py's BM25 recipe:
  the per-gram partial is ONE IEEE division, ONE ln, one multiply,
  floor-scaled to 1e-6 units (bigint); per-document totals are integer
  sums, which are partial-order-independent where double sums are not.
  Caveat (r9 advice): ln() is ~0.5-1 ulp-accurate and engines' libm
  implementations need not agree bit-for-bit, so a log value landing
  within an ulp of a scaled-integer boundary could floor differently
  across engines — a theoretical one-micro flip the parity gate would
  surface; everything AFTER the floor is exact integer arithmetic.

Self-scoring note: the LM here is trained on the scored corpus itself
(the standard bootstrap when no external reference corpus is wired in),
so every n-gram the scorer meets exists in the counts table; an
external reference corpus (`train_df`) takes the smoothed OOV fallback
for unseen grams instead of dropping them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["ngram_lm_counts", "ngram_lm_score"]

# Scoring-join strategy gate (r11). The scoring join's probe side is
# the corpus-sized (doc, gram) stream; its build side is the PRUNED
# model (vocabulary-sized, sublinear under min_count — at order 3
# nearly all grams are singletons). Left to Catalyst the build side's
# size is estimated through two aggregations and a join, so the
# optimizer plans a sort-merge join that shuffles the whole probe
# stream on the (ctx, w) string key — the single largest exchange in
# the LM family. Broadcasting the model instead makes scoring a
# map-side hash join: the corpus never shuffles on the gram axis, and
# the per-doc aggregation's map-side combine leaves only a
# doc-count-bounded exchange. Output is IDENTICAL either way (a join
# strategy, not a semantics change).
#
# The gate is the train corpus's on-disk bytes (session.source_bytes —
# the same stat helper the spread router uses), scaled by whether the
# model is PRUNED: at min_count >= 2 the model measures ~2% of corpus
# bytes serialized (sf1 trigram), so 4 GiB of corpus keeps the
# broadcast under ~100 MB — far under Spark's 8 GB broadcast cap and a
# trivial per-executor cost next to shuffling the corpus. At the
# min_count=1 DEFAULT the model is every distinct corpus n-gram —
# near-corpus-scale serialized (the module's n·log n note), so the 2%
# measurement does not apply and the gate drops to 128 MiB of source
# (worst-case ~a same-order broadcast, still executor-safe) rather
# than risking a multi-GiB broadcast at the 4 GiB line (r11 advice).
# Above the gate (or when the source can't be statted cheaply:
# in-memory frames, object stores) the sort-merge plan stands — at
# 100 TB the model is billions of rows and the shuffle is the right
# call.
_BROADCAST_MODEL_MAX_SOURCE_BYTES = 4 << 30
_BROADCAST_MODEL_MAX_SOURCE_BYTES_UNPRUNED = 128 << 20


def _broadcast_model(df: DataFrame, min_count: int = 1) -> bool:
    from iot_database_spark.session import source_bytes

    total = source_bytes(df)
    if total is None:
        return False
    gate = (
        _BROADCAST_MODEL_MAX_SOURCE_BYTES
        if min_count > 1
        else _BROADCAST_MODEL_MAX_SOURCE_BYTES_UNPRUNED
    )
    return total <= gate

# Add-one (Laplace) smoothing: p(w | ctx) = (c_gram + 1) / (c_ctx + V).
# Simple, zero-free, and exactly reproducible in ANSI SQL — Kneser-Ney
# would buy a better proxy at the cost of a multi-pass discount
# estimation that has no bit-exact SQL twin.
_MICRO = 1_000_000.0


def _tokens(text_col: str) -> F.Column:
    return F.split(F.lower(F.col(text_col)), " ")


def _gram_structs(n: int) -> F.Column:
    """(ctx, w) struct per n-gram window of the `ws` array column: ctx
    is the (n-1)-word context joined back with ' ' — collision-FREE
    because tokens come from split-on-space and therefore cannot contain
    the separator (any OTHER separator byte could appear inside a token
    and collide; the r8 sf3 probe also measured array<string> shuffle
    keys ~30% slower than the equivalent single string at 18M-position
    scoring joins, so the string key is both safe and the fast shape) —
    and w the final word, read in place (element_at) rather than via a
    throwaway slice. ONE definition shared by training and scoring: the
    cross-engine determinism story depends on both sides producing
    identical grams."""
    return F.transform(
        F.sequence(F.lit(1), F.size("ws") - (n - 1)),
        lambda i: F.struct(
            F.array_join(F.slice("ws", i, n - 1), " ").alias("ctx"),
            F.element_at("ws", i + F.lit(n - 1)).alias("w"),
        ),
    )


def ngram_lm_counts(
    df: DataFrame, text: str = "text", n: int = 2
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(ctx_counts, gram_counts, vocab_size) for an order-`n` LM.

    ctx_counts: (ctx string — the (n-1)-gram space-joined, see
    _gram_structs, c1) — occurrences of each
    (n-1)-gram; gram_counts: (ctx, w, c2); vocab_size: one-row frame
    (v bigint) counting DISTINCT unigrams (the standard smoothing
    denominator at every order). Each is a partial-aggregated scan —
    nothing corpus-sized survives; at the default n=2 the vocabulary
    count reads the already-built context table instead of paying a
    third corpus scan. Context counts are plain (n-1)-gram occurrence
    counts (a document's trailing context never precedes a word;
    add-one smoothing absorbs the off-by-one vs strict prefix
    counts)."""
    if n < 2:
        raise ValueError(f"ngram LM needs order >= 2, got {n}")
    ws = df.select(_tokens(text).alias("ws"))
    size = F.size("ws")
    ctx_grams = F.transform(
        F.sequence(F.lit(1), size - (n - 2)),
        lambda i: F.array_join(F.slice("ws", i, n - 1), " "),
    )
    ctx = (
        ws.filter(size >= n - 1)
        .select(F.explode(ctx_grams).alias("ctx"))
        .groupBy("ctx")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    grams = (
        ws.filter(size >= n)
        .select(F.explode(_gram_structs(n)).alias("g"))
        .select("g.ctx", "g.w")
        .groupBy("ctx", "w")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    if n == 2:
        # contexts ARE the unigrams: |ctx table| = |vocab|, no new scan
        vocab = ctx.agg(F.count(F.lit(1)).alias("v"))
    else:
        vocab = (
            ws.select(F.explode("ws").alias("w"))
            .agg(F.count_distinct("w").alias("v"))
        )
    return ctx, grams, vocab


def ngram_lm_score(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    train_df: DataFrame | None = None,
    n: int = 2,
    min_count: int = 1,
) -> DataFrame:
    """Per-document n-gram-LM log-probability:
    (id_col, n_ngrams, lm_logprob_micro) — lm_logprob_micro is the sum
    over the document's n-grams of floor(1e6 * ln((c2+1)/(c1+V))), an
    exact BIGINT at any scale; mean per-gram log-prob (the perplexity
    proxy pipelines threshold on) is lm_logprob_micro / n_ngrams / 1e6
    — left to the caller so the graded columns stay integer-exact.

    Documents with fewer than `n` tokens have no n-grams and are not
    scored (mirror any fluency filter: nothing to judge).

    With an external `train_df`, n-grams the reference corpus never saw
    still score: the smoothed fallback is ln((0+1)/(c1+V)) when the
    context is known and ln(1/(0+V)) when it is not — the same add-one
    formula with c2 (and, for unknown contexts, c1) at zero, so no
    document is dropped and OOV text is penalized, not ignored. On the
    default self-trained path every n-gram is in the counts table and
    the fallback never fires (the DuckDB oracle relies on that).

    `min_count` PRUNES the model: n-grams seen fewer than `min_count`
    times are dropped from the partials table (the CCNet/KenLM
    `--prune` move). Without pruning the model is every distinct
    corpus n-gram — n·log n growth, measured ~3.5x at a 3x data step
    (r8 scale probe) — with it, the long singleton tail (the bulk of
    any Zipfian gram table) disappears and the scoring join's build
    side grows sublinearly. Pruned grams score via the UNIFORM backoff
    ln(1/V) — deliberately not the known-context add-one fallback,
    which would re-join the corpus-sized (doc, gram) stream against
    the ctx table a second time (the exact exchange the r8 27x->3x fix
    removed); backoff-to-uniform keeps scoring at ONE model exchange
    and the DuckDB oracle mirrors it operation-for-operation."""
    corpus = train_df if train_df is not None else df
    ctx, grams, vocab = ngram_lm_counts(corpus, text, n)
    # build-side strategy for the scoring join — see _broadcast_model
    model = F.broadcast if _broadcast_model(corpus, min_count) else (lambda m: m)
    if min_count > 1:
        grams = grams.filter(F.col("c2") >= min_count)
    # per-DISTINCT-gram partial: one division -> one ln -> floor-scale;
    # mirrored operation-for-operation by the DuckDB oracle
    partials = (
        grams.join(ctx, "ctx")
        .crossJoin(F.broadcast(vocab))
        .select(
            "ctx",
            "w",
            F.floor(
                F.log(
                    (F.col("c2") + F.lit(1.0))
                    / (F.col("c1") + F.col("v").cast("double"))
                )
                * F.lit(_MICRO)
            )
            .cast("bigint")
            .alias("lp_micro"),
        )
    )
    size = F.size("ws")
    doc_grams = (
        df.select(F.col(id_col), _tokens(text).alias("ws"))
        .filter(size >= n)
        .select(id_col, F.explode(_gram_structs(n)).alias("g"))
        .select(id_col, "g.ctx", "g.w")
    )
    if train_df is None:
        # Self-trained: every document n-gram IS in `partials` (same
        # corpus), so the OOV fallback can never fire — and paying for
        # it costs a SECOND corpus-sized exchange (the ctx left join
        # re-shuffles every (doc, gram) row on the array key; the r8
        # sf1 probe measured the trigram scorer at 27x for 10x data
        # before this split, 3x after). One (gram -> model) exchange is
        # the whole scoring cost, exactly the module docstring's
        # contract.
        if min_count <= 1:
            return (
                doc_grams.join(
                    model(partials.select("ctx", "w", "lp_micro")),
                    ["ctx", "w"],
                )
                .groupBy(id_col)
                .agg(
                    F.count(F.lit(1)).alias("n_ngrams"),
                    F.sum("lp_micro").cast("bigint").alias("lm_logprob_micro"),
                )
            )
        # Pruned model: grams below min_count are not in `partials`
        # any more — back off to the uniform prior ln(1/V) via a left
        # join + coalesce. STILL one model exchange: the broadcast
        # one-row vocab and the pruned partials are the only build
        # sides (no ctx re-join — see docstring).
        uni_lp = (
            F.floor(
                F.log(F.lit(1.0) / F.col("v").cast("double")) * F.lit(_MICRO)
            )
            .cast("bigint")
        )
        return (
            doc_grams.join(
                model(partials.select("ctx", "w", "lp_micro")),
                ["ctx", "w"],
                "left",
            )
            .crossJoin(F.broadcast(vocab))
            .select(id_col, F.coalesce("lp_micro", uni_lp).alias("lp_micro"))
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).alias("n_ngrams"),
                F.sum("lp_micro").cast("bigint").alias("lm_logprob_micro"),
            )
        )
    # External reference corpus: left joins + smoothed fallback so OOV
    # grams score instead of vanishing — ln((0+1)/(c1+V)) when the
    # context is known, ln(1/(0+V)) when it is not
    oov_lp = (
        F.floor(
            F.log(
                F.lit(1.0)
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v").cast("double"))
            )
            * F.lit(_MICRO)
        )
        .cast("bigint")
    )
    return (
        doc_grams.join(model(partials), ["ctx", "w"], "left")
        .join(model(ctx), "ctx", "left")
        .crossJoin(F.broadcast(vocab))
        .select(id_col, F.coalesce("lp_micro", oov_lp).alias("lp_micro"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum("lp_micro").cast("bigint").alias("lm_logprob_micro"),
        )
    )
