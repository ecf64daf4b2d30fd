"""Corpus-curation operators for LLM pretraining pipelines
(beyond-reference surface, same tier as the dedup family).

Every operator is pure DataFrame algebra over JVM built-ins — no Python
in the hot path — and deterministic (hash- or id-derived decisions, no
RNG), so each has an exact DuckDB oracle twin in ``__spark_entry__``.

Scale notes (100 TB):

- :func:`pack_sequences` packs within hash shards, so the cumulative-sum
  window is ``partitionBy(shard)`` — never the single-partition global
  window that ``Window.orderBy`` alone would plan. One shuffle.
- :func:`contamination_check` joins on 60-bit gram hashes, not gram
  strings: the shuffle carries 8 bytes per gram and the join is an
  integer equi-join. Test-set grams are usually small enough to
  broadcast; the default stays a shuffled join (AQE may elect the
  broadcast at runtime from observed sizes).
- :func:`repetition_stats` is explode → two partial-aggregated groupBys
  on (doc, gram-hash) — embarrassingly parallel, no self-join.
- :func:`stratified_sample` and :func:`length_quantile_filter` are a
  filter and a per-stratum window respectively; both shuffle at most
  once on the stratum key.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dataeng_azure_spotify_spark.functions.mathx import (
    portable_exp,
    portable_ln,
)
from dataeng_azure_spotify_spark.functions.text import (
    bpe_ish_token_count,
    hash60,
    tokens_col,
)
from dataeng_azure_spotify_spark.operators.artifact import FittedArtifact

#: Salt for the sampling hash — decouples the keep/drop decision from any
#: other hash-derived decision (dedup buckets, shard assignment) made on
#: the same key.
SAMPLE_SALT = "samp"


def pack_sequences(
    df: DataFrame,
    budget_tokens: int = 512,
    shards: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Grid-aligned contiguous sequence packing: assign documents to
    fixed-token-budget training bins.

    Documents are sharded by ``id % shards`` (at scale: one shard per
    packer task), ordered by id within the shard, and a document's bin
    is ``floor(prefix_token_sum / budget)`` — GRID binning, one window
    pass, no sequential state. For documents at or under the budget
    this matches greedy open-bin packing; a document LARGER than the
    budget spans several grid slots, so the following document lands on
    the next grid line (its bin may be underfilled and intermediate bin
    ids are skipped). True stateful greedy packing (next bin always =
    previous + 1) is a sequential fold — per-shard O(n) in one task —
    which gives up exactly the parallel one-pass shape this operator
    exists for; oversized documents should be chunked first
    (:func:`chunk_documents`). Deterministic: same corpus → same bins,
    any engine.

    Returns one row per (shard, bin_id): doc count, token total, id span.
    """
    n_tok = bpe_ish_token_count(text_col)
    base = df.select(
        F.col(id_col),
        F.pmod(F.col(id_col), F.lit(shards)).cast("long").alias("shard"),
        n_tok.alias("n_tok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = base.withColumn(
        "bin_id",
        F.floor(
            F.coalesce(F.sum("n_tok").over(w), F.lit(0)) / budget_tokens
        ).cast("long"),
    )
    return binned.groupBy("shard", "bin_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.min(id_col).alias("min_doc_id"),
        F.max(id_col).alias("max_doc_id"),
    )


def _gram_hashes(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(doc, g) — distinct word n-gram hash60s per document (docs with
    < n tokens contribute nothing)."""
    toks = F.col("__toks")
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    return (
        df.select(F.col(id_col).alias("doc"), tokens_col(text_col).alias("__toks"))
        .filter(F.size(toks) >= n)
        .select("doc", F.explode(F.array_distinct(grams)).alias("gram"))
        .select("doc", hash60(F.col("gram")).alias("g"))
    )


def _train_test_grams(
    df: DataFrame, text_col: str, id_col: str, n: int, test_mod: int
) -> tuple[DataFrame, DataFrame]:
    """The SHARED held-out-slice definition for the contamination pair
    (:func:`contamination_check` reports, :func:`decontaminate`
    removes): ``(train grams, test grams)`` under the deterministic
    ``id % test_mod == 0`` split. One helper so the checker and the
    remover can never drift apart on what counts as held-out or how
    grams join."""
    grams = _gram_hashes(df, text_col, id_col, n)
    is_test = F.pmod(F.col("doc"), F.lit(test_mod)) == 0
    return grams.filter(~is_test), grams.filter(is_test)


def contamination_check(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    test_mod: int = 97,
) -> DataFrame:
    """Train/test n-gram contamination: which training documents share
    ≥ 1 word n-gram with the held-out set?

    The held-out set is the deterministic ``id % test_mod == 0`` slice
    (in production: the actual eval benchmarks). A training document is
    contaminated if any of its distinct n-grams hash-matches a test
    gram; the report carries how many grams overlap and how many test
    docs are implicated — the decontamination shape used for pretraining
    corpora (n-gram collision against eval sets).

    Returns (doc_id, n_shared_grams, n_test_docs) for contaminated
    training docs only.
    """
    train, test_g = _train_test_grams(df, text_col, id_col, n, test_mod)
    test = test_g.select(F.col("doc").alias("tdoc"), "g")
    return (
        train.join(test, "g")
        .groupBy("doc")
        .agg(
            F.countDistinct("g").cast("long").alias("n_shared_grams"),
            F.countDistinct("tdoc").cast("long").alias("n_test_docs"),
        )
        .withColumnRenamed("doc", id_col)
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Intra-document repetition metrics — the boilerplate/spam signal
    (degenerate, repetitive text is a known pretraining-quality hazard).

    Per document over its NON-distinct word n-grams: total grams,
    distinct grams, the most frequent gram's count, and two ratios —
    ``dup_gram_ratio`` (1 − distinct/total: what fraction of grams are
    repeats) and ``top_gram_ratio`` (share of the single most repeated
    gram). Docs with < n tokens have no grams and are excluded.
    """
    toks = F.col("__toks")
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    per_gram = (
        df.select(F.col(id_col).alias("doc"), tokens_col(text_col).alias("__toks"))
        .filter(F.size(toks) >= n)
        .select("doc", F.explode(grams).alias("gram"))
        .select("doc", hash60(F.col("gram")).alias("g"))
        .groupBy("doc", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = F.sum("c").cast("long")
    distinct_ = F.count(F.lit(1)).cast("long")
    top = F.max("c").cast("long")
    return (
        per_gram.groupBy("doc")
        .agg(
            total.alias("total_grams"),
            distinct_.alias("distinct_grams"),
            top.alias("top_gram_count"),
        )
        .select(
            F.col("doc").alias(id_col),
            "total_grams",
            "distinct_grams",
            "top_gram_count",
            (
                F.lit(1.0)
                - F.col("distinct_grams").cast("double")
                / F.col("total_grams").cast("double")
            ).alias("dup_gram_ratio"),
            (
                F.col("top_gram_count").cast("double")
                / F.col("total_grams").cast("double")
            ).alias("top_gram_ratio"),
        )
    )


def stratified_sample(
    df: DataFrame,
    rates_pct: dict[str, int],
    default_pct: int = 100,
    strata_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum downsampling — the language/source
    rebalance step of a pretraining mixture (e.g. keep 40% of the
    dominant language, all of the rest).

    Keep decision: ``hash60("samp|" + id) % 100 < rate(stratum)`` — a
    pure filter (no shuffle, no RNG), reproducible across engines and
    runs, and independent of row order/partitioning. Rates are integer
    percents; strata absent from ``rates_pct`` use ``default_pct``.
    """
    bucket = F.pmod(
        hash60(F.col(id_col).cast("string"), salt=SAMPLE_SALT), F.lit(100)
    )
    rate = F.lit(default_pct)
    for stratum, pct in sorted(rates_pct.items()):
        rate = F.when(F.col(strata_col) == stratum, F.lit(pct)).otherwise(rate)
    return df.filter(bucket < rate)


def length_quantile_filter(
    df: DataFrame,
    lo: float = 0.05,
    hi: float = 0.95,
    strata_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-stratum length-band filter: keep documents whose token count
    sits within the [lo, hi] percent-rank band of their stratum —
    trimming the truncated-fragment head and concatenation-artifact tail
    per language rather than with one global cutoff.

    Exact ``percent_rank`` over (n_tokens, id) — a total order, so the
    band edges are deterministic. One shuffle on the stratum key. (At
    extreme per-stratum cardinality swap for approx quantile bounds +
    join; exact is preferred while it fits, and the oracle is exact.)
    """
    n_tok = bpe_ish_token_count(text_col)
    w = Window.partitionBy(strata_col).orderBy("n_tokens", id_col)
    return (
        df.select(F.col(id_col), F.col(strata_col), n_tok.alias("n_tokens"))
        .withColumn("pr", F.percent_rank().over(w))
        .filter((F.col("pr") >= lo) & (F.col("pr") <= hi))
        .select(id_col, strata_col, "n_tokens")
    )


def chunk_documents(
    df: DataFrame,
    chunk_size: int = 128,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-token training chunks with overlap —
    the step between curation and sequence packing that turns documents
    into model-context-sized samples.

    Chunk c starts at token ``1 + c·(chunk_size − overlap)`` and carries
    ``chunk_size`` tokens (the final chunk may be shorter); consecutive
    chunks share ``overlap`` tokens so no span is split across a
    boundary without context. Empty documents yield no chunks.

    Pure per-row ``sequence``/``slice`` expressions + one explode — no
    shuffle at all; output size is the training corpus itself, streamed
    straight to the sink.
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be smaller than chunk_size")
    stride = chunk_size - overlap
    toks = F.col("__toks")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(toks) - overlap, F.lit(1)), F.lit(stride)
    )
    chunk = F.slice(toks, F.col("start"), chunk_size)
    return (
        df.select(F.col(id_col), tokens_col(text_col).alias("__toks"))
        .filter(F.size(toks) > 0)
        .select(id_col, "__toks", F.explode(starts).alias("start"))
        .select(
            F.col(id_col),
            ((F.col("start") - 1) / stride).cast("long").alias("chunk_id"),
            F.size(chunk).cast("long").alias("n_chunk_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


def source_mix(
    df: DataFrame,
    group_cols: tuple[str, str] = ("source", "lang"),
    text_col: str = "text",
) -> DataFrame:
    """Corpus-composition report per (source, stratum): doc count, token
    total, and each cell's share of all docs — the numbers a mixture-
    weighting step consumes. The global total joins back as a broadcast
    scalar (one row), not a second pass over the data. Shares are
    parts-per-million via exact integer division (floating-point shares
    round differently across engines)."""
    n_tok = bpe_ish_token_count(text_col)
    cells = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(n_tok).cast("long").alias("total_tokens"),
    )
    total = cells.select(F.sum("n_docs").alias("__all"))
    return cells.join(F.broadcast(total)).select(
        *group_cols,
        "n_docs",
        "total_tokens",
        F.expr("CAST(n_docs * 1000000 DIV __all AS BIGINT)").alias(
            "doc_share_ppm"
        ),
    )


def cap_per_source(
    df: DataFrame,
    key_col: str = "source",
    order_col: str = "doc_id",
    max_per_key: int = 10,
) -> DataFrame:
    """Per-source quota: keep at most ``max_per_key`` documents per
    ``key_col``, chosen deterministically in ``order_col`` order — the
    domain-cap step that stops one crawl source from dominating the mix.

    One shuffle on the source key; the ``row_number() <= k`` filter
    plans as ``WindowGroupLimit``, so each map task forwards at most k
    rows per source it sees before the exchange — a hot source costs
    (k × tasks) shuffled rows, not its full row count.
    """
    w = Window.partitionBy(key_col).orderBy(order_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_per_key)
        .drop("__rn")
    )


def sample_exact_n(
    df: DataFrame,
    n: int,
    id_col: str = "doc_id",
    salt: str = SAMPLE_SALT,
) -> DataFrame:
    """Exactly-n uniform sample, deterministic on any engine.

    Rows rank by ``hash60(salt || id)`` (ties by id) and the first n
    win — a seeded shuffle without RNG state, so the same corpus gives
    the same sample everywhere and re-runs are replay-safe.
    :func:`stratified_sample` keeps a hash-gated *fraction* (no global
    coordination); this keeps an exact *count*, and the sort+limit plans
    as ``TakeOrderedAndProject`` (per-partition heads, tiny driver
    merge) — never a full global sort.
    """
    rank = hash60(F.concat(F.lit(salt + "|"), F.col(id_col).cast("string")))
    return (
        df.withColumn("__rk", rank)
        .orderBy("__rk", id_col)
        .limit(n)
        .drop("__rk")
    )


def shard_corpus(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    salt: str = SAMPLE_SALT,
) -> DataFrame:
    """Deterministic hash sharding: adds ``shard int`` in ``[0, n_shards)``.

    Shard = seeded 60-bit id hash mod n_shards — a stateless global
    shuffle for training-data delivery: every engine (and every re-run)
    places each document in the same shard, shards are balanced in
    expectation with no coordination, and downstream writers emit one
    file per shard (``write_sharded``). Contrast with ``repartition``,
    whose assignment depends on the partitioner instance and is neither
    portable nor replay-stable.
    """
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    rk = hash60(F.col(id_col).cast("string"), salt=salt + "|shard")
    return df.withColumn("shard", F.pmod(rk, F.lit(n_shards)).cast("int"))


def write_sharded(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    mode: str = "overwrite",
) -> None:
    """Land the corpus as ``shard=K`` directories, one file per shard
    (each shard repartitioned to a single writer task). Readers stream
    shard-by-shard with partition pruning; a re-run writes byte-stable
    content per shard because membership is hash-derived."""
    (
        shard_corpus(df, n_shards, id_col=id_col)
        .repartition(n_shards, F.col("shard"))
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )


def sample_weighted_n(
    df: DataFrame,
    n: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = SAMPLE_SALT,
) -> DataFrame:
    """Exactly-n weighted sample without replacement (deterministic A-ES).

    Efraimidis-Spirakis priority sampling: each row draws a pseudo-
    uniform ``u`` from the seeded 60-bit id hash (no RNG state — same
    corpus, same sample, replay-safe) and ranks by the exponential race
    key ``-ln(u) / w``; the n smallest win, which selects without
    replacement with probability proportional to ``weight_col`` at each
    draw. One pass, and the sort+limit plans as
    ``TakeOrderedAndProject`` (per-partition heads, tiny driver merge) —
    the weighted counterpart of :func:`sample_exact_n`.

    Non-positive/NULL weights are excluded (they'd break the race).
    The rank key is double math including ``ln`` — cross-engine libm
    may differ in the last ulp, which could only flip the selection on
    a near-exact rank tie (measure-zero for hash-derived keys); ties
    break by id either way.
    """
    u = (
        hash60(F.concat(F.lit(salt + "|w|"), F.col(id_col).cast("string")))
        .cast("double")
        + F.lit(1.0)
    ) / F.lit(float(1 << 60))
    key = -F.log(u) / F.col(weight_col).cast("double")
    return (
        df.filter(F.col(weight_col).cast("double") > 0)
        .withColumn("__rk", key)
        .orderBy("__rk", id_col)
        .limit(n)
        .drop("__rk")
    )


def decontaminate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    test_mod: int = 97,
) -> DataFrame:
    """The REMOVE step after :func:`contamination_check`: drop every
    training document sharing at least one word n-gram with the held-out
    slice, and return the surviving training corpus (the test slice is
    excluded by definition — it is eval data, not training data).

    Same gram-hash equi-join as the check; the kill set is distinct doc
    ids, applied with a left-anti join — at 100 TB that is one 8-byte-key
    shuffle plus an anti join on the id, no text moves twice.
    """
    train_g, test_g = _train_test_grams(df, text_col, id_col, n, test_mod)
    contaminated = (
        train_g.join(test_g.select("g").distinct(), "g")
        .select(F.col("doc").alias(id_col))
        .distinct()
    )
    train = df.filter(F.pmod(F.col(id_col), F.lit(test_mod)) != 0)
    return train.join(contaminated, id_col, "left_anti")


def strip_shared_boilerplate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document boilerplate removal at n-gram-span granularity —
    the substring-level dedup step (Lee et al., "Deduplicating Training
    Data Makes Language Models Better") bounded to word n-grams so it
    stays pure DataFrame algebra with an exact SQL twin.

    A word n-gram is *shared* when it occurs in ≥ ``min_docs`` distinct
    documents (headers, footers, license blurbs, templated navigation).
    Every token position covered by ANY occurrence of a shared gram is
    boilerplate; the cleaned text is the remaining tokens in original
    order. Documents with < ``n`` tokens pass through untouched.

    Returns (id_col, n_tokens, n_boilerplate_tokens, cleaned_text) for
    every input document — deterministic, no RNG.

    Scale (100 TB): the shared-gram table is tiny relative to the corpus
    (grams crossing the ``min_docs`` bar) and joins on 60-bit hashes —
    AQE elects broadcast when it fits. The heavy stages are the two
    explodes (grams, token positions), both embarrassingly parallel and
    partial-aggregated before their shuffles; the covered-position
    ``distinct`` and the final per-doc groupBys shuffle on doc id only.
    Nothing is quadratic and nothing collects to the driver.
    """
    toks = F.col("__toks")
    base = df.select(F.col(id_col).alias("doc"), tokens_col(text_col).alias("__toks"))
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    gram_structs = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("pos"), F.array_join(F.slice(toks, i + 1, n), " ").alias("gram")
        ),
    )
    grams = (
        base.filter(F.size(toks) >= n)
        .select("doc", F.explode(gram_structs).alias("pg"))
        .select(
            "doc",
            F.col("pg.pos").alias("pos"),
            hash60(F.col("pg.gram")).alias("g"),
        )
    )
    shared = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("g")
    )
    covered = (
        grams.join(shared, "g")
        .select(
            "doc",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))).alias(
                "tp"
            ),
        )
        .distinct()
    )
    tok_pos = base.select("doc", F.posexplode("__toks").alias("tp", "tok"))
    kept = tok_pos.join(covered, ["doc", "tp"], "left_anti")
    cleaned = kept.groupBy("doc").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tp", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("cleaned_text")
    )
    boiler = covered.groupBy("doc").agg(
        F.count(F.lit(1)).cast("long").alias("n_boilerplate_tokens")
    )
    return (
        base.select("doc", F.size("__toks").cast("long").alias("n_tokens"))
        .join(boiler, "doc", "left")
        .join(cleaned, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            "n_tokens",
            F.coalesce("n_boilerplate_tokens", F.lit(0)).cast("long").alias(
                "n_boilerplate_tokens"
            ),
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        )
    )


def ngram_lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Statistical quality score: how typical is each document under a
    word-bigram language model trained on the corpus itself — the
    shape of CCNet/Gopher's perplexity filter (docs scoring far below
    the corpus norm are boilerplate soup, encoding garbage, or word
    salad), with the LM reduced to bigram MLE so the whole thing is two
    count aggregations and stays engine-exact.

    Per document: ``lm_score = avg over bigram occurrences of
    P(w2 | w1) = C(w1 w2) / C(w1 ·)`` where the counts are corpus-wide
    bigram and bigram-context occurrences (every observed bigram has
    C ≥ 1, so no smoothing is needed and scores are in (0, 1]).
    Documents with < 2 tokens have no bigrams and are excluded.

    Cross-engine determinism (module note + ranking.py): probabilities
    are IEEE divisions of exact integers (identical everywhere), then
    quantized to 1e-9 fixed point and summed as BIGINTs so per-doc
    accumulation is exact and order-free; the final normalization is a
    single double division with the same operation tree in the DuckDB
    twin. The BIGINT sum bounds per-doc weighted mass at ~9e18 — fine
    for any real document (a doc would need ~10^9 bigram occurrences to
    overflow).

    Returns (id_col, n_bigrams, lm_score).

    Scale (100 TB): explode → three partial-aggregated groupBys (doc
    grams, corpus bigram counts, corpus context counts) + two integer
    equi-joins on 60-bit hashes. The count tables are vocab-sized
    (≪ corpus) so AQE elects broadcast; nothing quadratic, nothing on
    the driver. Train/score on different corpora by materializing the
    count tables once and reusing them — the same amortization as
    IvfIndex (here the one-shot self-scoring form keeps the exact
    SQL-oracle twin).
    """
    from dataeng_azure_spotify_spark.operators.dedup import _spread

    toks = F.col("__toks")
    # _spread: the tokenize + per-bigram md5 below is the query's CPU
    # floor; a single-split input would run it on one core (guide §2.5)
    base = _spread(df).select(
        F.col(id_col).alias("doc"), tokens_col(text_col).alias("__toks")
    )
    idx = F.sequence(F.lit(0), F.size(toks) - 2)
    bigram_structs = F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(toks, i + 1).alias("w1"),
            F.array_join(F.slice(toks, i + 1, 2), " ").alias("gram"),
        ),
    )
    occ = (
        base.filter(F.size(toks) >= 2)
        .select("doc", F.explode(bigram_structs).alias("bg"))
        .select(
            "doc",
            hash60(F.col("bg.w1")).alias("h1"),
            hash60(F.col("bg.gram")).alias("g"),
        )
        .groupBy("doc", "h1", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
        # lazy-checkpoint: occ feeds THREE subtrees (cb, cu, and the
        # scoring join) and exchange reuse does not fire across them,
        # so the corpus explode + md5 + (doc,h1,g) shuffle ran three
        # times per query (measured r13: three overlapping ~1.3-2.3 s
        # single-task jobs). Post-aggregation (doc,h1,g,o) is far
        # narrower than the exploded grams; one materialization costs
        # about what its shuffle write already paid (guide §3.3, the
        # tfidf/bm25 r13 fix).
        .localCheckpoint(eager=False)
    )
    cb = occ.groupBy("g").agg(F.sum("o").cast("long").alias("cb"))
    cu = occ.groupBy("h1").agg(F.sum("o").cast("long").alias("cu"))
    p = F.col("cb").cast("double") / F.col("cu").cast("double")
    q = F.floor(p * F.lit(1e9) + F.lit(0.5)).cast("long")
    per = (
        occ.join(cb, "g")
        .join(cu, "h1")
        .select("doc", "o", q.alias("q"))
    )
    return per.groupBy("doc").agg(
        F.sum("o").cast("long").alias("n_bigrams"),
        (
            F.sum(F.col("o") * F.col("q")).cast("double")
            / (F.sum("o").cast("double") * F.lit(1e9))
        ).alias("lm_score"),
    ).withColumnRenamed("doc", id_col)


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 8192,
) -> DataFrame:
    """DSIR-style data selection via importance resampling (Xie et al.
    2023, "Data Selection for Language Models via Importance
    Resampling"): score every raw document by how target-like its
    hashed bag-of-n-grams is, and keep the top ``k``.

    Features are unigrams + word bigrams hashed into ``buckets`` bins
    (the paper's hashed n-gram feature space). With add-one-smoothed
    bucket models p (target) and q (raw), a document with bucket
    counts c_b has log importance weight

        log w = Σ_b c_b·(ln(t_b+1) − ln(r_b+1)) + n·(ln(R+B) − ln(T+B))

    where t_b/r_b are corpus bucket totals, T/R their sums, n = Σ c_b.
    The paper samples ∝ w with Gumbel noise; this implementation takes
    the deterministic top-k (ties broken by ascending id), which is
    the same selection in the zero-temperature limit and keeps the
    exact DuckDB twin.

    Cross-engine exactness (the ``ngram_lm_score`` fixed-point
    pattern, hardened): the per-bucket log-ratio is quantized ONCE to
    integer nano-units — ``floor(lr·1e9 + 0.5)`` — so every
    per-document aggregate is exact BIGINT arithmetic, immune to float
    summation-order drift. The log itself is
    :func:`~dataeng_azure_spotify_spark.functions.mathx.portable_ln`,
    NOT libm ``ln``: Spark's and DuckDB's ``ln`` disagree in the last
    ulp on ~0.8% of integer inputs (measured), which would flip the
    quantization at floor boundaries; portable_ln is bit-identical
    across engines by construction.
    Documents with no tokens have no features and are never selected.

    Returns (``id_col``, n_grams, logw_nano) for the k selected
    documents — logw_nano is the exact integer weight, emittable and
    hash-checkable.

    Scale (100 TB): two corpus scans (raw features once —
    checkpointed, reused for totals and scoring — target features
    once), three partial-aggregated groupBys, one broadcast join
    against the ≤``buckets``-row weight table, and a
    TakeOrderedAndProject top-k. Nothing corpus-sized shuffles twice;
    nothing quadratic; the weight table is bounded by the bucket
    count, not the vocabulary.
    """
    B = int(buckets)
    raw_c, tgt_b = _dsir_fit_tables(raw, target, id_col, text_col, B)
    w, cq_df = _dsir_weights(raw_c, tgt_b, B)
    scored = _dsir_score_counts(raw_c, w, cq_df)
    return (
        scored.orderBy(F.col("logw_nano").desc(), "doc")
        .limit(int(k))
        .select(F.col("doc").alias(id_col), "n_grams", "logw_nano")
    )


def _dsir_fit_tables(
    raw: DataFrame, target: DataFrame, id_col: str, text_col: str, buckets: int
):
    """(raw_c, tgt_b) — the two featurization tables every DSIR fit
    needs (shared by :func:`dsir_select` and :meth:`DsirModel.fit` so
    the feature pipeline cannot drift between them). Raw features feed
    BOTH the totals and the scoring join — one lazy checkpoint so the
    explode+groupBy scan runs once; the target bucket table (≤ buckets
    rows) likewise feeds both the weight table and the T scalar —
    checkpointed too so the target corpus is scanned once, not twice."""
    raw_c = _dsir_bucket_counts(raw, id_col, text_col, buckets).localCheckpoint(
        eager=False
    )
    tgt_b = (
        _dsir_bucket_counts(target, id_col, text_col, buckets)
        .groupBy("b")
        .agg(F.sum("c").cast("long").alias("t_b"))
        .localCheckpoint(eager=False)
    )
    return raw_c, tgt_b


def _dsir_bucket_counts(
    df: DataFrame, id_col: str, text_col: str, buckets: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Per-doc hashed unigram+bigram bucket counts (doc, b, c) — the
    DSIR feature space. Tokenless documents produce no rows.

    ``carry`` names extra per-document columns of ``df`` to thread
    through the explode and the grouping (they're functionally
    dependent on doc, so the groups are unchanged) — how the NB
    quality fit (``operators/quality_nb.py``) keeps its label on the
    gram table WITHOUT a second corpus-sized shuffle to join it back.

    The input fans out to cluster parallelism first (``_spread`` —
    the dedup/substring/ranking pattern, guide §2.5 input skew): the
    tokenize + per-gram md5 here is the CPU floor of the whole
    DSIR/NB family, and a single-split parquet input would otherwise
    run it on one core (measured r13: the featurization stage of
    every NB/DSIR query was one 1.2-2.3 s single-task stage at bench
    scale). A multi-file 100 TB table already has enough splits and
    skips the shuffle entirely.
    """
    from dataeng_azure_spotify_spark.operators.dedup import _spread

    t = F.col("__t")
    extras = [F.col(c) for c in carry]
    base = _spread(df).select(
        F.col(id_col).alias("doc"), *extras, tokens_col(text_col).alias("__t")
    ).filter(F.size("__t") >= 1)
    idx = F.sequence(F.lit(0), F.size(t) - 2)
    bigrams = F.when(
        F.size(t) >= 2,
        F.transform(idx, lambda i: F.array_join(F.slice(t, i + 1, 2), " ")),
    ).otherwise(F.array().cast("array<string>"))
    return (
        base.select("doc", *carry, F.explode(F.concat(t, bigrams)).alias("gram"))
        .select(
            "doc",
            *carry,
            F.pmod(hash60(F.col("gram")), F.lit(buckets)).alias("b"),
        )
        .groupBy("doc", *carry, "b")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def _dsir_weights(raw_c: DataFrame, tgt_b: DataFrame, buckets: int):
    """(weights, cq): the per-bucket nano-unit log-ratio table
    (b, lrq) over every bucket observed in EITHER corpus, and the
    1-row length-term constant (cq) — both exact BIGINT once
    quantized (portable_ln; see dsir_select).

    FULL outer join: a bucket seen only in the target corpus carries
    its true positive weight ln(t_b+1) − ln(1) — dropping it (a left
    join from the raw side) would under-score exactly the most
    target-like NEW documents when the persisted model scores a
    corpus beyond the one it was fit on. For :func:`dsir_select`
    itself the extra rows are unreachable (every scored bucket has
    r_b ≥ 1), so its oracle twin is unaffected."""
    raw_b = raw_c.groupBy("b").agg(F.sum("c").cast("long").alias("r_b"))
    lr = portable_ln(F.col("t_b") + F.lit(1)) - portable_ln(
        F.col("r_b") + F.lit(1)
    )
    w = (
        raw_b.join(tgt_b, "b", "full")
        .na.fill({"t_b": 0, "r_b": 0})
        .select("b", F.floor(lr * F.lit(1e9) + F.lit(0.5)).cast("long").alias("lrq"))
    )
    # coalesce: an empty corpus sums to NULL, which would silently
    # NULL every downstream weight — 0 keeps the algebra total
    scal = tgt_b.agg(
        F.coalesce(F.sum("t_b"), F.lit(0)).alias("tt")
    ).crossJoin(raw_b.agg(F.coalesce(F.sum("r_b"), F.lit(0)).alias("rr")))
    const_q = F.floor(
        (
            portable_ln(F.col("rr") + F.lit(buckets))
            - portable_ln(F.col("tt") + F.lit(buckets))
        )
        * F.lit(1e9)
        + F.lit(0.5)
    ).cast("long")
    return w, scal.select(const_q.alias("cq"))


def _dsir_score_counts(
    counts: DataFrame, w: DataFrame, cq_df: DataFrame
) -> DataFrame:
    """(doc, n_grams, logw_nano) from bucket counts + weight table.
    LEFT join: a bucket never seen in the training raw corpus has
    r_b = t_b = 0, so its exact log-ratio is ln(1) − ln(1) = 0 — the
    coalesce IS the model's value for unseen features, not a fudge."""
    return (
        counts.join(F.broadcast(w), "b", "left")
        .na.fill({"lrq": 0})
        .groupBy("doc")
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            F.sum(F.col("c") * F.col("lrq")).cast("long").alias("s"),
        )
        .crossJoin(F.broadcast(cq_df))
        .select(
            "doc",
            "n_grams",
            (F.col("s") + F.col("n_grams") * F.col("cq")).alias("logw_nano"),
        )
    )


class DsirModel(FittedArtifact):
    """Persisted DSIR importance model — the fit-once / score-many
    artifact form of :func:`dsir_select` (the IvfIndex / NearDupLabels
    pattern applied to data selection): at 100 TB nobody re-featurizes
    the raw corpus per selection run, and a streaming filter needs
    FIXED weights to stay deterministic across micro-batches.

    Layout under ``path``: ``weights/`` parquet (b, lrq — ≤ ``buckets``
    rows) and the ``meta/`` commit marker (cq, buckets, id_col,
    text_col) — the fit-once artifact protocol of :mod:`~.artifact`, so
    a crashed fit or refit reads as absent and a handle pins meta and
    weights together (one read per model instance; the streaming
    admitter calls score() once per micro-batch).

    :meth:`score` applies the frozen weights to ANY corpus: buckets
    never seen when fitting carry lrq = 0 — which is the model's exact
    value for them (r_b = t_b = 0 ⇒ ln(1) − ln(1)), not a fallback.
    Scoring is stateless row-parallel DataFrame algebra, so it drops
    into ``foreachBatch`` unchanged — :class:`DsirAdmitter` wraps it
    for :func:`...streaming.admission.run_admission_stream`.
    """

    META_SCHEMA = "cq long, buckets int, id_col string, text_col string"
    PINNED = {"weights": "b long, lrq long"}

    # -- lifecycle -------------------------------------------------------
    @classmethod
    def fit(
        cls,
        raw: DataFrame,
        target: DataFrame,
        path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        buckets: int = 8192,
    ) -> "DsirModel":
        B = int(buckets)
        raw_c, tgt_b = _dsir_fit_tables(raw, target, id_col, text_col, B)
        w, cq_df = _dsir_weights(raw_c, tgt_b, B)
        # fail BEFORE anything is written: a model fit on a featureless
        # corpus scores every document identically and is never what
        # the caller meant
        scal = cq_df.first()
        if tgt_b.first() is None or raw_c.first() is None:
            raise ValueError(
                "DsirModel.fit: raw and target must each contain at "
                "least one tokenful document — an empty side makes "
                "every weight degenerate"
            )
        return cls._commit(
            raw.sparkSession, path, {"weights": w},
            (int(scal["cq"]), B, id_col, text_col),
        )

    def weights(self) -> DataFrame:
        return self._snapshot()[1]["weights"]

    # -- scoring ---------------------------------------------------------
    def score(self, df: DataFrame) -> DataFrame:
        """(id_col, n_grams, logw_nano) for every tokenful document of
        ``df`` under the frozen weights. Works on batch DataFrames and
        inside ``foreachBatch``; deterministic across replays."""
        m = self._meta()
        counts = _dsir_bucket_counts(df, m.id_col, m.text_col, m.buckets)
        cq_df = self.spark.createDataFrame([(int(m.cq),)], "cq long")
        return _dsir_score_counts(counts, self.weights(), cq_df).select(
            F.col("doc").alias(m.id_col), "n_grams", "logw_nano"
        )

    def select(self, df: DataFrame, k: int) -> DataFrame:
        """Deterministic top-``k`` most target-like documents of ``df``
        (ties broken by ascending id) — :func:`dsir_select` semantics
        under the frozen weights."""
        m = self._meta()
        return (
            self.score(df)
            .orderBy(F.col("logw_nano").desc(), m.id_col)
            .limit(int(k))
        )


class DsirAdmitter:
    """Streaming admission by target-likeness: admit the documents of
    each micro-batch whose frozen-model log-weight clears
    ``min_logw_nano``. Stateless and deterministic (the model is a
    read-only artifact), so a replayed epoch reproduces its rows
    exactly — the ``run_id`` the admission framework passes needs no
    tracking. Drop into
    :func:`...streaming.admission.run_admission_stream` as-is."""

    def __init__(self, model: DsirModel, min_logw_nano: int):
        self.model = model
        self.min_logw_nano = int(min_logw_nano)

    def admit(self, batch: DataFrame, run_id: str | None = None) -> DataFrame:
        m = self.model._meta()
        keep = self.model.score(batch).filter(
            F.col("logw_nano") >= self.min_logw_nano
        )
        return batch.join(keep.select(m.id_col), m.id_col, "semi")


def nano_quota_limit(alpha: float) -> int:
    """Largest per-source count whose nano-unit weight
    ``floor(c^alpha·1e9 + ½)`` is guaranteed to fit a BIGINT with
    headroom: ``c ≤ exp(ln(2^62/1e9)/alpha) ≈ exp(22.25/alpha)``.
    Past it Spark's long arithmetic wraps silently while DuckDB
    errors (divergent failure modes), and ``alpha·ln c`` leaves
    ``portable_exp``'s exact domain."""
    return min(
        int(math.exp((62 * math.log(2.0) - math.log(1e9)) / alpha)),
        2**62,
    )


def _guard_nano_quota(counts: DataFrame, alpha: float) -> DataFrame:
    """Fail LOUDLY, per source, when a (src, c_s) count row exceeds
    :func:`nano_quota_limit` — before quantization can wrap. The
    alpha=1.0 path wraps at c_s·1e9 > 2^63 and alpha=0.5 cannot wrap
    (sqrt(2^63)·1e9 < 2^63), but all paths share the guard for one
    uniform documented bound."""
    c_lim = nano_quota_limit(alpha)
    return counts.withColumn(
        "c_s",
        F.when(
            F.col("c_s") > F.lit(c_lim),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"temperature_mix: source count exceeds {c_lim} "
                        f"(the BIGINT nano-quota bound at alpha={alpha}); "
                        "pre-aggregate or shard the source: "
                    ),
                    F.col("src").cast("string"),
                )
            ).cast("long"),
        ).otherwise(F.col("c_s")),
    )


def temperature_mix(
    df: DataFrame,
    total_n: int,
    alpha: float = 0.5,
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = SAMPLE_SALT,
) -> DataFrame:
    """Temperature-scaled source mixing (the multilingual-pretraining
    rebalance of mT5 / XLM-R): draw exactly ``total_n`` documents with
    per-source quotas ∝ ``c_s^alpha`` — ``alpha`` < 1 up-samples small
    sources so head sources stop dominating the mixture.

    Cross-engine exactness: ``alpha`` may be any value in (0, 1].
    1.0 is proportional (pure integer weights); 0.5 uses sqrt (the ONE
    fractional power IEEE 754 requires correctly rounded, bit-equal
    everywhere); any other alpha — e.g. the 0.3/0.7 real mT5/XLM-R
    settings — goes through :func:`...functions.mathx.portable_pow`
    (``exp(alpha·ln c)`` over fixed IEEE trees), which is bit-identical
    across engines where libm ``pow`` is not. Weights are quantized to
    nano-units once, then apportionment is pure BIGINT arithmetic:
    base quota = ⌊total_n·w_s / Σw⌋ with the leftover seats assigned
    by LARGEST REMAINDER (ties to the lexicographically smaller
    source) — the standard apportionment that sums exactly to
    ``total_n``. A quota larger than a source's population is capped
    at the population (the shortfall is reported, not silently
    redistributed — redistribution loops are sequential and the gap is
    the caller's signal to lower alpha or total_n).

    Within a source, the quota picks the ``hash60(salt || id)``-
    smallest documents (ties by id) — the :func:`sample_exact_n`
    seeded-shuffle discipline, replay-safe, no RNG state.

    Returns the selected documents: (``id_col``, ``source_col``,
    src_quota, src_available). Scale: one grouped count (tiny), the
    apportionment window over the SOURCE table (≤ #sources rows), one
    per-source selection window over the corpus — a single corpus
    shuffle on ``source_col``; skewed sources parallelize within the
    rank window's partition only, so salt very-hot sources upstream if
    one source is most of the corpus.
    """
    if not (0.0 < alpha <= 1.0):
        raise ValueError(
            "temperature_mix: alpha must be in (0, 1] — alpha > 1 "
            "down-samples small sources (never the rebalance intent) "
            "and pushes portable_pow outside its exactness domain"
        )
    counts = _guard_nano_quota(
        df.groupBy(F.col(source_col).alias("src")).agg(
            F.count(F.lit(1)).cast("long").alias("c_s")
        ),
        alpha,
    )
    if alpha == 1.0:
        wq = F.col("c_s") * F.lit(1_000_000_000)
    elif alpha == 0.5:
        # sqrt is correctly rounded by IEEE mandate — keep the cheaper,
        # exactly-rounded path for the most common temperature
        wq = F.floor(
            F.sqrt(F.col("c_s").cast("double")) * F.lit(1e9) + F.lit(0.5)
        ).cast("long")
    else:
        # c^alpha = exp(alpha·ln c), STAGED across two projections.
        # Column trees have no let-binding, so the one-expression
        # portable_pow(c_s, alpha) inlines the ~250-node portable_ln
        # tree into every one of the exp tree's ~50 references to its
        # argument; Catalyst expands that shared DAG to a tree on every
        # transform, and each action re-optimizes — measured r8:
        # ~5s of driver-side planning PER count() at any sf
        # (docs/BENCH_NOTES.md). With the ln staged as an attribute
        # both trees stay small; CollapseProject keeps the projections
        # split because the intermediate is non-cheap and
        # multiply-referenced.
        counts = counts.withColumn(
            "__alnc", F.lit(float(alpha)) * portable_ln(F.col("c_s"))
        )
        wq = F.floor(
            portable_exp(F.col("__alnc")) * F.lit(1e9) + F.lit(0.5)
        ).cast("long")
    weighted = counts.select("src", "c_s", wq.alias("wq"))
    tot = weighted.agg(F.sum("wq").alias("sw"))
    seats = (
        weighted.crossJoin(F.broadcast(tot))
        .select(
            "src",
            "c_s",
            (F.lit(int(total_n)) * F.col("wq")).alias("num"),
            "sw",
        )
        .select(
            "src",
            "c_s",
            # integer `div`, not double `/`+cast: a double quotient can
            # round up across the floor boundary at large magnitudes
            F.expr("num div sw").alias("base"),
            F.pmod(F.col("num"), F.col("sw")).alias("rem"),
        )
    )
    wrem = Window.orderBy(F.col("rem").desc(), F.col("src").asc())
    wtot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    quotas = (
        seats.withColumn("rk", F.row_number().over(wrem))
        .withColumn("extra", F.lit(int(total_n)) - F.sum("base").over(wtot))
        .select(
            "src",
            "c_s",
            F.least(
                F.col("base")
                + (F.col("rk") <= F.col("extra")).cast("long"),
                F.col("c_s"),
            ).alias("src_quota"),
        )
    )
    rank = hash60(F.concat(F.lit(salt + "|"), F.col(id_col).cast("string")))
    wsel = Window.partitionBy("src").orderBy("__rk", id_col)
    return (
        df.select(F.col(id_col), F.col(source_col).alias("src"))
        .withColumn("__rk", rank)
        .join(F.broadcast(quotas), "src")
        .withColumn("__pos", F.row_number().over(wsel))
        .filter(F.col("__pos") <= F.col("src_quota"))
        .select(
            id_col,
            F.col("src").alias(source_col),
            "src_quota",
            F.col("c_s").alias("src_available"),
        )
    )


def blocklist_filter(
    df: DataFrame,
    blocklist: "tuple[str, ...] | list[str]",
    max_blocked_ppm: int = 40000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style bad-words gate (Raffel et al. 2020 §2.2 drop documents
    containing blocklisted words; RefinedWeb/Gopher run the same stage
    with a ratio threshold instead of any-hit): per-document blocked
    token accounting plus the keep flag a curation pipeline filters
    on. Returns (``id_col``, n_tokens, n_blocked, blocked_ppm, keep)
    where ``blocked_ppm`` is the FLOORED parts-per-million REPORT of
    whitespace tokens (``tokens_col`` semantics — blank text → 0
    tokens → 0 ppm) and ``keep`` is the exact rational comparison
    ``n_blocked/n_tokens ≤ max_blocked_ppm/1e6`` (so ``max_blocked_ppm
    = 0`` is C4's any-hit drop at any corpus size; at floor
    boundaries — e.g. 1 blocked of 3 tokens vs a 333333 cutoff —
    ``keep`` can be stricter than comparing the floored report).
    Matching is exact token equality — case/normalization is the
    caller's concern, as in the C4 recipe.

    The ``keep`` decision compares EXACT integers —
    ``n_blocked·1e6 ≤ max_blocked_ppm·n_tokens`` — never the floored
    ``blocked_ppm`` report: a floored ratio reads 0 ppm for one bad
    token in a >1M-token document and would wave the any-hit case
    through (review r9). NULL text is 0 tokens → 0 blocked → kept.

    Scale: pure JVM row-parallel expressions (array filter + size on
    the token array), no shuffle, no UDF; the blocklist is a literal
    in the plan (wordlists are KBs). One corpus scan."""
    from dataeng_azure_spotify_spark.functions.text import tokens_col

    words = sorted(set(str(w) for w in blocklist))
    toks = F.coalesce(
        tokens_col(text_col), F.array().cast("array<string>")
    )
    n_tokens = F.size(toks).cast("long")
    n_blocked = F.size(
        F.filter(toks, lambda t: t.isin(words))
    ).cast("long")
    ppm = (
        F.when(n_tokens == 0, F.lit(0))
        .otherwise(
            F.floor(
                (n_blocked.cast("double") * F.lit(1000000.0)) / n_tokens
            )
        )
        .cast("long")
    )
    keep = n_blocked * F.lit(1000000) <= F.lit(
        int(max_blocked_ppm)
    ) * n_tokens
    return df.select(
        id_col,
        n_tokens.alias("n_tokens"),
        n_blocked.alias("n_blocked"),
        ppm.alias("blocked_ppm"),
        keep.alias("keep"),
    )


class BlocklistAdmitter:
    """Streaming C4 bad-words gate: admit the documents of each
    micro-batch whose blocked-token ppm is within budget
    (:func:`blocklist_filter`'s ``keep``). Stateless and deterministic
    — the DsirAdmitter contract — so replayed epochs reproduce
    exactly; drop into
    :func:`...streaming.admission.run_admission_stream` as-is."""

    def __init__(
        self,
        blocklist: "tuple[str, ...] | list[str]",
        max_blocked_ppm: int = 40000,
        text_col: str = "text",
        id_col: str = "doc_id",
    ):
        self.blocklist = tuple(sorted(set(str(w) for w in blocklist)))
        self.max_blocked_ppm = int(max_blocked_ppm)
        self.text_col = text_col
        self.id_col = id_col

    def admit(self, batch: DataFrame, run_id: str | None = None) -> DataFrame:
        keep = blocklist_filter(
            batch,
            self.blocklist,
            max_blocked_ppm=self.max_blocked_ppm,
            text_col=self.text_col,
            id_col=self.id_col,
        ).filter(F.col("keep")).select(self.id_col)
        return batch.join(keep, self.id_col, "left_semi")
