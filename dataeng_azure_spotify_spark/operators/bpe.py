"""Distributed BPE tokenizer training — learning the merge table of a
byte-pair-encoding vocabulary from the corpus (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units"; the
GPT-2/LLaMA tokenizer-training recipe). Beyond-reference surface: a
pretraining data pipeline trains its tokenizer ON the corpus it
curates, so vocab learning belongs next to dedup/curation (the
reference repo has no NLP stage at all — cf. SURVEY.md §2).

Distributed formulation
-----------------------

Classic BPE is a sequential loop over a WORD-FREQUENCY table, not the
corpus: tokenize to words once, count them, and train on the ≤|vocab|
distinct (word, freq) rows — at 100 TB this is the corpus→vocabulary
reduction (one corpus scan + one shuffle), after which every round
touches only vocabulary-sized data:

- round state: ``(syms array<string>, freq long)`` — each distinct
  word as its current symbol sequence, eagerly ``localCheckpoint``-ed
  per round (depth-1 lineage, the pagerank loop discipline).
- pair counting: explode adjacent symbol pairs weighted by word
  frequency → one partial-aggregated groupBy — linear in total symbol
  count, shrinking every round.
- argmax: ``orderBy(count desc, pair asc) LIMIT 1`` collected to the
  driver — an O(1) scalar decision per round (ties broken
  lexicographically, so training is deterministic on any engine or
  cluster layout).
- merge rewrite: one higher-order-function fold (``F.aggregate``) per
  word implementing the standard greedy left-to-right non-overlapping
  pair replacement — JVM codegen, no UDF.

Two jobs per round (argmax + checkpoint of the rewritten table);
``num_merges`` bounds the job count. Nothing corpus-sized moves after
the initial word count; the driver holds only the ≤``num_merges``-row
merge table.

Application (:meth:`BpeTokenizer.tokenize`) replays the merge table in
rank order per word — a broadcast dict + ``mapInPandas`` (Arrow
batches; Python is the right tool for the per-word sequential replay,
and the hot loop is memoized per distinct word within each batch).
Applying the learned merges to a training word reproduces that word's
end-of-training symbol state exactly (pinned in tests), because both
sides use the same left-to-right greedy fold per merge in the same
order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataeng_azure_spotify_spark.functions.text import tokens_col
from dataeng_azure_spotify_spark.operators.artifact import FittedArtifact
from dataeng_azure_spotify_spark.operators.similarity import (
    _require_integral_id,
)

#: End-of-word sentinel appended to every word's symbol sequence so
#: word-final merges stay distinct from word-internal ones (Sennrich's
#: ``</w>``). Chosen to be impossible in whitespace-split tokens.
END_OF_WORD = "</w>"

MERGES_SCHEMA = (
    "rank long, left string, right string, merged string, pair_count long"
)


def _word_freq(df: DataFrame, text_col: str) -> DataFrame:
    """(word, freq) — the corpus→vocabulary reduction (one scan, one
    shuffle). Empty-string tokens are dropped: ``tokens_col`` trims
    only ASCII spaces before its ``\\s+`` split, so text with a
    leading/trailing newline/tab yields '' entries — without the
    filter, pairs like ('', '</w>') occur ~once per document and junk
    merges win top ranks of the budget (review r8, reproduced)."""
    return (
        df.select(F.explode(tokens_col(text_col)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )


def _to_symbols(word: Column) -> Column:
    """Initial symbol sequence: one symbol per character, plus the
    end-of-word sentinel."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: word.substr(i, F.lit(1)),
    )
    return F.concat(chars, F.array(F.lit(END_OF_WORD)))


def _merge_fold(syms: Column, a: str, b: str, merged: str) -> Column:
    """Greedy left-to-right non-overlapping replacement of the adjacent
    pair (a, b) with ``merged`` — the standard BPE round rewrite, as one
    ``F.aggregate`` fold: append each symbol, but when it is ``b`` and
    the last appended symbol is ``a``, replace that last symbol with the
    merged one instead. Replace-last reproduces left-to-right
    non-overlapping scanning exactly (a just-merged symbol can never be
    ``a`` again unless it legitimately re-merges, e.g. (a,a) on
    "aaaa" → "aa aa")."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    df: DataFrame,
    num_merges: int = 100,
    text_col: str = "text",
    min_pair_count: int = 2,
) -> DataFrame:
    """Learn up to ``num_merges`` BPE merge rules from the corpus;
    returns the merge table (rank, left, right, merged, pair_count) —
    rank is application order. Training stops early when no pair
    reaches ``min_pair_count`` (merging a pair seen once compresses
    nothing). Deterministic: ties on count break lexicographically on
    (left, right)."""
    spark = df.sparkSession
    wf = _word_freq(df, text_col)
    # the cross-engine trainer twin (_bpe_steps_cte) encodes symbols
    # with the U+001F unit separator; a corpus word containing it
    # would silently corrupt the oracle's merge rewrite, so refuse it
    # loudly here (U+001F is NOT whitespace — \s+ splitting keeps it
    # inside a word). One vocabulary-sized check per fit.
    if wf.filter(F.col("word").contains("\x1f")).limit(1).count() > 0:
        raise ValueError(
            "bpe_train: corpus words containing U+001F are not "
            "supported (the cross-engine twin reserves it as the "
            "symbol separator) — strip C0 control chars upstream"
        )
    words = (
        wf.select(_to_symbols(F.col("word")).alias("syms"), "freq")
        .localCheckpoint(eager=True)
    )
    merges: list[tuple] = []
    try:
        for rank in range(int(num_merges)):
            pairs = (
                words.filter(F.size("syms") >= 2)
                .select(
                    F.explode(
                        F.transform(
                            F.sequence(F.lit(1), F.size("syms") - 1),
                            lambda i: F.struct(
                                F.element_at("syms", i).alias("a"),
                                F.element_at("syms", i + 1).alias("b"),
                            ),
                        )
                    ).alias("p"),
                    "freq",
                )
                .groupBy("p.a", "p.b")
                .agg(F.sum("freq").cast("long").alias("cnt"))
            )
            best = (
                pairs.orderBy(
                    F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc()
                )
                .limit(1)
                .collect()  # O(1) scalar decision per round
            )
            if not best or best[0]["cnt"] < int(min_pair_count):
                break
            a, b, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
            merged = a + b
            merges.append((rank, a, b, merged, cnt))
            nxt = words.select(
                _merge_fold(F.col("syms"), a, b, merged).alias("syms"),
                "freq",
            ).localCheckpoint(eager=True)
            words.unpersist()
            words = nxt
    finally:
        words.unpersist()
    return spark.createDataFrame(merges, MERGES_SCHEMA)


class BpeTokenizer(FittedArtifact):
    """Persisted BPE vocabulary — fit-once / tokenize-many: ``merges/``
    parquet plus the ``meta/`` commit marker (the fit-once artifact
    protocol, :mod:`~.artifact`), so a crashed fit reads as absent."""

    META_SCHEMA = "num_merges int, text_col string"

    @classmethod
    def fit(
        cls,
        df: DataFrame,
        path: str,
        num_merges: int = 100,
        text_col: str = "text",
        min_pair_count: int = 2,
    ) -> "BpeTokenizer":
        merges = bpe_train(df, num_merges, text_col, min_pair_count)
        return cls._commit(
            df.sparkSession, path, {"merges": merges.coalesce(1)},
            (int(num_merges), text_col),
        )

    def merges(self) -> DataFrame:
        return self.spark.read.schema(MERGES_SCHEMA).parquet(
            self._table_path("merges")
        )

    def _merge_list(self) -> list[tuple[str, str]]:
        if getattr(self, "_ml", None) is None:
            rows = self.merges().orderBy("rank").collect()  # O(num_merges)
            self._ml = [(r["left"], r["right"]) for r in rows]
        return self._ml

    def tokenize(
        self,
        df: DataFrame,
        text_col: str | None = None,
        id_col: str = "doc_id",
    ) -> DataFrame:
        """(id_col, n_tokens, tokens) — BPE segmentation of every
        document under the frozen merge table; ``tokens`` is the
        space-joined symbol string (symbols never contain spaces —
        words are whitespace-split — so the join is lossless).
        ``text_col`` defaults to the column the merges were FIT on
        (persisted meta — the NbQualityModel contract); pass it only
        to tokenize a different column deliberately.

        mapInPandas replay: the merge list rides the closure (≤
        num_merges pairs); each batch memoizes segmentation per
        DISTINCT word, so the sequential replay cost is per-vocabulary,
        not per-token. Deterministic, stateless, streaming-safe.
        Word splitting matches the trainer's ``tokens_col`` exactly:
        ASCII-``\\s+`` with empties dropped (Java ``\\s`` does not
        match NBSP and friends — Python's Unicode-aware ``str.split``
        would segment such words differently than they were trained)."""
        # the mapInPandas output schema pins '__id long'; a non-integral
        # id would fail deep inside Arrow conversion (or mis-coerce) —
        # fail fast like the other persisted-artifact paths
        _require_integral_id(df, id_col, "BpeTokenizer.tokenize")
        text_col = text_col or self._meta().text_col
        ml = self._merge_list()
        eow = END_OF_WORD

        def seg(batch_iter):
            import re

            import pandas as pd

            split_ws = re.compile(r"\s+", re.ASCII)
            cache: dict[str, list[str]] = {}

            def word_syms(w: str) -> list[str]:
                got = cache.get(w)
                if got is None:
                    syms = list(w) + [eow]
                    for a, b in ml:
                        out: list[str] = []
                        for s in syms:
                            if out and out[-1] == a and s == b:
                                out[-1] = a + b
                            else:
                                out.append(s)
                        syms = out
                    got = cache[w] = syms
                return got

            for pdf in batch_iter:
                # None/NaN text -> no tokens (the tokens_col convention
                # the trainer uses), NOT str(None)
                toks = [
                    [
                        s
                        for w in (
                            split_ws.split(t) if isinstance(t, str) else []
                        )
                        if w
                        for s in word_syms(w)
                    ]
                    for t in pdf["__text"]
                ]
                yield pd.DataFrame(
                    {
                        "__id": pdf["__id"],
                        "n_tokens": [len(t) for t in toks],
                        "tokens": [" ".join(t) for t in toks],
                    }
                )

        out = df.select(
            F.col(id_col).alias("__id"), F.col(text_col).alias("__text")
        ).mapInPandas(seg, "__id long, n_tokens long, tokens string")
        return out.select(
            F.col("__id").alias(id_col), "n_tokens", "tokens"
        )
