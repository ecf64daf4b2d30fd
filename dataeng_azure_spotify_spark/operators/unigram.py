"""Distributed unigram-LM tokenizer training — the SentencePiece
(Kudo 2018, "Subword Regularization") vocabulary learned from the
corpus by hard (Viterbi) EM. Beyond-reference surface: the second
trained-tokenizer artifact next to :mod:`.bpe` (the reference repo has
no NLP stage at all — cf. SURVEY.md §2); together they cover both
families a pretraining pipeline actually uses (merge-based BPE and
likelihood-based unigram).

Hard-EM formulation (and why it is exact)
-----------------------------------------

Soft EM over float expected counts is not cross-engine
reproducible (libm transcendentals differ in the last ulp — the
lesson behind :mod:`..functions.mathx`). Viterbi ("hard") EM is: the
E-step assigns each word its single BEST segmentation under the
current piece scores and counts pieces with INTEGER weights, and the
M-step recomputes scores as nano-quantized ``portable_ln`` log
probabilities from those integer counts. Every iteration is therefore
a deterministic function of the corpus:

- piece scores: ``floor((ln(count) − ln(total))·1e9 + 0.5)`` BIGINTs
  (the quality_nb/DSIR nano-unit discipline), bit-equal to the DuckDB
  twin by the ``portable_ln`` construction;
- Viterbi: maximizes the BIGINT score sum; ties break on the
  lexicographically smallest piece-path string (pieces joined by
  ``chr(31)``), a total order that composes under DP because appending
  a common suffix never reorders two distinct prefixes covering the
  same characters (UTF-8 byte order == code-point order);
- M-step vocab rule: keep pieces the E-step used; single-character
  pieces are never dropped (so every word stays segmentable) and take
  count ``max(usage, 1)``.

Distributed formulation (the :mod:`.bpe` economics)
---------------------------------------------------

Train on the WORD-FREQUENCY table, not the corpus: one corpus scan +
one shuffle reduces 100 TB to ≤|vocabulary| distinct (word, freq)
rows, checkpointed once. Each EM iteration then runs one
``mapInPandas`` Viterbi pass over that word table (broadcast
piece-score dict, memoized per distinct word) plus one vocabulary-
sized grouped sum; the driver holds only the ≤``max_pieces``+alphabet
piece table (two O(V) collects per iteration — the BPE merge-list
class of driver state, bounded by parameters, never corpus-sized).

Application (:meth:`UnigramTokenizer.tokenize`) replays Viterbi under
the frozen final scores — same broadcast-dict + memoized
``mapInPandas`` shape as :meth:`.bpe.BpeTokenizer.tokenize`.
Tokenizing a training word reproduces that word's final E-step
segmentation exactly (same function, same scores; pinned in tests).
Characters unseen at fit time fall back to singleton pieces scored
:data:`UNK_NANO` (fires only when NO vocabulary piece matches at a
position, so trained corpora never hit it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataeng_azure_spotify_spark.functions.mathx import portable_ln
from dataeng_azure_spotify_spark.operators.artifact import FittedArtifact
from dataeng_azure_spotify_spark.operators.bpe import _word_freq
from dataeng_azure_spotify_spark.operators.similarity import (
    _require_integral_id,
)

#: Path separator inside Viterbi TIE-BREAK strings — a C0 control char
#: that sorts below every printable char in both code-point and UTF-8
#: byte order (the tie comparison is on the joined string, so the
#: separator's rank participates; both engines agree by construction).
#: U+001F is NOT whitespace, so corpus words CAN contain it — which is
#: why pieces travel as lists everywhere (the joined string exists only
#: inside the DP comparison) and the trainer excludes SEP-containing
#: words from vocabulary learning (binary junk; tokenize still handles
#: them via UNK singletons).
SEP = "\x1f"

#: Score for an out-of-vocabulary single-character fallback piece at
#: tokenize time (≈ ln of e^-100 — far below any trained piece, so an
#: unknown char never outcompetes a real segmentation). Training never
#: uses it: every character of every training word is in the seed
#: vocabulary by construction.
UNK_NANO = -100 * 10**9

PIECES_SCHEMA = "piece string, count long, score_nano long"


def _viterbi(word: str, scores: dict, max_len: int) -> "list[str]":
    """Best segmentation of ``word`` as a PIECE LIST: maximal BIGINT
    score sum, ties to the lexicographically smallest SEP-joined path
    string. Exact DP — at each end position keep the best (score,
    path, pieces) tuple; Python str comparison is code-point order,
    which matches the DuckDB twin's binary UTF-8 ``ORDER BY score
    DESC, path ASC`` (UTF-8 preserves code-point order). The path
    string exists ONLY for the tie comparison — pieces travel as a
    list, so a piece that itself contains SEP can never corrupt the
    result (review r9). Positions where no vocabulary piece matches
    consume one character as an UNK singleton (tokenize-time only;
    see module docstring)."""
    n = len(word)
    best: list = [None] * (n + 1)
    best[0] = (0, "", [])
    for i in range(n):
        cur = best[i]
        if cur is None:
            continue
        s0, p0, l0 = cur
        matched = False
        limit = min(max_len, n - i)
        for ln in range(1, limit + 1):
            piece = word[i : i + ln]
            sc = scores.get(piece)
            if sc is None:
                continue
            matched = True
            cand = (
                s0 + sc,
                p0 + SEP + piece if p0 else piece,
                l0 + [piece],
            )
            j = i + ln
            prev = best[j]
            if (
                prev is None
                or cand[0] > prev[0]
                or (cand[0] == prev[0] and cand[1] < prev[1])
            ):
                best[j] = cand
        if not matched:
            piece = word[i]
            cand = (
                s0 + UNK_NANO,
                p0 + SEP + piece if p0 else piece,
                l0 + [piece],
            )
            prev = best[i + 1]
            if (
                prev is None
                or cand[0] > prev[0]
                or (cand[0] == prev[0] and cand[1] < prev[1])
            ):
                best[i + 1] = cand
    return best[n][2]


def _best_paths(
    words: DataFrame, scores: dict, max_len: int
) -> DataFrame:
    """(word, freq, path array<string>) — one Viterbi E-step over the
    distinct-word table. The piece-score dict rides the closure
    (≤ vocab rows); Arrow batches, no per-row Python in the corpus
    path (this table is vocabulary-sized by the corpus→vocabulary
    reduction). Pieces travel as ARRAYS (never a re-split joined
    string), so piece content can't corrupt the protocol."""

    def run(batch_iter):
        import pandas as pd

        cache: dict[str, list] = {}
        for pdf in batch_iter:
            paths = []
            for w in pdf["word"]:
                got = cache.get(w)
                if got is None:
                    got = cache[w] = _viterbi(w, scores, max_len)
                paths.append(got)
            yield pd.DataFrame(
                {"word": pdf["word"], "freq": pdf["freq"], "path": paths}
            )

    return words.mapInPandas(
        run, "word string, freq long, path array<string>"
    )


def _score_table(vocab: DataFrame) -> DataFrame:
    """(piece, cnt, score_nano) — nano-quantized log probability
    ``floor((ln(cnt) − ln(Σcnt))·1e9 + 0.5)`` per piece. One scalar
    aggregate broadcast against the vocabulary-sized table; exact
    BIGINT after the single quantization (the quality_nb discipline).
    """
    total = vocab.agg(F.sum("cnt").cast("long").alias("tot"))
    return vocab.crossJoin(F.broadcast(total)).select(
        "piece",
        "cnt",
        F.floor(
            (portable_ln(F.col("cnt")) - portable_ln(F.col("tot")))
            * F.lit(1e9)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("score_nano"),
    )


def _seed_vocab(
    words: DataFrame, max_piece_len: int, min_count: int, max_pieces: int
) -> DataFrame:
    """(piece, cnt) — SentencePiece-style seeding: every substring of
    length ≤ ``max_piece_len`` counted over occurrence positions
    (overlaps included) weighted by word frequency; keep ALL single
    characters (segmentability floor) plus the top ``max_pieces``
    multi-character pieces with count ≥ ``min_count``, ordered
    (cnt DESC, piece ASC) so the cap cut is deterministic."""
    L = int(max_piece_len)
    subs = (
        words.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(1), F.length("word")),
                        lambda i: F.transform(
                            F.sequence(
                                F.lit(1),
                                F.least(
                                    F.lit(L), F.length("word") - i + 1
                                ),
                            ),
                            lambda ln: F.col("word").substr(i, ln),
                        ),
                    )
                )
            ).alias("piece"),
            "freq",
        )
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )
    chars = subs.filter(F.length("piece") == 1)
    multi = (
        subs.filter(
            (F.length("piece") >= 2) & (F.col("cnt") >= int(min_count))
        )
        .orderBy(F.col("cnt").desc(), F.col("piece").asc())
        .limit(int(max_pieces))
    )
    return chars.unionByName(multi)


def unigram_train(
    df: DataFrame,
    n_iters: int = 2,
    max_piece_len: int = 4,
    min_count: int = 2,
    max_pieces: int = 200,
    text_col: str = "text",
) -> DataFrame:
    """Learn a unigram-LM piece vocabulary from the corpus by
    ``n_iters`` rounds of hard (Viterbi) EM; returns
    (piece, count, score_nano) — integer counts from the final M-step
    and their nano-quantized log probabilities. Deterministic on any
    engine or cluster layout (module docstring); the DuckDB twin
    replays the whole fit (seeding, every E/M round, the cap cut)
    inside one unrolled recursive-CTE query.

    Scale: one corpus scan (``_word_freq``); every round thereafter
    touches only the distinct-word table (mapInPandas Viterbi) and the
    ≤``max_pieces``+alphabet vocabulary (two O(V) collects/round — the
    BPE merge-list class of driver state)."""
    spark = df.sparkSession
    # words containing the path separator (U+001F is NOT whitespace,
    # so \s+ splitting keeps it inside a word) are binary junk by this
    # trainer's definition: they are excluded from vocabulary learning
    # (the DuckDB twin applies the same filter), and tokenize() still
    # handles them gracefully via UNK singletons.
    words = (
        _word_freq(df, text_col)
        .filter(~F.col("word").contains(SEP))
        .localCheckpoint(eager=True)
    )
    try:
        vocab_rows = sorted(
            (r["piece"], r["cnt"])
            for r in _seed_vocab(
                words, max_piece_len, min_count, max_pieces
            ).collect()  # O(V), parameter-bounded
        )
        for _ in range(int(n_iters)):
            vdf = spark.createDataFrame(vocab_rows, "piece string, cnt long")
            sc_rows = _score_table(vdf).collect()  # O(V)
            scores = {r["piece"]: r["score_nano"] for r in sc_rows}
            usage = (
                _best_paths(words, scores, max_piece_len)
                .select(F.explode("path").alias("piece"), "freq")
                .groupBy("piece")
                .agg(F.sum("freq").cast("long").alias("u"))
                .collect()  # O(V): the E-step can only use vocab pieces
            )
            used = {r["piece"]: r["u"] for r in usage}
            vocab_rows = sorted(
                (p, used.get(p, 1))
                for p, _ in vocab_rows
                if used.get(p, 0) > 0 or len(p) == 1
            )
        final = spark.createDataFrame(vocab_rows, "piece string, cnt long")
        return _score_table(final).select(
            "piece", F.col("cnt").alias("count"), "score_nano"
        )
    finally:
        words.unpersist()


class UnigramTokenizer(FittedArtifact):
    """Persisted unigram-LM vocabulary — fit-once / tokenize-many:
    ``pieces/`` parquet plus the ``meta/`` commit marker (the fit-once
    artifact protocol, :mod:`~.artifact`), so a crashed fit reads as
    absent."""

    META_SCHEMA = "max_piece_len int, text_col string"

    @classmethod
    def fit(
        cls,
        df: DataFrame,
        path: str,
        n_iters: int = 2,
        max_piece_len: int = 4,
        min_count: int = 2,
        max_pieces: int = 200,
        text_col: str = "text",
    ) -> "UnigramTokenizer":
        pieces = unigram_train(
            df, n_iters, max_piece_len, min_count, max_pieces, text_col
        )
        return cls._commit(
            df.sparkSession, path, {"pieces": pieces.coalesce(1)},
            (int(max_piece_len), text_col),
        )

    def pieces(self) -> DataFrame:
        return self.spark.read.schema(PIECES_SCHEMA).parquet(
            self._table_path("pieces")
        )

    def _score_map(self) -> dict:
        if getattr(self, "_sm", None) is None:
            rows = self.pieces().collect()  # O(V), parameter-bounded
            self._sm = {r["piece"]: r["score_nano"] for r in rows}
        return self._sm

    def tokenize(
        self,
        df: DataFrame,
        text_col: str | None = None,
        id_col: str = "doc_id",
    ) -> DataFrame:
        """(id_col, n_pieces, pieces) — Viterbi segmentation of every
        document under the frozen piece scores; ``pieces`` is the
        space-joined piece string (pieces never contain spaces — words
        are whitespace-split — so the join is lossless). ``text_col``
        defaults to the fit column (persisted meta). Word splitting
        matches the trainer's ``tokens_col`` exactly: ASCII-``\\s+``
        with empties dropped; NULL/blank text yields 0 pieces and ''
        (the BpeTokenizer convention). Broadcast score dict + memoized
        per-distinct-word mapInPandas — per-vocabulary, not per-token,
        sequential cost."""
        _require_integral_id(df, id_col, "UnigramTokenizer.tokenize")
        text_col = text_col or self._meta().text_col
        scores = self._score_map()
        max_len = int(self._meta().max_piece_len)

        def seg(batch_iter):
            import re

            import pandas as pd

            split_ws = re.compile(r"\s+", re.ASCII)
            cache: dict[str, list[str]] = {}

            def word_pieces(w: str) -> list[str]:
                got = cache.get(w)
                if got is None:
                    got = cache[w] = _viterbi(w, scores, max_len)
                return got

            for pdf in batch_iter:
                toks = [
                    [
                        p
                        for w in (
                            split_ws.split(t) if isinstance(t, str) else []
                        )
                        if w
                        for p in word_pieces(w)
                    ]
                    for t in pdf["__text"]
                ]
                yield pd.DataFrame(
                    {
                        "__id": pdf["__id"],
                        "n_pieces": [len(t) for t in toks],
                        "pieces": [" ".join(t) for t in toks],
                    }
                )

        out = df.select(
            F.col(id_col).alias("__id"), F.col(text_col).alias("__text")
        ).mapInPandas(seg, "__id long, n_pieces long, pieces string")
        return out.select(
            F.col("__id").alias(id_col), "n_pieces", "pieces"
        )
