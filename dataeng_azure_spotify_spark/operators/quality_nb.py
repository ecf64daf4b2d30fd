"""Hashed-token Naive Bayes quality classifier — the trained
"quality filter" tier of the curation family (beyond-reference
surface; the reference repo has no ML-filter stage, cf.
local_spotify_dab/src/silver/Silver_Dimensions.py which gates rows on
declarative expectations only).

The canonical pretraining pipeline (GPT-3, LLaMA, CCNet) trains a
cheap linear classifier on weak labels — "pages a heuristic likes" vs
"pages it doesn't" — and scores the whole corpus with it, because the
classifier generalizes past the heuristic's hard thresholds. This
module is that stage as pure DataFrame algebra: binary Naive Bayes
over hashed unigram+bigram buckets (the fasttext-style feature space),
fit with one grouped aggregation, scored with one broadcast join.

Relationship to DSIR (``operators/curation.py::dsir_select``): the
per-bucket weight here is the DISCRIMINATIVE twin of DSIR's generative
importance ratio — ln of smoothed positive-class counts over
negative-class counts instead of target-corpus over raw-corpus. The
two deliberately share the featurizer (``_dsir_bucket_counts``) and
the nano-unit fixed-point discipline; what NB adds is the labeled fit,
the class-prior term, and per-document classification (score > 0)
rather than corpus-level top-k selection.

Cross-engine exactness (the DSIR/portable_ln discipline): every ln is
:func:`...functions.mathx.portable_ln` on an exact BIGINT (bit-equal
to the DuckDB twin by construction), each per-bucket weight is
nano-quantized ONCE in the ≤ ``buckets``-row weight table, and every
per-document aggregate from there is exact BIGINT arithmetic — the
emitted ``score_nano`` is hash-checkable.

Scale (100 TB): fit = one corpus scan (explode → partial-aggregated
groupBy on (doc, bucket), checkpointed), two bucket-level grouped sums
(≤ ``buckets`` rows each), and scalar class totals; score = the same
per-doc counts joined against the broadcast weight table (≤ ``buckets``
rows — bounded by construction, never vocabulary-sized) and one
grouped BIGINT sum. Nothing corpus-sized shuffles twice; in-corpus
fit+score reuses the checkpointed feature table so the corpus is
scanned once. The persisted :class:`NbQualityModel` is the
fit-once / score-many artifact (the commit-marker protocol of
:mod:`~.artifact`), and :class:`NbQualityAdmitter` drops the frozen model
into the streaming admission framework.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataeng_azure_spotify_spark.functions.mathx import portable_ln
from dataeng_azure_spotify_spark.operators.artifact import FittedArtifact
from dataeng_azure_spotify_spark.operators.curation import _dsir_bucket_counts


def _nb_weight_tables(
    counts_lab: DataFrame, buckets: int
) -> tuple[DataFrame, DataFrame]:
    """(weights, consts) from labeled per-doc bucket counts
    (doc, b, c, hq).

    weights: (b, lrq) — nano-quantized ln((p_b+1)/(q_b+1)) over every
    bucket observed in EITHER class (full outer union via groupBy over
    the label, so a bucket seen only in one class keeps its one-sided
    weight — the DSIR full-join rationale, same failure mode).

    consts: one row (cq, prior_nano) — the per-gram length term
    nano(ln(Q+B) − ln(P+B)) and the class-prior term
    nano(ln(D_pos) − ln(D_neg)); P/Q are class gram totals, D the
    class doc counts. Both exact BIGINT after one quantization.
    """
    B = int(buckets)
    by_b = counts_lab.groupBy("b").agg(
        F.sum(F.when(F.col("hq"), F.col("c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("p_b"),
        F.sum(F.when(~F.col("hq"), F.col("c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("q_b"),
    )
    lr = portable_ln(F.col("p_b") + F.lit(1)) - portable_ln(
        F.col("q_b") + F.lit(1)
    )
    w = by_b.select(
        "b", F.floor(lr * F.lit(1e9) + F.lit(0.5)).cast("long").alias("lrq")
    )
    scal = counts_lab.agg(
        F.sum(F.when(F.col("hq"), F.col("c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("pp"),
        F.sum(F.when(~F.col("hq"), F.col("c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("qq"),
        F.countDistinct(F.when(F.col("hq"), F.col("doc")))
        .cast("long")
        .alias("dp"),
        F.countDistinct(F.when(~F.col("hq"), F.col("doc")))
        .cast("long")
        .alias("dq"),
    )
    cq = F.floor(
        (
            portable_ln(F.col("qq") + F.lit(B))
            - portable_ln(F.col("pp") + F.lit(B))
        )
        * F.lit(1e9)
        + F.lit(0.5)
    ).cast("long")
    prior = F.floor(
        (portable_ln(F.col("dp")) - portable_ln(F.col("dq")))
        * F.lit(1e9)
        + F.lit(0.5)
    ).cast("long")
    return w, scal.select(cq.alias("cq"), prior.alias("prior_nano"))


def _nb_score_counts(
    counts: DataFrame, w: DataFrame, consts: DataFrame,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(doc, *carry, n_grams, score_nano, pred_hq) from per-doc bucket
    counts. LEFT join: a bucket the fit never saw has p_b = q_b = 0, so
    its exact weight is ln(1) − ln(1) = 0 — the coalesce IS the model's
    value for unseen features (the DSIR rationale). ``carry`` threads
    per-doc columns (e.g. the training label) through the grouping so
    in-corpus fit+score needs no per-doc join afterwards."""
    return (
        counts.join(F.broadcast(w), "b", "left")
        .na.fill({"lrq": 0})
        .groupBy("doc", *carry)
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            F.sum(F.col("c") * F.col("lrq")).cast("long").alias("s"),
        )
        .crossJoin(F.broadcast(consts))
        .select(
            "doc",
            *carry,
            "n_grams",
            (
                F.col("s")
                + F.col("n_grams") * F.col("cq")
                + F.col("prior_nano")
            ).alias("score_nano"),
        )
        .withColumn("pred_hq", F.col("score_nano") > 0)
    )


def _nb_fit_tables(
    df: DataFrame,
    label: F.Column,
    id_col: str,
    text_col: str,
    buckets: int,
    caller: str,
):
    """Shared fit path for the one-shot and persisted forms (so the
    guard and featurization can never diverge): labeled per-doc bucket
    counts (checkpointed — one corpus scan), weight + constant tables,
    and the degenerate-fit guard.

    The guard inspects the DISTINCT label values among TOKENFUL docs
    (≤3 rows collected): a NULL label is refused — NULL rows would
    count toward NEITHER class yet still be scored, and a {true, null}
    labeling would otherwise slip past a 2-distinct-values check with
    a zero class count feeding portable_ln(0) garbage (review r8,
    reproduced); a one-class corpus is refused because every weight
    degenerates; a class whose only members are tokenless counts as
    absent."""
    B = int(buckets)
    labeled = df.withColumn("__hq", label)
    counts_lab = (
        _dsir_bucket_counts(labeled, id_col, text_col, B, carry=("__hq",))
        .withColumnRenamed("__hq", "hq")
        .localCheckpoint(eager=False)
    )
    seen = {
        r["hq"] for r in counts_lab.select("hq").distinct().limit(3).collect()
    }
    if None in seen:
        raise ValueError(
            f"{caller}: the label column is NULL for some tokenful "
            "documents — a NULL label belongs to neither class but "
            "would still be scored; make the label total "
            "(e.g. coalesce it) before fitting"
        )
    if len(seen) < 2:
        raise ValueError(
            f"{caller}: need at least one TOKENFUL document of each "
            "class — a one-class fit makes every weight degenerate"
        )
    w, consts = _nb_weight_tables(counts_lab, B)
    return counts_lab, w, consts


def nb_quality_train_score(
    df: DataFrame,
    label: F.Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 4096,
) -> DataFrame:
    """Fit binary NB on ``label`` (a boolean Column over ``df``'s
    columns — e.g. ``gopher_quality``'s pass flag) and score the SAME
    corpus; the in-corpus one-shot form (the persisted-artifact form
    is :class:`NbQualityModel`).

    Returns (``id_col``, n_grams, score_nano, pred_hq, label_hq) for
    every tokenful document — score_nano is the exact integer
    log-odds in nano-units, pred_hq the classification, label_hq the
    training label (so downstream can compute agreement without
    re-deriving the heuristic). Tokenless documents have no features
    and are excluded, the DSIR convention.

    Raises if either class has no documents — a one-class fit makes
    every weight degenerate and is never what the caller meant.
    """
    # the label rides the featurization as a carried column (it is a
    # pure function of the document row), so fit + in-corpus score is
    # ONE corpus scan and ONE shuffle — no corpus-sized label join
    counts_lab, w, consts = _nb_fit_tables(
        df, label, id_col, text_col, buckets, "nb_quality_train_score"
    )
    return _nb_score_counts(counts_lab, w, consts, carry=("hq",)).select(
        F.col("doc").alias(id_col),
        "n_grams",
        "score_nano",
        "pred_hq",
        F.col("hq").alias("label_hq"),
    )


class NbQualityModel(FittedArtifact):
    """Persisted NB quality model — fit-once / score-many (the fit-once
    artifact protocol, :mod:`~.artifact`): ``weights/`` parquet (b, lrq
    — ≤ ``buckets`` rows) and the ``meta/`` commit marker (cq,
    prior_nano, buckets, id_col, text_col), so a crashed fit reads as
    absent and a mid-refit crash can never pair old meta with new
    weights. Meta and weights are pinned together per handle."""

    META_SCHEMA = (
        "cq long, prior_nano long, buckets int, id_col string, text_col string"
    )
    PINNED = {"weights": "b long, lrq long"}

    # -- lifecycle -------------------------------------------------------
    @classmethod
    def fit(
        cls,
        df: DataFrame,
        label: F.Column,
        path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        buckets: int = 4096,
    ) -> "NbQualityModel":
        B = int(buckets)
        _, w, consts = _nb_fit_tables(
            df, label, id_col, text_col, B, "NbQualityModel.fit"
        )
        row = consts.first()
        return cls._commit(
            df.sparkSession, path, {"weights": w},
            (int(row["cq"]), int(row["prior_nano"]), B, id_col, text_col),
        )

    def weights(self) -> DataFrame:
        return self._snapshot()[1]["weights"]

    # -- scoring ---------------------------------------------------------
    def score(self, df: DataFrame) -> DataFrame:
        """(id_col, n_grams, score_nano, pred_hq) for every tokenful
        document under the frozen weights; deterministic across
        replays, batch or ``foreachBatch``."""
        m = self._meta()
        counts = _dsir_bucket_counts(df, m.id_col, m.text_col, m.buckets)
        consts = self.spark.createDataFrame(
            [(int(m.cq), int(m.prior_nano))], "cq long, prior_nano long"
        )
        return _nb_score_counts(counts, self.weights(), consts).select(
            F.col("doc").alias(m.id_col), "n_grams", "score_nano", "pred_hq"
        )


class NbQualityAdmitter:
    """Streaming quality gate: admit the documents of each micro-batch
    the frozen NB model classifies positive (or clears
    ``min_score_nano``). Stateless and deterministic — the DsirAdmitter
    contract — so replayed epochs reproduce exactly."""

    def __init__(self, model: NbQualityModel, min_score_nano: int = 0):
        self.model = model
        self.min_score_nano = int(min_score_nano)

    def admit(self, batch: DataFrame, run_id: str | None = None) -> DataFrame:
        m = self.model._meta()
        keep = self.model.score(batch).filter(
            F.col("score_nano") > self.min_score_nano
        )
        return batch.join(
            keep.select(m.id_col), m.id_col, "left_semi"
        )


def nb_threshold_sweep(
    scored: DataFrame, thresholds: "list[int]"
) -> DataFrame:
    """Operating-point sweep of a scored corpus: confusion counts and
    precision/recall/F1 at each candidate ``score_nano`` cutoff — how
    a pipeline picks ``NbQualityAdmitter.min_score_nano`` (the
    classifier-calibration step every trained quality filter needs
    before it gates 100 TB).

    ``scored`` is ``nb_quality_train_score`` output (needs
    ``score_nano`` + ``label_hq``); prediction at cutoff t is
    ``score_nano > t`` (the ``pred_hq``/admitter convention). Returns
    one row per threshold: (thr_nano, n_docs, n_pred_pos, tp, fp, fn,
    tn, precision_ppm, recall_ppm, f1_ppm) — counts exact BIGINTs,
    ratios exact parts-per-million (numerator·1e6 ≤ 2^53 so the
    double divide + floor is engine-identical; zero denominators
    report 0).

    Scale: ONE corpus-linear aggregation — thresholds become 4·|T|
    conditional-sum expressions in a single ``agg`` (map-side partial
    combine, one scalar row out), then the per-threshold rows are
    exploded driver-side from that row. No crossJoin row
    multiplication, nothing corpus-sized shuffles."""
    ts = [int(t) for t in thresholds]
    pos = F.col("label_hq")
    aggs = [F.count(F.lit(1)).cast("long").alias("n_docs")]
    for i, t in enumerate(ts):
        pred = F.col("score_nano") > F.lit(t)
        for tag, cond in (
            ("tp", pred & pos),
            ("fp", pred & ~pos),
            ("fn", ~pred & pos),
            ("tn", ~pred & ~pos),
        ):
            aggs.append(
                # coalesce: SUM over ZERO rows is NULL — an empty
                # scored slice must sweep to all-zero rows, not NULLs
                F.coalesce(
                    F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0))),
                    F.lit(0),
                )
                .cast("long")
                .alias(f"{tag}_{i}")
            )
    one = scored.agg(*aggs)
    per_thr = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(t).cast("long").alias("thr_nano"),
                    F.col(f"tp_{i}").alias("tp"),
                    F.col(f"fp_{i}").alias("fp"),
                    F.col(f"fn_{i}").alias("fn"),
                    F.col(f"tn_{i}").alias("tn"),
                )
                for i, t in enumerate(ts)
            ]
        )
    ).alias("r")
    rows = one.select("n_docs", per_thr).select("n_docs", "r.*")

    def _ppm(num: F.Column, den: F.Column) -> F.Column:
        return (
            F.when(den == 0, F.lit(0))
            .otherwise(
                F.floor((num.cast("double") * F.lit(1000000.0)) / den)
            )
            .cast("long")
        )

    return rows.select(
        "thr_nano",
        "n_docs",
        (F.col("tp") + F.col("fp")).alias("n_pred_pos"),
        "tp",
        "fp",
        "fn",
        "tn",
        _ppm(F.col("tp"), F.col("tp") + F.col("fp")).alias(
            "precision_ppm"
        ),
        _ppm(F.col("tp"), F.col("tp") + F.col("fn")).alias("recall_ppm"),
        _ppm(
            F.lit(2) * F.col("tp"),
            F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn"),
        ).alias("f1_ppm"),
    )
