"""End-to-end corpus curation: the standard pre-training recipe as ONE
composable, deterministic operator.

``curate`` chains the tier's primitives in the cost-correct order —
cheap map-only stages first so every expensive stage runs on an
already-shrunk corpus:

1. normalize   — canonical whitespace/punctuation (map-only)
2. quality gate — composite score as integer ppm, threshold compare
                  (map-only; the score column rides along for stage 4)
3. decontaminate — drop the eval docs themselves, then every training
                  doc sharing an n-gram with the eval set (one
                  broadcast semi-join against the tiny eval gram set)
4. near-dup keep-best — MinHash-LSH pairs -> connected components ->
                  keep each cluster's highest-quality member

Everything is built from the deterministic md5 hash family and
integer-ppm comparisons, so the SURVIVOR SET of the whole pipeline is
oracle-checkable end to end (the driver query `curate_corpus` hash-
compares it against a single composed DuckDB query).

At 100 TB the shape is: two map-only passes, one broadcast semi-join,
then the LSH/dedup machinery on the reduced corpus — the expensive
candidate generation never sees rows the cheap gates already dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from db_spark.execution import barrier
from db_spark.llm import corpus as _corpus
from db_spark.llm import dedup as _dedup
from db_spark.llm import text as _text


def curate(
    docs: DataFrame, *,
    quality_min: float = 0.5,
    eval_df: DataFrame | None = None,
    decontam_n: int = 4,
    dedup_threshold: float | None = 0.5,
    k: int = 16, bands: int = 4,
    normalize: bool = True,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Run the curation recipe; returns the surviving docs with their
    (normalized) text and a ``quality_ppm`` column.

    ``quality_min`` is compared as integer ppm — no float at the gate.
    ``eval_df`` (optional) is removed from the corpus by id AND used as
    the decontamination reference (its text is normalized under the
    same flag so gram matching sees the same canon). Pass
    ``dedup_threshold=None`` to skip the near-dup stage."""
    out = docs
    if normalize:
        out = out.withColumn(text_col, _text.normalize_text(F.col(text_col)))
    ppm = F.round(
        F.least(F.lit(1.0), F.greatest(
            F.lit(0.0), _text.quality_score(F.col(text_col)))) * 1_000_000
    ).cast("long")
    out = (out.withColumn("quality_ppm", ppm)
           .filter(F.col("quality_ppm") >= int(round(quality_min * 1_000_000))))
    if eval_df is not None or dedup_threshold is not None:
        # ONE normalized/scored pass shared across the remaining
        # stages (r13, guide §2.4 duplicated subtrees / §5 caching-
        # when-reused): the gated survivor relation feeds the eval
        # anti-join, the decontamination gram pass, the contamination
        # anti-join AND the dedup signature pass — uncached, each
        # consumer re-ran the regex-heavy normalize + quality chain
        # over the full corpus (the curate_v2 stage-boundary doctrine,
        # done lazily behind a barrier).
        out = barrier(out)
    if eval_df is not None:
        ev = eval_df
        if normalize:
            ev = ev.withColumn(text_col, _text.normalize_text(F.col(text_col)))
        out = out.join(ev.select(id_col), id_col, "left_anti")
        contaminated = _corpus.decontaminate(
            out, ev, n=decontam_n, id_col=id_col, text_col=text_col)
        out = out.join(contaminated.select(id_col), id_col, "left_anti")
    if dedup_threshold is not None:
        # score from the already-computed ppm: select_representatives
        # re-rounds clamp(score)*1e6, and ppm/1e6 round-trips exactly
        out = _dedup.dedup_corpus_keep_best(
            out, F.col("quality_ppm").cast("double") / 1_000_000.0,
            id_col=id_col, text_col=text_col, k=k, bands=bands,
            threshold=dedup_threshold)
    return out


def curate_v2(
    docs: DataFrame, *,
    seed_label,
    clf_dim: int = 4096,
    clf_threshold: float = 0.0,
    eval_df: DataFrame | None = None,
    decontam_n: int = 4,
    winnow_k: int = 4, winnow_w: int = 4, min_shared: int = 2,
    dedup_threshold: float | None = 0.5,
    k: int = 16, bands: int = 4,
    normalize: bool = True,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """The FULL modern pre-training curation recipe (round 12),
    composing the r9-r11 tiers end to end in the cost-correct order —
    each stage consumes the previous stage's OUTPUT, so the pipeline
    proves the tiers compose (classifier features see normalized text,
    winnow offsets address the gated survivor corpus, quality scoring
    and dedup see the post-cut text):

    1. normalize        — canonical whitespace/punct (map-only)
    2. nb_train on seed — multinomial NB trained IN-ENGINE over the
                          normalized corpus with ``seed_label`` (a
                          boolean Column, e.g. membership of a curated
                          seed set) as the class; one dim-bounded
                          aggregate (train_nb_classifier)
    3. classifier gate  — classifier_score with the trained weights
                          (broadcast model join), keep score >=
                          ``clf_threshold`` — the DCLM model-based
                          filtering loop, closed inside one pipeline
    4. decontaminate    — drop eval docs + any survivor sharing an
                          n-gram with the eval set
    5. winnow_cut       — detect duplicated passages among survivors
                          (winnow_overlap spans) and CUT the b-side
                          character ranges (remove_char_spans) — the
                          Lee et al. 2022 span-level treatment
    6. keep-best dedup  — MinHash-LSH near-dup clusters on the CUT
                          text, keeping each cluster's highest-
                          quality member (quality scored on the cut
                          text)

    Deterministic end to end (md5 hash family, integer-ppm compares,
    the fixed-point integer log2 in NB training), so the survivor
    set AND the final cut text are oracle-checkable as ONE composed
    query (registry key ``curate_corpus_v2`` hash-verifies doc ids,
    span-cut stats, quality and md5(text)).

    At 100 TB: stages 1-3 are map-only passes plus one broadcast
    model join (the model is dim-bounded by the hashing trick);
    stage 4 is a broadcast semi-join against the tiny eval gram set;
    stages 5-6 run their fingerprint/band-blocked joins on the
    already-shrunk corpus — the expensive candidate generation never
    sees rows the cheap gates dropped.

    Returns surviving docs: every non-text column of ``docs``, plus
    the cut ``text_col``, ``n_spans_cut``, ``chars_removed``,
    ``quality_ppm``.
    """
    out = docs
    if normalize:
        out = out.withColumn(text_col, _text.normalize_text(F.col(text_col)))
    labeled = out.withColumn("_seed_lab", seed_label)
    weights = _text.train_nb_classifier(
        labeled, dim=clf_dim, ngrams=2, id_col=id_col, text_col=text_col,
        label_col="_seed_lab")
    sc = _text.classifier_score(
        out, weights, dim=clf_dim, bias_ppm=0, threshold=clf_threshold,
        ngrams=2, id_col=id_col, text_col=text_col)
    out = out.join(sc.filter(F.col("keep")).select(id_col),
                   id_col, "left_semi")
    if eval_df is not None:
        ev = eval_df
        if normalize:
            ev = ev.withColumn(text_col, _text.normalize_text(F.col(text_col)))
        out = out.join(ev.select(id_col), id_col, "left_anti")
        contaminated = _corpus.decontaminate(
            out, ev, n=decontam_n, id_col=id_col, text_col=text_col)
        out = out.join(contaminated.select(id_col), id_col, "left_anti")
    # Stage boundary: TRUNCATE LINEAGE. The winnow stage references the
    # survivor relation from several consumers (fingerprint hits, the
    # token->char-offset map, the document join of the cut) and the
    # dedup stage adds more; without truncation each reference
    # re-embeds the whole normalize->NB-train->gate->decontaminate
    # subplan and the COMPOSED logical plan grows multiplicatively
    # until analysis itself OOMs the driver (observed at sf0.01 — a
    # plan-size failure, not a data-size one; the label-propagation
    # localCheckpoint doctrine applies to stage compositions too).
    # Eager checkpoint = the natural materialization point anyway:
    # every later stage re-reads exactly this survivor corpus.
    out = out.localCheckpoint(eager=True)
    spans = _dedup.winnow_overlap(
        out, id_col, text_col, k=winnow_k, w=winnow_w,
        min_shared=min_shared, output="spans")
    cut = spans.select(F.col("id_b").alias(id_col),
                       F.col("b_char_start").alias("char_start"),
                       F.col("b_char_end").alias("char_end"))
    cutd = _dedup.remove_char_spans(
        out.select(id_col, text_col), cut, id_col=id_col,
        text_col=text_col, span_id_col=id_col)
    # Second boundary: the dedup stage's MinHash/LSH/keep-best chain
    # references the cut corpus from multiple consumers too.
    out = out.drop(text_col).join(cutd, id_col).localCheckpoint(eager=True)
    ppm = F.round(
        F.least(F.lit(1.0), F.greatest(
            F.lit(0.0), _text.quality_score(F.col(text_col)))) * 1_000_000
    ).cast("long")
    out = out.withColumn("quality_ppm", ppm)
    if dedup_threshold is not None:
        out = _dedup.dedup_corpus_keep_best(
            out, F.col("quality_ppm").cast("double") / 1_000_000.0,
            id_col=id_col, text_col=text_col, k=k, bands=bands,
            threshold=dedup_threshold)
    return out
