"""End-to-end corpus curation preset — the standard LLM-training-data
flow composed from this package's operators, in the canonical order:

1. quality filter    (`curation.quality_rules` — codegen'd projection)
2. exact dedup       (`dedup.drop_exact_dups` — one hash groupBy; MUST
                      precede near-dedup: it collapses the identical-doc
                      mass that forms degenerate LSH buckets)
3. near dedup        (`dedup.minhash_dedup_pairs` + `dedup_clusters` —
                      banded LSH, exact-Jaccard verify, connected
                      components, keep the minimum-id representative —
                      or, with ``keep_best_order``,
                      `dedup.dedup_clusters_keep_best`: keep the
                      highest-quality row per cluster instead)
4. decontamination   (`curation.decontaminate` — n-gram overlap vs a
                      broadcast benchmark set)
5. semantic decontam (`curation.semantic_contaminated_ids` — embedding
                      cosine vs a broadcast benchmark-embedding set;
                      catches the paraphrased leakage 13-grams miss)
6. token-budget fill (`curation.select_token_budget` — keep the
                      best-scored docs that fit an exact token budget)
7. temperature mix   (`curation.temperature_mix_quotas` +
                      `curation.take_group_quotas` — cnt^alpha
                      apportionment across sources, then the
                      deterministic per-group take)
8. split assignment  (`curation.assign_splits` — hash-range buckets,
                      keyed AFTER dedup so every surviving id is its own
                      cluster representative and near-dup leakage across
                      splits is structurally impossible)

Stages 4-7 are opt-in (pass their inputs to enable); each is the
already-oracle-verified operator — this module only fixes the
composition order and threads the audit trail through. One intermediate
IS persisted: the exact-dedup output feeds THREE independent subtrees
(LSH signature pass, shingle verify-set pass, cluster join-back — plus
the report counts), and without a cache each one re-runs the input scan
+ quality semi-join + exact-dedup shuffle from scratch; at corpus scale
that is 3-4 full input scans for one (the r2 edge-cache lesson, applied
to the preset). Everything else stays lazy — Catalyst sees one plan per
remaining stage (plus the near-dedup edge cache documented in
`connected_components`).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from notion_spark.pipeline import curation as CU
from notion_spark.pipeline import dedup as DD
from notion_spark.session import fanout


@dataclass
class CurationReport:
    """Row counts per stage — the audit trail a data card needs.
    Optional stages that did not run report -1 (distinguishable from a
    stage that ran and kept zero rows)."""

    input_rows: int = 0
    after_quality: int = 0
    after_exact_dedup: int = 0
    after_near_dedup: int = 0
    after_decontam: int = 0
    after_semantic_decontam: int = -1
    after_token_budget: int = -1
    after_temperature_mix: int = -1
    splits: dict[str, int] = field(default_factory=dict)


def curate_corpus(
    df: DataFrame,
    benchmark: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    near_dup_threshold: float = 0.8,
    decontam_ngram: int = 13,
    split_fractions: dict[str, float] | None = None,
    max_bucket: int = 1000,
    quality_kwargs: dict | None = None,
    collect_report: bool = False,
    keep_best_order: list[Column] | None = None,
    embeddings: DataFrame | None = None,
    semantic_benchmark: DataFrame | None = None,
    semantic_threshold: float = 0.9,
    embedding_col: str = "embedding",
    token_budget: int | None = None,
    token_budget_score_col: str | None = None,
    token_budget_token_col: str | None = None,
    mix_group_col: str | None = None,
    mix_budget: int | None = None,
    mix_alpha: float = 0.5,
) -> tuple[DataFrame, CurationReport | None]:
    """Run the full curation flow; returns (curated frame with a
    ``split`` column, report or None).

    ``collect_report=True`` triggers one count() per executed stage —
    leave it off in pipelines that only need the result.
    ``quality_kwargs`` forwards to `curation.quality_rules` (e.g.
    min_words for short-document corpora).
    The exact-dedup output, the one multi-consumer frame in the flow
    (see module docstring), is persisted with `session.fanout`; the
    cache populates lazily on the caller's first action.

    Optional stages (each enabled by passing its inputs):

    - ``keep_best_order`` — a deterministic total order (e.g.
      ``[F.desc("n_chars"), F.asc("doc_id")]``; append the id as final
      tiebreaker) switches near-dedup collapse from min-id canonical to
      `dedup_clusters_keep_best`.
    - ``semantic_benchmark`` + ``embeddings`` — embedding-level
      decontamination: ``embeddings`` maps ``id_col`` →
      ``embedding_col`` for (at least) the surviving corpus ids;
      ``semantic_benchmark`` holds the benchmark's ``embedding_col``.
      Docs whose max cosine reaches ``semantic_threshold`` are dropped.
    - ``token_budget`` + ``token_budget_score_col`` +
      ``token_budget_token_col`` — exact budget fill over columns
      already on ``df`` (score must be exact micro-unit multiples —
      the repo's frac6 outputs).
    - ``mix_group_col`` + ``mix_budget`` — temperature-weighted
      apportionment of ``mix_budget`` rows across ``mix_group_col``
      values at ``mix_alpha``, then the deterministic per-group take.
    """
    if (semantic_benchmark is None) != (embeddings is None):
        raise ValueError(
            "semantic decontamination needs BOTH semantic_benchmark and "
            "embeddings (got exactly one)"
        )
    if token_budget is not None and (
        token_budget_score_col is None or token_budget_token_col is None
    ):
        raise ValueError(
            "token_budget needs token_budget_score_col and "
            "token_budget_token_col"
        )
    if (mix_group_col is None) != (mix_budget is None):
        raise ValueError(
            "temperature mix needs BOTH mix_group_col and mix_budget "
            "(got exactly one)"
        )

    report = CurationReport() if collect_report else None
    if report is not None:
        report.input_rows = df.count()

    quality = CU.quality_rules(
        df, text_col=text_col, id_col=id_col, **(quality_kwargs or {})
    )
    kept = df.join(
        quality.filter(F.col("keep")).select(id_col), id_col, "left_semi"
    )
    if report is not None:
        report.after_quality = kept.count()

    kept = fanout(DD.drop_exact_dups(kept, text_col, id_col))
    if report is not None:
        report.after_exact_dedup = kept.count()

    pairs = DD.minhash_dedup_pairs(
        kept, text_col, id_col, threshold=near_dup_threshold, max_bucket=max_bucket
    )
    if keep_best_order is not None:
        kept = DD.dedup_clusters_keep_best(kept, pairs, keep_best_order, id_col)
    else:
        kept = DD.dedup_clusters(kept, pairs, id_col)
    if report is not None:
        report.after_near_dedup = kept.count()

    if benchmark is not None:
        kept = CU.decontaminate(
            kept, benchmark, n=decontam_ngram, text_col=text_col, id_col=id_col
        )
    if report is not None:
        report.after_decontam = kept.count()

    if semantic_benchmark is not None:
        flagged = CU.semantic_contaminated_ids(
            embeddings.join(kept.select(id_col), id_col, "left_semi"),
            semantic_benchmark,
            threshold=semantic_threshold,
            id_col=id_col,
            vec_col=embedding_col,
        )
        kept = kept.join(flagged.select(id_col), id_col, "left_anti")
        if report is not None:
            report.after_semantic_decontam = kept.count()

    if token_budget is not None:
        kept = CU.select_token_budget(
            kept,
            score_col=token_budget_score_col,
            token_col=token_budget_token_col,
            budget=token_budget,
            id_col=id_col,
        )
        if report is not None:
            report.after_token_budget = kept.count()

    if mix_group_col is not None:
        quotas = CU.temperature_mix_quotas(
            kept, mix_group_col, budget=mix_budget, alpha=mix_alpha
        )
        kept = CU.take_group_quotas(kept, quotas, mix_group_col, id_col)
        if report is not None:
            report.after_temperature_mix = kept.count()

    out = CU.assign_splits(kept, id_col, split_fractions)
    if report is not None:
        report.splits = {
            r.split: r.n
            for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
        }
    return out, report
