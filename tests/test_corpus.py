"""End-to-end corpus curation preset: composition equals the manual
stage-by-stage application, and the audit report is consistent."""

from __future__ import annotations

from pyspark.sql import functions as F

from notion_spark.pipeline import curation as CU
from notion_spark.pipeline import dedup as DD
from notion_spark.pipeline.corpus import curate_corpus

GOOD = (
    "the quick brown fox jumps over the lazy dog and then the dog wakes up "
    "and chases the fox around the field for a while before they both rest "
    "under a tree near the river where the water is cold and clear today"
)
OTHER = (
    "a completely different report about machines and factories where the "
    "workers assemble engines all day and the manager counts the parts in "
    "the warehouse before the trucks arrive to collect them every evening"
)
BENCH_SENT = (
    "benchmark sentinel section with thirteen distinct tokens appended "
    "here for overlap checking purposes"
)


def _corpus(spark):
    rows = [
        (1, GOOD),
        (2, GOOD),                             # exact dup of 1
        (3, GOOD.replace("river", "stream")),  # near dup of 1
        (4, OTHER),                            # genuinely distinct doc
        (5, "too short"),                      # fails quality rules
        # distinct doc carrying a benchmark passage -> decontaminated
        (6, OTHER.replace("report", "story").replace("engines", "robots")
            .replace("evening", "morning") + " " + BENCH_SENT),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_curate_corpus_matches_manual_stages(spark):
    df = _corpus(spark)
    bench = spark.createDataFrame([(100, BENCH_SENT)], "doc_id long, text string")
    out, report = curate_corpus(
        df, benchmark=bench, near_dup_threshold=0.5,
        quality_kwargs={"min_words": 10}, collect_report=True,
    )
    got = {r.doc_id: r.split for r in out.collect()}

    # manual composition
    q = CU.quality_rules(df, min_words=10)
    kept = df.join(q.filter(F.col("keep")).select("doc_id"), "doc_id", "left_semi")
    kept = DD.drop_exact_dups(kept)
    pairs = DD.minhash_dedup_pairs(kept, threshold=0.5)
    kept = DD.dedup_clusters(kept, pairs)
    kept = CU.decontaminate(kept, bench)
    manual = {r.doc_id: r.split for r in CU.assign_splits(kept, "doc_id").collect()}
    assert got == manual

    # semantic spot checks: 5 fails quality; 2 exact-dups to 1; 3
    # near-dups to 1; 6 survives near-dedup (three word swaps plus the
    # appended passage hold its jaccard vs 4 under 0.5) and is then
    # removed by decontamination; 1 and 4 survive
    assert set(got) == {1, 4}
    assert report.input_rows == 6
    assert report.after_quality == 5
    assert report.after_exact_dedup == 4
    assert report.after_near_dedup == 3
    assert report.after_decontam == 2
    assert sum(report.splits.values()) == 2


def test_curate_corpus_persists_multi_consumer_frame(spark):
    """The exact-dedup output feeds three subtrees (LSH signatures,
    shingle verify-sets, cluster join-back); the preset must pin it in
    the cache so the input scan + quality join + exact-dedup shuffle run
    once, not once per consumer (the r2 edge-cache lesson)."""
    df = _corpus(spark)
    out, _ = curate_corpus(df, near_dup_threshold=0.5, quality_kwargs={"min_words": 10})
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan


def test_curate_corpus_no_benchmark_no_report(spark):
    out, report = curate_corpus(_corpus(spark), near_dup_threshold=0.5, quality_kwargs={"min_words": 10})
    assert report is None
    ids = {r.doc_id for r in out.collect()}
    assert 5 not in ids and 2 not in ids  # quality + exact dedup applied
    assert "split" in out.columns


OTHER2 = (
    "the garden behind the old house grows tomatoes and beans every summer "
    "while the neighbors water the flowers and trim the hedge along the "
    "narrow path that leads to the wooden gate by the quiet street corner"
)
OTHER3 = (
    "sailors watched the harbor lights blink through the fog as the tide "
    "pulled the small boats against their ropes and the gulls circled the "
    "pier looking for scraps left behind by the evening fish market crowd"
)
OTHER4 = (
    "inside the library the students turned pages slowly under the tall "
    "windows while rain tapped the glass and the librarian stacked the "
    "returned volumes onto the squeaky cart near the reading room door"
)


def test_curate_corpus_optional_stages_match_manual(spark):
    """r7: the four opt-in stages (keep-best collapse, semantic
    decontam, token-budget fill, temperature mix) composed through the
    one blessed entry point must equal the hand-wired chain of the same
    oracle-verified operators, and the report must track each."""
    rows = [
        # (doc_id, text, score, toks, source)
        (1, GOOD, 0.9, 40, "a"),
        (2, GOOD, 0.8, 40, "a"),                              # exact dup of 1
        (3, GOOD.replace("river", "stream"), 0.95, 40, "a"),  # near dup of 1
        (4, OTHER, 0.7, 35, "b"),
        (5, "too short", 0.99, 5, "a"),                       # fails quality
        (6, OTHER2, 0.6, 50, "b"),                            # semantic-contaminated
        (7, OTHER3, 0.5, 30, "b"),
        (8, OTHER4, 0.4, 100, "c"),                           # exceeds token budget
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, score double, toks long, source string"
    )
    embs = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, 0.0] if i == 6 else [0.0, 1.0, 0.0, 0.0])
         for i in range(1, 9)],
        "doc_id long, embedding array<float>",
    )
    sb = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0])], "doc_id long, embedding array<float>"
    )
    order = [F.desc("score"), F.asc("doc_id")]
    out, report = curate_corpus(
        df, near_dup_threshold=0.5, quality_kwargs={"min_words": 10},
        collect_report=True,
        keep_best_order=order,
        embeddings=embs, semantic_benchmark=sb, semantic_threshold=0.95,
        token_budget=110, token_budget_score_col="score",
        token_budget_token_col="toks",
        mix_group_col="source", mix_budget=2, mix_alpha=0.5,
    )
    got = {r.doc_id: r.split for r in out.collect()}

    # manual composition of the same operators
    q = CU.quality_rules(df, min_words=10)
    kept = df.join(q.filter(F.col("keep")).select("doc_id"), "doc_id", "left_semi")
    kept = DD.drop_exact_dups(kept)
    pairs = DD.minhash_dedup_pairs(kept, threshold=0.5)
    kept = DD.dedup_clusters_keep_best(kept, pairs, order)
    flagged = CU.semantic_contaminated_ids(
        embs.join(kept.select("doc_id"), "doc_id", "left_semi"), sb,
        threshold=0.95, id_col="doc_id",
    )
    kept = kept.join(flagged.select("doc_id"), "doc_id", "left_anti")
    kept = CU.select_token_budget(kept, "score", "toks", budget=110)
    quotas = CU.temperature_mix_quotas(kept, "source", budget=2, alpha=0.5)
    kept = CU.take_group_quotas(kept, quotas, "source")
    manual = {r.doc_id: r.split for r in CU.assign_splits(kept, "doc_id").collect()}
    assert got == manual

    # stage-by-stage: 5 fails quality; 2 exact-dups to 1; keep-best
    # keeps 3 (highest score), NOT min-id 1; 6 dropped semantically;
    # budget 110 fits 3(40)+4(35)+7(30), 8's 100 tokens don't; mix
    # budget 2 at alpha .5 gives a=1 (doc 3), b=1 (min id 4)
    assert set(got) == {3, 4}
    assert report.input_rows == 8
    assert report.after_quality == 7
    assert report.after_exact_dedup == 6
    assert report.after_near_dedup == 5
    assert report.after_decontam == 5          # n-gram stage not enabled
    assert report.after_semantic_decontam == 4
    assert report.after_token_budget == 3
    assert report.after_temperature_mix == 2


def test_curate_corpus_optional_stage_validation(spark):
    import pytest

    df = _corpus(spark)
    with pytest.raises(ValueError, match="semantic"):
        curate_corpus(df, semantic_benchmark=df)
    with pytest.raises(ValueError, match="token_budget"):
        curate_corpus(df, token_budget=100)
    with pytest.raises(ValueError, match="temperature"):
        curate_corpus(df, mix_group_col="source")


def test_take_group_quotas_semantics(spark):
    """Quota take: per group the quota lowest ids, whole group when the
    quota exceeds it, nothing for groups absent from the quota table."""
    from notion_spark.pipeline.curation import take_group_quotas

    df = spark.createDataFrame(
        [(i, "g1" if i < 6 else ("g2" if i < 8 else "g3")) for i in range(10)],
        "doc_id long, source string",
    )
    quotas = spark.createDataFrame(
        [("g1", 2), ("g2", 99)], "group string, quota long"
    )
    got = sorted(r.doc_id for r in take_group_quotas(df, quotas, "source").collect())
    assert got == [0, 1, 6, 7]
