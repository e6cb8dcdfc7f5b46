"""Checkpoint/resume semantics: kill-after-stage-N → resume → identical output."""

from __future__ import annotations

import pytest

from jira_duplicate_detection_turkcell__spark import synth
from jira_duplicate_detection_turkcell__spark.plans import pipeline as P
from jira_duplicate_detection_turkcell__spark.sources.checkpoint import StageStore
from tests.oracle_bruteforce import assert_manifest_matches_rescan

CFG = P.DedupConfig(minhash_bucket_cap=10_000, simhash_bucket_cap=10_000)


@pytest.fixture(scope="module")
def pages(spark):
    return spark.createDataFrame(synth.generate_pages_pdf(96, seed=42))


def _assignments(result):
    return {r["url"]: r["cluster_id"] for r in result["clusters"].collect()}


def test_full_run_commits_all_stages(spark, pages, tmp_path_factory):
    root = tmp_path_factory.mktemp("ckpt_full")
    store = StageStore(root)
    result = P.run_dedup(spark, pages, CFG, store)
    baseline = _assignments(result)
    for stage in ["docs", "signatures", "edges_minhash", "edges_simhash", "clusters"]:
        assert store.is_committed(stage), stage
        assert_manifest_matches_rescan(spark, store, stage)

    # resume with everything committed → identical output, no recompute
    again = P.run_dedup(spark, pages, CFG, StageStore(root))
    assert _assignments(again) == baseline


def test_kill_after_stage_then_resume(spark, pages, tmp_path_factory):
    root = tmp_path_factory.mktemp("ckpt_kill")
    store = StageStore(root)
    baseline = _assignments(P.run_dedup(spark, pages, CFG, store))

    # simulate a crash mid-pipeline: later stages' commits are lost
    store.invalidate("edges_simhash")
    store.invalidate("clusters")
    resumed = P.run_dedup(spark, pages, CFG, StageStore(root))
    assert _assignments(resumed) == baseline


def test_config_change_invalidates_checkpoints(spark, pages, tmp_path_factory):
    root = tmp_path_factory.mktemp("ckpt_cfg")
    P.run_dedup(spark, pages, CFG, StageStore(root))

    cfg2 = P.DedupConfig(
        jaccard_threshold=0.5,
        minhash_bucket_cap=10_000,
        simhash_bucket_cap=10_000,
    )
    store2 = StageStore(root)
    P.run_dedup(spark, pages, cfg2, store2)
    # a different config fingerprint must not reuse stale commits
    assert store2.config_fingerprint == cfg2.fingerprint()
    assert store2.manifest("clusters").config_fingerprint == cfg2.fingerprint()


def test_manifest_lineage_metrics(spark, pages, tmp_path_factory):
    root = tmp_path_factory.mktemp("ckpt_lineage")
    store = StageStore(root)
    P.run_dedup(spark, pages, CFG, store)
    docs_manifest = store.manifest("docs")
    assert docs_manifest.row_count > 0
    assert len(docs_manifest.partition_rows) >= 1
    assert docs_manifest.file_count == len(docs_manifest.partition_rows)
    assert not docs_manifest.partition_rows_truncated
    assert docs_manifest.row_count == sum(docs_manifest.partition_rows.values())
    assert docs_manifest.schema_ddl.startswith("struct<")


def test_commit_lineage_of_empty_and_partly_empty_outputs(spark, tmp_path):
    """Spark writes one zero-row file for an empty output, and also for an
    empty partition 0 beside row-bearing ones; neither counts as a file."""
    store = StageStore(tmp_path / "st")
    m = store.commit("empty", spark.range(0).selectExpr("id", "id * 2 AS v"))
    assert (m.row_count, m.file_count, m.partition_rows) == (0, 0, {})
    assert not m.partition_rows_truncated
    assert_manifest_matches_rescan(spark, store, "empty")
    # partition 0 holds ids 0-24, all filtered out
    m = store.commit("head_empty", spark.range(0, 100, 1, 4).where("id >= 30"))
    assert (m.row_count, m.file_count) == (70, 3)
    assert_manifest_matches_rescan(spark, store, "head_empty")


def test_load_runs_no_job_and_refuses_uncommitted_stage(spark, tmp_path):
    """A load reads with the manifest's schema, so no job infers it from
    footers; a stage without a manifest (an aborted commit's data/) is
    refused rather than read."""
    store = StageStore(tmp_path / "st")
    df = spark.range(0, 50, 1, 2).selectExpr("id", "cast(id AS string) AS s")
    store.commit("t", df)
    sc = spark.sparkContext
    sc.setJobGroup("stage-load", "StageStore.load")
    try:
        loaded = store.load(spark, "t")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("stage-load") == []
    assert loaded.schema.simpleString() == df.schema.simpleString()
    assert sorted(r["id"] for r in loaded.collect()) == list(range(50))
    store.invalidate("t")
    with pytest.raises(FileNotFoundError, match="stage 't'"):
        store.load(spark, "t")


def test_manifest_bounded_at_many_files(spark, tmp_path_factory):
    """10⁴-file commit: per-file lineage is capped (file_cap entries), the
    manifest stays small, and totals remain exact — the 100 TB posture for
    the metadata path (a stage there writes 10⁵-10⁶ files; an unbounded
    per-file dict would be a multi-hundred-MB driver collect + manifest)."""
    root = tmp_path_factory.mktemp("ckpt_manyfiles")
    store = StageStore(root, file_cap=256)
    n_files = 10_000
    df = spark.range(n_files * 3).repartition(n_files)
    m = store.commit("wide", df)
    assert m.row_count == n_files * 3
    # ~1% of the round-robin partitions come out empty and write no
    # row-bearing file — the exact count isn't the contract, the bound is
    assert 9_000 <= m.file_count <= n_files
    assert m.partition_rows_truncated
    assert len(m.partition_rows) == 256
    manifest_bytes = (root / "wide" / "MANIFEST.json").stat().st_size
    assert manifest_bytes < 1_000_000
    assert_manifest_matches_rescan(spark, store, "wide")
    # reload path unaffected
    assert store.load(spark, "wide").count() == n_files * 3


def test_append_from_committed_postings_state(spark, pages, tmp_path_factory):
    """Checkpointed substring run commits substr_postings; an append loads
    that stage as its state (never re-winnowing the corpus) and matches a
    full rebuild."""
    from jira_duplicate_detection_turkcell__spark.streaming import incremental

    cfg = P.DedupConfig(
        enable_substring=True, minhash_bucket_cap=10_000, simhash_bucket_cap=10_000
    )
    pdf = synth.generate_pages_pdf(96, seed=42)
    batch2 = (pdf.index % 3) == 2  # interleaved: old×new substring edges exist

    root = tmp_path_factory.mktemp("ckpt_append")
    store = StageStore(root)
    base = P.run_dedup(spark, spark.createDataFrame(pdf[~batch2]), cfg, store)
    assert store.is_committed("substr_postings")

    upd = incremental.apply_append(
        base["signatures"],
        base["edges"],
        spark.createDataFrame(pdf[batch2]),
        cfg,
        existing_docs=store.load(spark, "docs"),
        existing_postings=store.load(spark, "substr_postings"),
    )
    full = P.run_dedup(spark, spark.createDataFrame(pdf), cfg)
    assert _assignments(upd) == _assignments(full)
    inc_edges = {(r["key_l"], r["key_r"]) for r in upd["edges"].collect()}
    full_edges = {(r["key_l"], r["key_r"]) for r in full["edges"].collect()}
    assert inc_edges == full_edges
