"""Atomic generation flip (StageTxn) + segment-append semantics.

Round-5 durability contract for the append path: all staged writes land
under names no reader follows, ONE intent-file rename commits the
generation, and a crash anywhere leaves either the base generation fully
usable (before the intent) or a roll-forwardable new generation (after).
The reference's consistency model rewrites everything per write with no
crash detection at all (api_server.py:848-877); rounds 2-4 detected and
refused a torn append — round 5 makes the tear impossible.
"""

from __future__ import annotations

import json

import pytest

from jira_duplicate_detection_turkcell__spark import synth
from jira_duplicate_detection_turkcell__spark.plans import pipeline as P
from jira_duplicate_detection_turkcell__spark.sources.checkpoint import (
    StageStore,
    StageTxn,
)
from tests.oracle_bruteforce import assert_manifest_matches_rescan

CFG = P.DedupConfig(minhash_bucket_cap=10_000)


def _range_df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS v")


def test_segment_append_union_and_exact_totals(spark, tmp_path):
    store = StageStore(tmp_path / "st")
    store.commit("t", _range_df(spark, 0, 100))
    txn = store.begin_txn(1)
    txn.stage_segment("t", _range_df(spark, 100, 130))
    txn.commit()
    m = store.manifest("t")
    assert m.segments == ["data", "data-g1"]
    assert m.row_count == 130
    assert_manifest_matches_rescan(spark, store, "t")
    got = {r["id"] for r in store.load(spark, "t").collect()}
    assert got == set(range(130))
    # chain a second segment
    txn2 = store.begin_txn(2)
    txn2.stage_segment("t", _range_df(spark, 130, 131))
    txn2.commit()
    assert store.manifest("t").row_count == 131
    assert store.load(spark, "t").count() == 131
    assert_manifest_matches_rescan(spark, store, "t")
    # an empty segment adds no rows and no files
    txn3 = store.begin_txn(3)
    txn3.stage_segment("t", _range_df(spark, 0, 0))
    txn3.commit()
    m3 = store.manifest("t")
    assert (m3.row_count, m3.partition_rows) == (131, {})
    assert_manifest_matches_rescan(spark, store, "t")
    assert not store._txn_path().exists()


def test_stage_full_gcs_old_segments_only_after_flip(spark, tmp_path):
    store = StageStore(tmp_path / "st")
    store.commit("t", _range_df(spark, 0, 10))
    txn = store.begin_txn(1)
    txn.stage_segment("t", _range_df(spark, 10, 20))
    txn.commit()
    # full rewrite at gen 2 must replace BOTH prior segments
    txn2 = store.begin_txn(2)
    txn2.stage_full("t", _range_df(spark, 0, 5))
    txn2.commit()
    m = store.manifest("t")
    assert m.segments == ["data-g2"]
    assert m.row_count == 5
    assert_manifest_matches_rescan(spark, store, "t")
    assert not (tmp_path / "st" / "t" / "data").exists()
    assert not (tmp_path / "st" / "t" / "data-g1").exists()


def test_stage_segment_refuses_schema_drift(spark, tmp_path):
    """A segment whose columns differ from the committed stage is refused
    before anything is written: the segment union is read without schema
    merging, so a drifted segment would corrupt the stage table."""
    store = StageStore(tmp_path / "st")
    store.commit("t", _range_df(spark, 0, 10))
    txn = store.begin_txn(1)
    drifted = _range_df(spark, 10, 20).selectExpr("*", "id AS extra")
    with pytest.raises(ValueError, match=r"stage_segment\('t'\).*extra.*fresh"):
        txn.stage_segment("t", drifted)
    assert not (tmp_path / "st" / "t" / "data-g1").exists()
    assert store.manifest("t").segments == ["data"]


def test_crash_before_intent_leaves_base_generation_usable(spark, tmp_path):
    """Staged-but-uncommitted writes are invisible: readers follow only
    MANIFEST.json, and a retry txn overwrites the leftovers."""
    store = StageStore(tmp_path / "st")
    store.commit("a", _range_df(spark, 0, 50))
    store.commit("b", _range_df(spark, 0, 7))

    txn = store.begin_txn(1)
    txn.stage_segment("a", _range_df(spark, 50, 60))
    txn.stage_full("b", _range_df(spark, 0, 9))
    # crash: commit() never runs — no intent file written

    fresh = StageStore(tmp_path / "st")  # recover() is a no-op without TXN
    assert fresh.load(spark, "a").count() == 50
    assert fresh.load(spark, "b").count() == 7
    assert fresh.manifest("a").segments == ["data"]

    # retry the whole txn — staged leftovers are overwritten
    retry = fresh.begin_txn(1)
    retry.stage_segment("a", _range_df(spark, 50, 60))
    retry.stage_full("b", _range_df(spark, 0, 9))
    retry.commit()
    assert fresh.load(spark, "a").count() == 60
    assert fresh.load(spark, "b").count() == 9


def test_crash_after_intent_rolls_forward_on_open(spark, tmp_path):
    """Once TXN.json is durable the new generation is guaranteed: a store
    opened after a mid-flip crash completes the flip, the invalidations,
    and the GC."""
    store = StageStore(tmp_path / "st")
    store.commit("a", _range_df(spark, 0, 50))
    store.commit("b", _range_df(spark, 0, 7))
    store.commit("stale", _range_df(spark, 0, 3))

    txn = store.begin_txn(1)
    txn.stage_segment("a", _range_df(spark, 50, 60), metrics={"generation": 1})
    txn.stage_full("b", _range_df(spark, 0, 9), metrics={"generation": 1})
    txn.invalidate("stale")
    # simulate a crash immediately after the intent-file rename: write the
    # exact intent commit() would, but never apply it
    intent = {
        "generation": 1,
        "flip": txn._flip,
        "invalidate": txn._invalidate,
        "gc": txn._gc,
    }
    store._txn_path().write_text(json.dumps(intent))

    fresh = StageStore(tmp_path / "st")  # __init__ rolls the txn forward
    assert fresh.load(spark, "a").count() == 60
    assert fresh.load(spark, "b").count() == 9
    assert fresh.manifest("a").metrics == {"generation": 1}
    assert fresh.manifest("b").segments == ["data-g1"]
    assert not fresh.is_committed("stale")
    assert not (tmp_path / "st" / "b" / "data").exists()  # gc ran
    # invalidation GC's the superseded stage's data too — an unlinked
    # manifest with live data dirs would orphan the table forever
    assert not (tmp_path / "st" / "stale" / "data").exists()
    assert not fresh._txn_path().exists()

    # partial-flip variant: one manifest already flipped before the crash
    txn2 = fresh.begin_txn(2)
    txn2.stage_segment("a", _range_df(spark, 60, 61))
    txn2.stage_full("b", _range_df(spark, 0, 4))
    intent2 = {"generation": 2, "flip": txn2._flip, "invalidate": [], "gc": txn2._gc}
    fresh._txn_path().write_text(json.dumps(intent2))
    # flip "a" by hand; crash before "b"
    fresh._staged_manifest_path("a").rename(fresh._manifest_path("a"))
    fresh2 = StageStore(tmp_path / "st")
    assert fresh2.load(spark, "a").count() == 61
    assert fresh2.load(spark, "b").count() == 4
    assert not fresh2._txn_path().exists()


def test_apply_append_refuses_overlapping_batch(spark):
    pdf = synth.generate_pages_pdf(32, seed=42)
    base = P.run_dedup(spark, spark.createDataFrame(pdf), CFG)
    from jira_duplicate_detection_turkcell__spark.streaming import incremental

    with pytest.raises(ValueError, match="disjoint"):
        incremental.apply_append(
            base["signatures"],
            base["edges"],
            spark.createDataFrame(pdf.iloc[:8]),  # urls already in the corpus
            CFG,
            existing_docs=base["docs"],
        )


def test_cli_append_crash_mid_staging_then_resume(spark, tmp_path, monkeypatch):
    """Kill the append between stage commits (the round-4 torn window):
    the base generation must remain fully usable — not merely 'refused
    with a rebuild hint' — and re-running the SAME append must complete
    and match a full rebuild."""
    from jira_duplicate_detection_turkcell__spark import cli

    ckpt = tmp_path / "state"
    cli.main(
        ["dedup", "--synth-n", "64", "--synth-total", "96",
         "--output", str(tmp_path / "c1"), "--checkpoint-dir", str(ckpt)]
    )
    base_clusters = {
        r["url"]: r["cluster_id"]
        for r in spark.read.parquet(str(tmp_path / "c1")).collect()
    }

    real_stage_full = StageTxn.stage_full

    def crash_on_clusters(self, stage, df, metrics=None):
        if stage == "clusters":  # several stage_segments already staged
            raise RuntimeError("injected crash between stage commits")
        return real_stage_full(self, stage, df, metrics)

    monkeypatch.setattr(StageTxn, "stage_full", crash_on_clusters)
    with pytest.raises(RuntimeError, match="injected crash"):
        cli.main(
            ["append", "--synth-n", "32", "--synth-start", "64",
             "--synth-total", "96", "--output", str(tmp_path / "c2"),
             "--state-dir", str(ckpt)]
        )
    monkeypatch.setattr(StageTxn, "stage_full", real_stage_full)

    # base generation fully usable: same stages, same generation, clusters load
    store = StageStore(ckpt)
    for st in ("docs", "signatures", "edges_minhash", "edges_simhash", "clusters"):
        assert store.manifest(st).metrics.get("generation", 0) == 0, st
    assert {
        r["url"]: r["cluster_id"]
        for r in store.load(spark, "clusters").collect()
    } == base_clusters

    # the resumed append completes and equals one full rebuild
    cli.main(
        ["append", "--synth-n", "32", "--synth-start", "64", "--synth-total", "96",
         "--output", str(tmp_path / "c2"), "--state-dir", str(ckpt)]
    )
    cli.main(["dedup", "--synth-n", "96", "--output", str(tmp_path / "cfull")])
    inc = {
        r["url"]: r["cluster_id"]
        for r in spark.read.parquet(str(tmp_path / "c2")).collect()
    }
    full = {
        r["url"]: r["cluster_id"]
        for r in spark.read.parquet(str(tmp_path / "cfull")).collect()
    }
    assert inc == full
    # segment accounting: docs grew by a segment, totals exact
    m = StageStore(ckpt).manifest("docs")
    assert m.segments == ["data", "data-g1"]
    assert m.row_count == StageStore(ckpt).load(spark, "docs").count()


def test_cli_append_refuses_synth_param_mismatch(tmp_path):
    """Base run without --synth-total bakes a different site count than the
    append's view of the corpus — the recorded generator params make that
    loud instead of silently breaking append ≡ rebuild (ADVICE r4)."""
    from jira_duplicate_detection_turkcell__spark import cli

    ckpt = tmp_path / "state"
    cli.main(
        ["dedup", "--synth-n", "64", "--synth-total", "96",
         "--output", str(tmp_path / "c1"), "--checkpoint-dir", str(ckpt)]
    )
    # simulate a base run generated at a different corpus size (site count
    # 48 ⇔ total ~3072) without paying for a 3072-page pipeline in the test
    meta = json.loads((ckpt / "SYNTH.json").read_text())
    assert meta == {"synth_seed": 42, "synth_total": 96, "synth_n_sites": 20}
    meta.update(synth_total=3072, synth_n_sites=48)
    (ckpt / "SYNTH.json").write_text(json.dumps(meta))
    with pytest.raises(SystemExit, match="params mismatch"):
        cli.main(
            ["append", "--synth-n", "32", "--synth-start", "64",
             "--synth-total", "96",
             "--output", str(tmp_path / "c2"), "--state-dir", str(ckpt)]
        )
    # a truncated label (crash mid-write) is refused with the rebuild hint
    (ckpt / "SYNTH.json").write_text('{"synth_seed": 42, "synth_to')
    for argv in (
        ["append", "--synth-n", "32", "--synth-start", "64", "--synth-total", "96",
         "--output", str(tmp_path / "c2"), "--state-dir", str(ckpt)],
        ["dedup", "--synth-n", "64", "--synth-total", "96",
         "--output", str(tmp_path / "c2"), "--checkpoint-dir", str(ckpt)],
    ):
        with pytest.raises(SystemExit, match="not valid JSON.*fresh --checkpoint-dir"):
            cli.main(argv)
    # and a base with NO recorded params (pre-round-5 store / --input base)
    (ckpt / "SYNTH.json").unlink()
    with pytest.raises(SystemExit, match="recorded no synth params"):
        cli.main(
            ["append", "--synth-n", "32", "--synth-start", "64",
             "--synth-total", "96",
             "--output", str(tmp_path / "c2"), "--state-dir", str(ckpt)]
        )


def test_cli_dedup_refuses_resumed_synth_relabel(tmp_path):
    """`dedup` on an existing checkpoint with DIFFERENT generator params
    must refuse rather than overwrite SYNTH.json: the fingerprint-matched
    stages would be REUSED (the fingerprint covers the dedup config, not
    the generator params), so overwriting would relabel the old corpus and
    let a later `append` pass the params check while mixing corpora."""
    from jira_duplicate_detection_turkcell__spark import cli

    ckpt = tmp_path / "state"
    cli.main(
        ["dedup", "--synth-n", "64", "--synth-total", "96",
         "--output", str(tmp_path / "c1"), "--checkpoint-dir", str(ckpt)]
    )
    before = (ckpt / "SYNTH.json").read_text()
    with pytest.raises(SystemExit, match="relabel"):
        cli.main(
            ["dedup", "--synth-n", "64", "--synth-total", "3072",
             "--output", str(tmp_path / "c2"), "--checkpoint-dir", str(ckpt)]
        )
    assert (ckpt / "SYNTH.json").read_text() == before  # untouched
    # identical params resume normally
    cli.main(
        ["dedup", "--synth-n", "64", "--synth-total", "96",
         "--output", str(tmp_path / "c3"), "--checkpoint-dir", str(ckpt)]
    )


def test_chained_append_supersedes_recommitted_per_kind_edges(spark, tmp_path):
    """A `dedup` resume between appends re-commits the per-kind edge stages
    over the then-current corpus; the NEXT append must supersede them in
    its transaction (manifest unlinked, data GC'd), or a later clusters
    recompute would union per-kind edges missing that batch's pairs."""
    from jira_duplicate_detection_turkcell__spark import cli
    from jira_duplicate_detection_turkcell__spark.sources.checkpoint import StageStore

    ckpt = tmp_path / "state"
    cli.main(
        ["dedup", "--synth-n", "48", "--synth-total", "96",
         "--output", str(tmp_path / "c1"), "--checkpoint-dir", str(ckpt)]
    )
    cli.main(
        ["append", "--synth-n", "24", "--synth-start", "48", "--synth-total", "96",
         "--output", str(tmp_path / "c2"), "--state-dir", str(ckpt)]
    )
    # dedup resume between appends: re-commits edges_minhash/edges_simhash
    # over the 72-doc corpus (docs/signatures/clusters stages are reused)
    cli.main(
        ["dedup", "--synth-n", "72", "--synth-total", "96",
         "--output", str(tmp_path / "c3"), "--checkpoint-dir", str(ckpt)]
    )
    assert (ckpt / "edges_minhash" / "MANIFEST.json").exists()

    cli.main(
        ["append", "--synth-n", "24", "--synth-start", "72", "--synth-total", "96",
         "--output", str(tmp_path / "c4"), "--state-dir", str(ckpt)]
    )
    # the chained append superseded the re-committed per-kind stages
    for st in ("edges_minhash", "edges_simhash"):
        assert not (ckpt / st / "MANIFEST.json").exists(), st
        assert not (ckpt / st / "data").exists(), st  # GC'd with the txn

    # and the store stays rebuild-equivalent even through a forced clusters
    # recompute (the code path that would have read the stale stages)
    store = StageStore(ckpt)
    store.invalidate("clusters")
    cli.main(
        ["dedup", "--synth-n", "96", "--synth-total", "96",
         "--output", str(tmp_path / "c5"), "--checkpoint-dir", str(ckpt)]
    )
    cli.main(
        ["dedup", "--synth-n", "96", "--synth-total", "96",
         "--output", str(tmp_path / "cfull")]
    )
    got = {
        r["url"]: r["cluster_id"]
        for r in spark.read.parquet(str(tmp_path / "c5")).collect()
    }
    want = {
        r["url"]: r["cluster_id"]
        for r in spark.read.parquet(str(tmp_path / "cfull")).collect()
    }
    assert got == want
