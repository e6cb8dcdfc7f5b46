"""Structured Streaming parity, incremental append dedup, and CLI packaging."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from jira_duplicate_detection_turkcell__spark import synth
from jira_duplicate_detection_turkcell__spark.plans import pipeline as P
from jira_duplicate_detection_turkcell__spark.streaming import incremental, windows

SF_DIR = "/root/testdata/sf0.001"
CFG = P.DedupConfig(minhash_bucket_cap=10_000)


def test_streaming_windowed_counts_match_batch(spark, tmp_path):
    src = tmp_path / "events_src"
    spark.read.parquet(f"{SF_DIR}/events.parquet").write.parquet(str(src))
    batch_df = spark.read.parquet(str(src))
    expected = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value_cents"])
        for r in windows.windowed_event_counts(batch_df).collect()
    }

    stream = spark.readStream.schema(batch_df.schema).parquet(str(src))
    out = windows.windowed_event_counts(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value_cents"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert got == expected


def test_streaming_signatures_match_batch(spark, tmp_path):
    src = tmp_path / "pages_src"
    pages = spark.createDataFrame(synth.generate_pages_pdf(48, seed=42))
    pages.write.parquet(str(src))
    batch_pages = spark.read.parquet(str(src))

    expected = {
        r["url"]: (list(r["band_hashes"]), r["simhash"])
        for r in windows.streaming_signatures(batch_pages, CFG).collect()
    }
    stream = spark.readStream.schema(batch_pages.schema).parquet(str(src))
    q = (
        windows.streaming_signatures(stream, CFG)
        .writeStream.format("memory")
        .queryName("sigs")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["url"]: (list(r["band_hashes"]), r["simhash"])
        for r in spark.sql("SELECT * FROM sigs").collect()
    }
    assert got == expected


def test_streaming_signatures_char_shingles_without_simhash(spark):
    """char-shingle + enable_simhash=False is a valid DedupConfig whose
    signature stage emits no simhash column; streaming_signatures must
    adapt its projection instead of raising UNRESOLVED_COLUMN."""
    pages = spark.createDataFrame(synth.generate_pages_pdf(8, seed=42))
    cfg = P.DedupConfig(shingle_kind="char", enable_simhash=False)
    out = windows.streaming_signatures(pages, cfg)
    assert out.columns == ["url", "band_hashes"]
    assert out.count() == 8
    # and the simhash column is still present whenever the kind is enabled
    with_sh = windows.streaming_signatures(pages, P.DedupConfig(shingle_kind="char"))
    assert with_sh.columns == ["url", "band_hashes", "simhash"]


@pytest.mark.parametrize(
    "cfg",
    [
        # simhash ON (round 2 only maintained the MinHash kind) + caps high
        CFG,
        # caps of 2: every bucket trips the cap, the whole append runs
        # through salted bipartite cells — results must be identical
        P.DedupConfig(minhash_bucket_cap=2),
        # substring kind ON (round 3 rejected it at the API boundary):
        # append must maintain the winnowed-postings state and emit the
        # same exact substring edges a rebuild would
        P.DedupConfig(
            enable_substring=True, minhash_bucket_cap=10_000
        ),
        # sampled substring mode: nomination runs through the salted
        # bipartite new×all postings join
        P.DedupConfig(
            enable_substring=True,
            substr_sample=3,
            substr_min_len=32,
            minhash_bucket_cap=10_000,
        ),
    ],
    ids=["simhash_on", "hot_buckets_salted", "substring_on", "substring_sampled"],
)
def test_incremental_append_equals_full_rerun(spark, cfg):
    """Split the corpus; batch 1 + incremental batch 2 must equal one full run."""
    pdf = synth.generate_pages_pdf(96, seed=42)
    pages_all = spark.createDataFrame(pdf)
    # interleaved split: the synth corpus groups near-dup chains
    # contiguously, so a head/tail split has NO old×new edges — every
    # third row goes to the append batch instead (40 cross-boundary + 7
    # new×new substring edges at these settings, measured)
    batch2 = (pdf.index % 3) == 2
    pages_1 = spark.createDataFrame(pdf[~batch2])
    pages_2 = spark.createDataFrame(pdf[batch2])

    full = P.run_dedup(spark, pages_all, cfg)
    full_assign = {r["url"]: r["cluster_id"] for r in full["clusters"].collect()}
    full_edges = {(r["key_l"], r["key_r"]) for r in full["edges"].collect()}

    base = P.run_dedup(spark, pages_1, cfg)
    upd = incremental.apply_append(
        base["signatures"], base["edges"], pages_2, cfg, existing_docs=base["docs"]
    )
    inc_assign = {r["url"]: r["cluster_id"] for r in upd["clusters"].collect()}
    inc_edges = {(r["key_l"], r["key_r"]) for r in upd["edges"].collect()}

    assert inc_edges == full_edges  # every enabled edge kind, no cap drops
    assert inc_assign == full_assign


def test_incremental_substring_certificate_clusters_equal(spark):
    """Oversized components (spanning-certificate branch) under append.

    With substr_max_group_docs=4 this corpus has 3 components over the cap
    (max size 8, measured), so both the full rerun and the append emit
    certificate star edges. Edge SETS legitimately differ (a certificate is
    a spanning subgraph, and its fp-representatives depend on the member
    set), but the clusters — the consistency contract, and all the
    reference's append path preserves (api_server.py:848-877) — must be
    identical.
    """
    cfg = P.DedupConfig(
        enable_substring=True,
        substr_max_group_docs=4,
        minhash_bucket_cap=10_000,
    )
    pdf = synth.generate_pages_pdf(96, seed=42)
    batch2 = (pdf.index % 3) == 2
    full = P.run_dedup(spark, spark.createDataFrame(pdf), cfg)
    base = P.run_dedup(spark, spark.createDataFrame(pdf[~batch2]), cfg)
    upd = incremental.apply_append(
        base["signatures"],
        base["edges"],
        spark.createDataFrame(pdf[batch2]),
        cfg,
        existing_docs=base["docs"],
    )
    assert upd["new_edges"].columns == ["key_l", "key_r"]
    full_assign = {r["url"]: r["cluster_id"] for r in full["clusters"].collect()}
    inc_assign = {r["url"]: r["cluster_id"] for r in upd["clusters"].collect()}
    # same partition of urls into clusters (ids are representative-based and
    # may differ between runs only if representatives differ — they don't,
    # labels are min-url, so direct equality holds)
    assert inc_assign == full_assign


def test_incremental_chained_appends_equal_full_rerun(spark):
    """THREE sequential appends threading the returned docs/postings state —
    the loop a real ingestion runs. Every edge kind enabled (substring
    included); final edges and clusters must equal one full batch run."""
    cfg = P.DedupConfig(
        enable_substring=True, minhash_bucket_cap=10_000
    )
    pdf = synth.generate_pages_pdf(96, seed=42)
    slot = pdf.index % 4  # interleaved 4-way: cross-batch edges in every step

    full = P.run_dedup(spark, spark.createDataFrame(pdf), cfg)

    state = P.run_dedup(spark, spark.createDataFrame(pdf[slot == 0]), cfg)
    docs, postings = state["docs"], None
    for step in (1, 2, 3):
        upd = incremental.apply_append(
            state["signatures"],  # same key from run_dedup AND apply_append
            state["edges"],
            spark.createDataFrame(pdf[slot == step]),
            cfg,
            existing_docs=docs,
            existing_postings=postings,
        )
        state = upd
        docs, postings = upd["docs"], upd["postings"]

    full_assign = {r["url"]: r["cluster_id"] for r in full["clusters"].collect()}
    inc_assign = {r["url"]: r["cluster_id"] for r in state["clusters"].collect()}
    assert inc_assign == full_assign
    full_edges = {(r["key_l"], r["key_r"]) for r in full["edges"].collect()}
    inc_edges = {(r["key_l"], r["key_r"]) for r in state["edges"].collect()}
    assert inc_edges == full_edges


@pytest.mark.parametrize("seed,k", [(0, 2), (1, 3), (2, 4)])
def test_random_split_appends_equal_full_rerun(spark, seed, k):
    """append ≡ rebuild over seeded-RANDOM corpus splits (the fixed
    interleaves above pick structured boundaries; random assignment
    exercises arbitrary batch shapes — lopsided sizes, broken chains,
    singleton batches) with every edge kind enabled."""
    import numpy as np

    cfg = P.DedupConfig(
        enable_substring=True, minhash_bucket_cap=10_000
    )
    pdf = synth.generate_pages_pdf(96, seed=42)
    rng = np.random.RandomState(seed)
    slot = rng.randint(0, k, size=len(pdf))
    slot[:k] = np.arange(k)  # every batch non-empty (empty ≡ identity is
    # pinned by its own test below)

    full = P.run_dedup(spark, spark.createDataFrame(pdf), cfg)

    state = P.run_dedup(spark, spark.createDataFrame(pdf[slot == 0]), cfg)
    docs, postings = state["docs"], None
    for step in range(1, k):
        upd = incremental.apply_append(
            state["signatures"],
            state["edges"],
            spark.createDataFrame(pdf[slot == step]),
            cfg,
            existing_docs=docs,
            existing_postings=postings,
        )
        state, docs, postings = upd, upd["docs"], upd["postings"]

    full_assign = {r["url"]: r["cluster_id"] for r in full["clusters"].collect()}
    inc_assign = {r["url"]: r["cluster_id"] for r in state["clusters"].collect()}
    assert inc_assign == full_assign
    full_edges = {(r["key_l"], r["key_r"]) for r in full["edges"].collect()}
    inc_edges = {(r["key_l"], r["key_r"]) for r in state["edges"].collect()}
    assert inc_edges == full_edges


def test_incremental_empty_batch_is_identity(spark):
    """Real ingestion hits empty batches; append of zero pages must leave
    edges and clusters exactly unchanged (every edge kind enabled)."""
    cfg = P.DedupConfig(
        enable_substring=True, minhash_bucket_cap=10_000
    )
    pages = spark.createDataFrame(synth.generate_pages_pdf(24, seed=42))
    base = P.run_dedup(spark, pages, cfg)
    empty = spark.createDataFrame([], pages.schema)
    upd = incremental.apply_append(
        base["signatures"], base["edges"], empty, cfg, existing_docs=base["docs"]
    )
    assert {(r["key_l"], r["key_r"]) for r in upd["edges"].collect()} == {
        (r["key_l"], r["key_r"]) for r in base["edges"].collect()
    }
    assert {r["url"]: r["cluster_id"] for r in upd["clusters"].collect()} == {
        r["url"]: r["cluster_id"] for r in base["clusters"].collect()
    }


def test_incremental_substring_requires_docs_state(spark):
    pdf = synth.generate_pages_pdf(16, seed=42)
    cfg = P.DedupConfig(enable_substring=True)
    base = P.run_dedup(spark, spark.createDataFrame(pdf.iloc[:8]), cfg)
    with pytest.raises(ValueError, match="existing_docs"):
        incremental.apply_append(
            base["signatures"], base["edges"], spark.createDataFrame(pdf.iloc[8:]), cfg
        )


def test_append_refuses_intra_batch_duplicate_urls(spark):
    """A batch carrying the same url twice (a crawl re-fetch landing in one
    batch) passes the new-vs-existing disjointness check but would commit
    duplicated state rows — the guard must catch it before any state math."""
    import pandas as pd

    pdf = synth.generate_pages_pdf(24, seed=42)
    base = P.run_dedup(spark, spark.createDataFrame(pdf.iloc[:16]), CFG)
    batch = pd.concat([pdf.iloc[16:], pdf.iloc[20:21]])  # one url twice
    with pytest.raises(ValueError, match="within itself"):
        incremental.apply_append(
            base["signatures"], base["edges"], spark.createDataFrame(batch), CFG
        )


def test_salted_bipartite_pairs_identical_to_plain_join(spark):
    # planted hot bucket: 40 'all' members (8 of them new) in one bucket +
    # cold buckets; cap=5 salts both sides — pair set must equal the plain
    # bipartite join's
    from jira_duplicate_detection_turkcell__spark.operators.buckets import (
        salted_bipartite_pairs,
    )

    all_rows = [(0, 99, f"d{i:03d}") for i in range(40)]
    all_rows += [(1, 7, f"d{i:03d}") for i in range(6)]
    new_rows = [r for r in all_rows if r[2] >= "d032"] + [(1, 7, "d001")]
    schema = "bid int, bkey long, url string"
    all_df = spark.createDataFrame(all_rows, schema)
    new_df = spark.createDataFrame(new_rows, schema)

    got_pairs, hot = salted_bipartite_pairs(
        new_df, all_df, ["bid", "bkey"], "url", cap=5
    )
    got = {(r["key_l"], r["key_r"]) for r in got_pairs.collect()}

    plain = (
        new_df.selectExpr("bid", "bkey", "url AS a")
        .join(all_df.selectExpr("bid", "bkey", "url AS b"), ["bid", "bkey"])
        .where("a <> b")
        .selectExpr("least(a, b) AS key_l", "greatest(a, b) AS key_r")
    )
    want = {(r["key_l"], r["key_r"]) for r in plain.collect()}
    assert hot.count() > 0
    assert got == want


def test_cli_dedup_in_process(spark, tmp_path):
    from jira_duplicate_detection_turkcell__spark import cli

    out_dir = tmp_path / "clusters"
    cli.main(
        [
            "dedup",
            "--synth-n", "64",
            "--output", str(out_dir),
            "--checkpoint-dir", str(tmp_path / "ckpt"),
        ]
    )
    result = spark.read.parquet(str(out_dir))
    assert result.count() > 0
    assert set(result.columns) == {"url", "cluster_id"}


def _assert_record_counts_output(spark, capsys, output) -> None:
    """The CLI's JSON line reports the counts of the output it wrote."""
    record = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    written = spark.read.parquet(str(output))
    assert record["docs"] == written.count()
    assert record["clusters"] == written.select("cluster_id").distinct().count()
    assert record["dup_docs"] == record["docs"] - record["clusters"]


# the signatures stage commits exactly the columns a shipped plan reads:
# shingles (exact Jaccard), simhash (Hamming), band_hashes (buckets) and
# screen (the inline MinHash agreement screen)
SIGNATURE_COLUMNS = ["url", "shingles", "simhash", "band_hashes", "screen"]


def _assert_signatures_columns(ckpt: Path) -> None:
    """The committed signatures stage after an append: its manifest schema
    and every segment's parquet files, base and appended alike, hold
    SIGNATURE_COLUMNS."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import DataType

    from jira_duplicate_detection_turkcell__spark.sources.checkpoint import StageStore

    manifest = StageStore(ckpt).manifest("signatures")
    assert manifest.segments == ["data", "data-g1"]
    assert DataType.fromDDL(manifest.schema_ddl).names == SIGNATURE_COLUMNS
    for segment in manifest.segments:
        files = sorted((ckpt / "signatures" / segment).glob("part-*.parquet"))
        assert files, segment
        for f in files:
            assert pq.read_schema(f).names == SIGNATURE_COLUMNS, f


def test_cli_append_in_process(spark, tmp_path, capsys):
    """dedup batch 1 (checkpointed) → append batch 2 → clusters must equal
    one full dedup over the whole corpus, with every edge kind enabled and
    the state committed at generation 1 (chainable)."""
    from jira_duplicate_detection_turkcell__spark import cli
    from jira_duplicate_detection_turkcell__spark.sources.checkpoint import StageStore

    ckpt = tmp_path / "state"
    common = ["--substring"]
    cli.main(
        ["dedup", "--synth-n", "64", "--synth-total", "96",
         "--output", str(tmp_path / "c1"), "--checkpoint-dir", str(ckpt), *common]
    )
    _assert_record_counts_output(spark, capsys, tmp_path / "c1")
    cli.main(
        ["append", "--synth-n", "32", "--synth-start", "64", "--synth-total", "96",
         "--output", str(tmp_path / "c2"), "--state-dir", str(ckpt), *common]
    )
    _assert_record_counts_output(spark, capsys, tmp_path / "c2")
    cli.main(
        ["dedup", "--synth-n", "96", "--output", str(tmp_path / "cfull"), *common]
    )
    inc = {
        r["url"]: r["cluster_id"]
        for r in spark.read.parquet(str(tmp_path / "c2")).collect()
    }
    full = {
        r["url"]: r["cluster_id"]
        for r in spark.read.parquet(str(tmp_path / "cfull")).collect()
    }
    assert inc == full
    store = StageStore(ckpt)
    assert store.manifest("edges").metrics["generation"] == 1
    # per-kind edge stages invalidated → a later dedup resume can't mix
    assert not (ckpt / "edges_minhash" / "MANIFEST.json").exists()
    # committed edge state stores each pair once — a pair witnessed by both
    # a signature kind and the substring kind must not commit twice
    edges = store.load(spark, "edges")
    assert edges.count() == edges.distinct().count()
    _assert_signatures_columns(ckpt)


def test_fingerprint_covers_sign_schema(spark, tmp_path, monkeypatch):
    """A store committed under another signing schema is not reused: append
    refuses it with the missing-stage message, and dedup rebuilds it."""
    from dataclasses import asdict, replace

    from jira_duplicate_detection_turkcell__spark import cli
    from jira_duplicate_detection_turkcell__spark.operators import signatures
    from jira_duplicate_detection_turkcell__spark.sources.checkpoint import StageStore

    cfg = P.DedupConfig()
    # the schema with one more column, as when the stage also committed the
    # raw MinHash signature
    old_schema = signatures.SIGN_SCHEMA.replace(
        "shingles array<long>,", "shingles array<long>, signature array<long>,"
    )
    with monkeypatch.context() as m:
        m.setattr(signatures, "SIGN_SCHEMA", old_schema)
        old_fp = cfg.fingerprint()
        old_ddl = spark.createDataFrame([], old_schema).schema.simpleString()
    assert old_fp != cfg.fingerprint()

    ckpt = tmp_path / "state"
    base = ["--synth-n", "48", "--synth-total", "64"]
    cli.main(["dedup", *base, "--output", str(tmp_path / "c1"),
              "--checkpoint-dir", str(ckpt)])
    # relabel the committed store as one built under the old schema
    store = StageStore(ckpt)
    for mp in ckpt.glob("*/MANIFEST.json"):
        manifest = replace(store.manifest(mp.parent.name), config_fingerprint=old_fp)
        if manifest.stage == "signatures":
            manifest = replace(manifest, schema_ddl=old_ddl)
        mp.write_text(json.dumps(asdict(manifest)))

    append = ["append", "--synth-n", "16", "--synth-start", "48",
              "--synth-total", "64", "--output", str(tmp_path / "c2"),
              "--state-dir", str(ckpt)]
    with pytest.raises(SystemExit, match="missing from .* or was built with a different config"):
        cli.main(append)

    cli.main(["dedup", *base, "--output", str(tmp_path / "c1"),
              "--checkpoint-dir", str(ckpt)])
    rebuilt = StageStore(ckpt).manifest("signatures")
    assert rebuilt.config_fingerprint == cfg.fingerprint()
    assert rebuilt.schema_ddl != old_ddl
    cli.main(append)  # the rebuilt store accepts the append
    _assert_signatures_columns(ckpt)


def test_cli_rejects_non_positive_synth_n(tmp_path):
    # `--synth-n 0` satisfies argparse's mutually-exclusive source group but
    # must not fall through to the --input branch with input=None
    from jira_duplicate_detection_turkcell__spark import cli

    for n in ("0", "-5"):
        with pytest.raises(SystemExit, match="positive"):
            cli.main(["dedup", "--synth-n", n, "--output", str(tmp_path / "o")])


def test_config_errors_raise_and_cli_names_the_flags(tmp_path):
    # a bad config fails at construction (not by an assert `python -O`
    # strips, nor by silently taking the char path); the CLI turns it into
    # a message naming the flags, before any Spark work
    from jira_duplicate_detection_turkcell__spark import cli

    with pytest.raises(ValueError, match=r"bands\*rows must equal num_perm"):
        P.DedupConfig(bands=3)
    with pytest.raises(ValueError, match="shingle_kind"):
        P.DedupConfig(shingle_kind="chars")
    for cmd in (["dedup"], ["append", "--state-dir", str(tmp_path / "s")]):
        with pytest.raises(SystemExit, match="--bands/--rows/--num-perm"):
            cli.main(
                [*cmd, "--synth-n", "8", "--bands", "3", "--output", str(tmp_path / "o")]
            )


def test_cli_append_refuses_missing_state(spark, tmp_path):
    import pytest as _pytest

    from jira_duplicate_detection_turkcell__spark import cli

    with _pytest.raises(SystemExit, match="state stage"):
        cli.main(
            ["append", "--synth-n", "8", "--output", str(tmp_path / "o"),
             "--state-dir", str(tmp_path / "empty")]
        )


def test_pyfiles_zip_builds_and_imports(tmp_path):
    repo = Path(__file__).resolve().parent.parent
    zip_path = tmp_path / "jdt_spark.zip"
    subprocess.run(
        ["bash", str(repo / "scripts" / "make_pyfiles.sh"), str(zip_path)],
        check=True, cwd=tmp_path, capture_output=True,
    )
    assert zip_path.exists()
    # the zip must be importable standalone (zipimport), as --py-files requires
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "import jira_duplicate_detection_turkcell__spark.plans.pipeline as p; "
        "print(p.DedupConfig().fingerprint())"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, str(zip_path)],
        check=True, capture_output=True, text=True,
    )
    assert len(out.stdout.strip()) == 16
