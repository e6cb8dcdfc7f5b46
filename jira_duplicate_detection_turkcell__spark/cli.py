"""spark-submit entry point.

Deployment shape per BASELINE.md: ``spark-submit --py-files pkg.zip cli.py …``
(scripts/make_pyfiles.sh builds the zip). Subcommands:

  dedup      run the full pipeline over an input parquet dir of pages
             (url, warc_ts, html, …) or a deterministic synthetic corpus
             (--synth-n), with optional stage checkpointing (--checkpoint-dir
             → resumable) and cluster output to --output.
  append     incremental append of a new pages batch onto a CHECKPOINTED
             prior run (--state-dir = its --checkpoint-dir): only the new
             batch is extracted/signed/fingerprinted, candidate pairs come
             from the salted bipartite new×all join (+ the winnowed-postings
             state for --substring), and the updated state is committed back
             — so appends chain, and append ≡ full rebuild (the reference's
             consistency model, api_server.py:848-877, at incremental cost).

Both subcommands run on the session they were launched with and apply the
engine's runtime SQL tuning the launch left unset (``session.attach``); the
JSON line's ``conf_diff`` names every engine tuning key that did not hold.
Launch with ``session.submit_args`` so that it is ``{}`` (run from the repo
root after scripts/make_pyfiles.sh):

  mapfile -t ARGS < <(python -c 'from jira_duplicate_detection_turkcell__spark import session; print(*session.submit_args(32, "dist/jdt_spark.zip"), sep="\\n")')
  spark-submit "${ARGS[@]}" jira_duplicate_detection_turkcell__spark/cli.py \\
      dedup --synth-n 100000 --output /tmp/clusters --checkpoint-dir /tmp/ckpt
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

# when shipped via --py-files the package is importable from the zip; when run
# from the repo root, fall back to the source tree
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _cfg_from_args(args):
    from jira_duplicate_detection_turkcell__spark.plans import pipeline as P

    try:
        return P.DedupConfig(
            shingle_size=args.shingle_size,
            num_perm=args.num_perm,
            bands=args.bands,
            rows=args.rows,
            jaccard_threshold=args.jaccard_threshold,
            enable_simhash=not args.no_simhash,
            enable_substring=args.substring,
        )
    except ValueError as e:
        raise SystemExit(f"--bands/--rows/--num-perm: {e}") from None


SYNTH_SEED = 42


def _validate_source_args(args) -> None:
    # `--synth-n 0` satisfies argparse's required mutually-exclusive group
    # but is falsy: a plain truthiness test would silently fall through to
    # the --input branch with input=None. Treat presence and validity
    # separately, up front, before any guard logic reads the value.
    if args.synth_n is not None and args.synth_n <= 0:
        raise SystemExit("--synth-n must be a positive page count")


def _pages_from_args(spark, args):
    from jira_duplicate_detection_turkcell__spark import synth

    if args.synth_n is not None:
        return synth.generate_pages_df(
            spark, args.synth_n, seed=SYNTH_SEED,
            partitions=spark.sparkContext.defaultParallelism * 2,
            start=args.synth_start,
            total=args.synth_total,
        )
    return spark.read.parquet(args.input)


def _report_output(spark, clusters, output: str, t0: float, extra: dict | None = None) -> None:
    """Write the clusters parquet and print the one-line JSON report, with
    both counts observed by the write: ``cluster_id`` is the component's
    minimum url, so each cluster has one row with ``url == cluster_id``.
    One elapsed reading feeds both ``seconds`` and ``docs_per_sec``."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from jira_duplicate_detection_turkcell__spark import session

    observed = Observation()
    clusters.observe(
        observed,
        F.count(F.lit(1)).alias("docs"),
        F.count_if(F.col("url") == F.col("cluster_id")).alias("clusters"),
    ).write.mode("overwrite").parquet(output)
    n_docs, n_clusters = observed.get["docs"], observed.get["clusters"]
    elapsed = time.time() - t0
    record = {
        "docs": n_docs,
        "clusters": n_clusters,
        "dup_docs": n_docs - n_clusters,
        "conf_diff": session.conf_diff(spark),
        **(extra or {}),
        "seconds": round(elapsed, 2),
        "docs_per_sec": round(n_docs / elapsed, 1) if elapsed > 0 else None,
        "output": output,
    }
    print(json.dumps(record))


def _synth_params(args) -> dict | None:
    """Generator parameters a synthetic run bakes into its corpus — recorded
    in the checkpoint store so a later append can verify it is slicing the
    SAME corpus (site count derives from the total: a base run without
    --synth-total yields different per-doc sites than the append's view of
    the corpus, silently breaking append ≡ rebuild)."""
    from jira_duplicate_detection_turkcell__spark import synth

    if args.synth_n is None:
        return None
    total = args.synth_total if args.synth_total is not None else (
        args.synth_start + args.synth_n
    )
    return {
        "synth_seed": SYNTH_SEED,
        "synth_total": total,
        "synth_n_sites": synth.n_sites_for(total),
    }


def _read_synth_meta(path: Path) -> dict:
    try:
        return json.loads(path.read_text())
    except json.JSONDecodeError as e:
        raise SystemExit(
            f"{path} is not valid JSON ({e}): the store's corpus label is "
            f"damaged — rebuild with `dedup` into a fresh --checkpoint-dir"
        ) from None


def cmd_dedup(args) -> None:
    from jira_duplicate_detection_turkcell__spark import session
    from jira_duplicate_detection_turkcell__spark.plans import pipeline as P
    from jira_duplicate_detection_turkcell__spark.sources.checkpoint import StageStore

    cfg = _cfg_from_args(args)
    _validate_source_args(args)
    spark = session.attach()
    store = (
        StageStore(args.checkpoint_dir, config_fingerprint=cfg.fingerprint())
        if args.checkpoint_dir
        else None
    )
    record_synth = False
    synth_params = synth_meta = None
    if store is not None:
        # Record the synthetic-generator params so a later `append` can
        # refuse a mismatched slice — but only when they actually describe
        # the corpus the store will hold. A resumed run REUSES any stage
        # whose fingerprint matches (the fingerprint covers the dedup
        # config, not the generator params), so blindly overwriting
        # SYNTH.json here would let `dedup --synth-total X` on a store
        # built with total Y relabel the old corpus and defeat the guard.
        # Timing is asymmetric: a label that stops describing the store is
        # REMOVED up front (an unlabeled store is refused by `append` — the
        # safe direction), but the new label is WRITTEN only after the
        # rebuilt docs stage is durably committed — writing at startup
        # would mislabel the old corpus for the whole rebuild window, so a
        # crash mid-rebuild leaves a store whose docs and label disagree.
        synth_params = _synth_params(args)
        synth_meta = store.root / "SYNTH.json"
        docs_reused = store.is_committed("docs")
        if synth_params is not None:
            if synth_meta.exists():
                have = _read_synth_meta(synth_meta)
                if have != synth_params and docs_reused:
                    raise SystemExit(
                        f"dedup --synth-n: this store's committed corpus was "
                        f"generated with {have}, but the arguments imply "
                        f"{synth_params} — resuming would relabel the old "
                        f"corpus; pass --synth-total {have.get('synth_total')} "
                        f"or use a fresh --checkpoint-dir"
                    )
                if have != synth_params:
                    # full rebuild (nothing reusable) → old label is wrong
                    # the moment the rebuild starts
                    synth_meta.unlink()
                    record_synth = True
            elif not docs_reused:
                record_synth = True
            # else: resumed corpus of unknown provenance (predates
            # SYNTH.json) — leave it unrecorded; `append` refuses such
            # stores rather than trusting a retrofitted label
        elif synth_meta.exists() and not docs_reused:
            # --input run rebuilding the stages: the synth label no longer
            # describes what the store will hold
            synth_meta.unlink()

    pages = _pages_from_args(spark, args)

    t0 = time.time()
    result = P.run_dedup(spark, pages, cfg, store)
    if record_synth:
        # run_dedup returned → the docs stage this label describes is
        # committed (see the timing note above); tmp+rename as in the store
        tmp = synth_meta.with_suffix(".tmp")
        tmp.write_text(json.dumps(synth_params))
        tmp.rename(synth_meta)
    _report_output(
        spark, result["clusters"], args.output, t0,
        extra={"config_fingerprint": cfg.fingerprint()},
    )


def cmd_append(args) -> None:
    """Append a batch onto a checkpointed run; commit updated state back.

    Consistency scheme: ONE atomic generation flip (StageTxn). Every
    updated stage is staged first — docs/signatures/postings/edges as
    *segments* holding only the new rows (O(new batch) I/O, the
    Iceberg-append analog), clusters as a full rewrite into a fresh
    directory — without touching the directories the live generation (and
    the update plans themselves) read from. Then a single intent-file
    rename commits all of it: a crash before it leaves the base generation
    fully usable (a retry just re-stages); a crash after it is rolled
    forward by the next StageStore open. The per-generation tag in each
    manifest stays as a belt-and-braces check, but mixed generations can no
    longer be produced by this path. An Iceberg backend would replace this
    with real snapshot commits (SURVEY.md §7.5); the interface is the same.
    """
    from jira_duplicate_detection_turkcell__spark import session
    from jira_duplicate_detection_turkcell__spark.plans import pipeline as P
    from jira_duplicate_detection_turkcell__spark.sources.checkpoint import StageStore
    from jira_duplicate_detection_turkcell__spark.streaming import incremental

    cfg = _cfg_from_args(args)
    _validate_source_args(args)
    spark = session.attach()
    store = StageStore(args.state_dir, config_fingerprint=cfg.fingerprint())

    state_stages = ["docs", "signatures"]
    if cfg.enable_substring:
        state_stages.append("substr_postings")
    # a fresh `dedup` store commits per-KIND edge stages; every append
    # commits (and thereafter reads) one combined "edges" stage
    if store.is_committed("edges"):
        edge_stages = ["edges"]
    else:
        edge_stages = ["edges_minhash"]
        if cfg.enable_simhash:
            edge_stages.append("edges_simhash")
        if cfg.enable_substring:
            edge_stages.append("edges_substring")
    for st in state_stages + edge_stages:
        if not store.is_committed(st):
            raise SystemExit(
                f"append: state stage '{st}' is missing from {args.state_dir} "
                f"or was built with a different config (fingerprint "
                f"{cfg.fingerprint()}) — run `dedup --checkpoint-dir` with "
                f"this exact config first"
            )
    if args.synth_n is not None:
        # a synthetic append slices the SAME deterministic corpus as its
        # base run — verify the recorded generator params (site count
        # derives from the corpus total; a mismatch silently breaks
        # append ≡ rebuild)
        want = _synth_params(args)
        synth_meta = store.root / "SYNTH.json"
        if not synth_meta.exists():
            raise SystemExit(
                "append --synth-n: the base run recorded no synth params "
                f"in {args.state_dir} (it ran from --input, or predates "
                "SYNTH.json) — appending a synthetic slice onto it would "
                "mix corpora; rebuild with `dedup --synth-n --synth-total`"
            )
        have = _read_synth_meta(synth_meta)
        if (
            have.get("synth_seed") != want["synth_seed"]
            or have.get("synth_n_sites") != want["synth_n_sites"]
        ):
            raise SystemExit(
                f"append --synth-n: generator params mismatch — base run "
                f"recorded {have}, this append implies {want}; pass "
                f"--synth-total {have.get('synth_total')} so both runs "
                f"slice the same corpus (site count derives from the total)"
            )

    gens = {
        st: store.manifest(st).metrics.get("generation", 0)
        for st in state_stages + edge_stages
    }
    if len(set(gens.values())) != 1:
        raise SystemExit(
            f"append: state generations are mixed ({gens}) — a prior append "
            f"crashed mid-commit; rebuild with `dedup` or restore the store"
        )
    generation = next(iter(gens.values())) + 1

    existing_edges = store.load(spark, edge_stages[0]).select("key_l", "key_r")
    for st in edge_stages[1:]:
        existing_edges = existing_edges.unionByName(
            store.load(spark, st).select("key_l", "key_r")
        )
    if len(edge_stages) > 1:
        existing_edges = existing_edges.distinct()

    t0 = time.time()
    upd = incremental.apply_append(
        store.load(spark, "signatures"),
        existing_edges,
        _pages_from_args(spark, args),
        cfg,
        existing_docs=store.load(spark, "docs"),
        existing_postings=(
            store.load(spark, "substr_postings") if cfg.enable_substring else None
        ),
    )
    # Atomic generation flip: state tables grow by a SEGMENT holding only
    # the new rows (never rewriting — or even reading back — the corpus;
    # append I/O is O(new batch)); clusters, which change globally, are
    # rewritten in full into a staged directory. The plans stream straight
    # into the staged paths — the live directories they read from are
    # untouched until the intent-file commit, so no localCheckpoint
    # materialization step is needed.
    gen_metric = {"generation": generation}
    txn = store.begin_txn(generation)
    txn.stage_segment("docs", upd["new_docs"], metrics=gen_metric)
    txn.stage_segment("signatures", upd["new_signatures"], metrics=gen_metric)
    if cfg.enable_substring:
        txn.stage_segment("substr_postings", upd["new_postings"], metrics=gen_metric)
    if store.is_committed("edges"):
        # chained append: the combined edge stage grows by the new edges
        # (disjoint from prior edges by construction — every one touches a
        # new doc; the cluster step distincts defensively either way)
        txn.stage_segment("edges", upd["new_edges"], metrics=gen_metric)
    else:
        # first append on a per-kind base: consolidate into ONE combined
        # stage, superseding the per-kind stages IN THE SAME transaction —
        # no crash window where appended docs coexist with stale per-kind
        # edges (a later `dedup` resume would have mixed generations)
        txn.stage_full("edges", upd["edges"], metrics=gen_metric)
    # Supersede the per-kind edge stages on EVERY append (idempotent when
    # absent): a `dedup --checkpoint-dir` resume between appends re-commits
    # them over the then-current corpus, and without this a later append
    # would leave those re-committed stages stale — a subsequent resume
    # forced to recompute clusters would union per-kind edges missing every
    # pair that touches this batch.
    for st in ("edges_minhash", "edges_simhash", "edges_substring"):
        txn.invalidate(st)
    txn.stage_full("clusters", upd["clusters"], metrics=gen_metric)
    txn.commit()

    _report_output(
        spark, store.load(spark, "clusters"), args.output, t0,
        extra={"generation": generation, "config_fingerprint": cfg.fingerprint()},
    )


def _add_common_args(p, with_checkpoint: bool) -> None:
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="parquet dir of pages (url, warc_ts, html, ...)")
    src.add_argument("--synth-n", type=int, help="generate N synthetic pages instead")
    p.add_argument(
        "--synth-start", type=int, default=0,
        help="first synthetic doc id (append batches slice one corpus)",
    )
    p.add_argument(
        "--synth-total", type=int, default=None,
        help="total corpus size the synthetic slice belongs to",
    )
    p.add_argument("--output", required=True, help="parquet dir for (url, cluster_id)")
    if with_checkpoint:
        p.add_argument("--checkpoint-dir", help="StageStore root (enables resume)")
    else:
        p.add_argument(
            "--state-dir", required=True,
            help="StageStore root of the checkpointed base run (state is read "
            "AND updated here)",
        )
    p.add_argument("--shingle-size", type=int, default=3)
    p.add_argument("--num-perm", type=int, default=128)
    p.add_argument("--bands", type=int, default=32)
    p.add_argument("--rows", type=int, default=4)
    p.add_argument("--jaccard-threshold", type=float, default=0.7)
    p.add_argument("--no-simhash", action="store_true")
    p.add_argument("--substring", action="store_true")


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="jdt-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    d = sub.add_parser("dedup", help="run the dedup pipeline")
    _add_common_args(d, with_checkpoint=True)
    d.set_defaults(func=cmd_dedup)

    a = sub.add_parser("append", help="incremental append onto a checkpointed run")
    _add_common_args(a, with_checkpoint=False)
    a.set_defaults(func=cmd_append)

    args = ap.parse_args(argv)
    args.func(args)


if __name__ == "__main__":
    main()
