"""The traced run: each workload recomposed from the engine's public layer
functions, with a span around every layer call and Spark's own task counters
attributed to the layer that ran them.

Spans are recorded here, in the benchmark, around calls into
``plans.pipeline``, ``streaming.incremental``, ``sources.checkpoint`` and
the operators they compose; the program itself is not instrumented. Each
span sets a Spark job group, and after the operation the counters of every
stage of every job in that group are read from the application's status
REST API (``/api/v1/applications/<id>/jobs`` and ``/stages``), so the
counters cost no extra Spark job.

To give each layer its own span, the recomposition materializes every
layer's output (persist + count) before the next layer starts, and commits
that materialized output to the stage store, where the CLI streams one plan
into the write. The difference between a traced and an untraced operation is
reported as the tracing overhead.

Layer → per-layer metrics → the end-to-end metric and workload each moves:

=============== ===================================== =========================
layer           extra metrics                         moves
=============== ===================================== =========================
session         session.start_s                       setup_s: both
extract         rows_out, kernel_docs_per_s           wall_s, cpu_s:
                                                      checkpointed (append a
                                                      little: 1/10 the docs)
signatures      rows_out, kernel_docs_per_s,          as extract
                boundary_s
buckets         bucket_rows, candidate_pairs          wall_s: append
verify          edges_out, yield                      wall_s: append
edges_per_kind  (counters only)                       wall_s: checkpointed
suffix          postings_rows, edges_out              wall_s, cpu_s:
                                                      checkpointed
components      edges_in, clusters_out                wall_s: append
                                                      (checkpointed a little)
checkpoint      commit_s, mb_written, files_written   wall_s, state_mb: both
incremental     (counters only)                       wall_s: append
cli             (counters only)                       wall_s: both
=============== ===================================== =========================

Every layer except ``session`` also reports ``wall_s`` (span self time) and
the Spark counters ``task_s``, ``cpu_s``, ``gc_s``, ``shuffle_write_mb``,
``fetch_wait_s``, ``spill_mb`` and ``failed_tasks``. A layer a workload does
not run reports 0. The less obvious extras:

- ``session.wall_s`` is ``get_spark``; ``session.start_s`` adds the first
  Python job, by which the warm worker daemon has forked its workers.
- ``*.kernel_docs_per_s`` time ``extract.extract_text`` and the
  ``signatures.text_sign_compute`` kernel on one fixed pandas batch in the
  benchmark's own process, outside Spark; ``signatures.boundary_s`` is the
  signature layer's task time minus its rows at that kernel rate, the
  Arrow/UDF boundary cost.
- ``buckets.bucket_rows`` counts the new batch's side of the bipartite join;
  ``verify.yield`` is ``verify.edges_out / buckets.candidate_pairs``.
- ``suffix.postings_rows`` counts the winnowed fingerprint postings and
  ``suffix.edges_out`` the verified substring edges.
- ``checkpoint.commit_s`` is the median wall of one store call
  (``StageStore.commit``, ``StageTxn.stage_*`` or ``StageTxn.commit``);
  ``mb_written`` and ``files_written`` count the files the operation added.
- ``trace.overhead_s`` is the traced operation's wall minus the untraced
  one's; ``host.steal_s`` is the hypervisor's steal time (all CPUs) during
  an operation.
- ``host.peak_rss_mb`` is the peak resident memory of the whole process
  tree over the run (set-up included), sampled every 0.2 s. It is a
  per-layer metric, without a bound, because the JVM's adaptive heap sizing
  makes it bimodal on identical work (about 3.3 or 4.2 GB on a 4-core,
  15 GB host).
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
import urllib.request

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from jira_duplicate_detection_turkcell__spark import cli, extract, synth
from jira_duplicate_detection_turkcell__spark.operators import signatures, suffix
from jira_duplicate_detection_turkcell__spark.operators.components import (
    connected_components,
)
from jira_duplicate_detection_turkcell__spark.plans import pipeline as P
from jira_duplicate_detection_turkcell__spark.sources.checkpoint import StageStore
from jira_duplicate_detection_turkcell__spark.streaming import incremental

from workloads import Op, cli_record

SPARK_LAYERS = (
    "extract", "signatures", "buckets", "verify", "edges_per_kind", "suffix",
    "components", "checkpoint", "incremental", "cli",
)
COUNTERS = (
    "task_s", "cpu_s", "gc_s", "shuffle_write_mb", "fetch_wait_s", "spill_mb",
    "failed_tasks",
)
EXTRAS = (
    "session.start_s",
    "extract.rows_out", "extract.kernel_docs_per_s",
    "signatures.rows_out", "signatures.kernel_docs_per_s", "signatures.boundary_s",
    "buckets.bucket_rows", "buckets.candidate_pairs",
    "verify.edges_out", "verify.yield",
    "suffix.postings_rows", "suffix.edges_out",
    "components.edges_in", "components.clusters_out",
    "checkpoint.commit_s", "checkpoint.mb_written", "checkpoint.files_written",
    "trace.overhead_s", "host.steal_s", "host.peak_rss_mb",
)


def metric_names() -> list[str]:
    names = ["session.wall_s"]
    for layer in SPARK_LAYERS:
        names += [f"{layer}.wall_s"] + [f"{layer}.{c}" for c in COUNTERS]
    return names + list(EXTRAS)


# the first ending that matches a name gives its unit
UNITS = {
    "docs_per_s": "1/s", "_s": "s", "_mb": "MB", "mb_written": "MB",
    "failed_tasks": "count", "yield": "ratio",
}


def unit_of(name: str) -> str:
    for ending, unit in UNITS.items():
        if name.endswith(ending):
            return unit
    return "count"


class Tracer:
    """Spans (layer, start, end, parent) for one operation, plus the counts
    recorded at the same boundaries. Every span sets the Spark job group
    ``<tag>:<layer>``; jobs outside any span run in ``<tag>:-`` and are not
    attributed to a layer."""

    def __init__(self, spark: SparkSession, tag: str):
        self.sc = spark.sparkContext
        self.tag = tag
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self.commit_walls: list[float] = []
        self._stack: list[int] = []
        self._group("-")

    def _group(self, layer: str) -> None:
        self.sc.setJobGroup(f"{self.tag}:{layer}", layer)

    @contextlib.contextmanager
    def span(self, layer: str):
        rec = {"layer": layer, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self._group(layer)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._group(self.spans[self._stack[-1]]["layer"] if self._stack else "-")

    def commit(self, fn, *args, **kwargs):
        """One checkpoint call inside a ``checkpoint`` span, timed alone."""
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        self.commit_walls.append(time.perf_counter() - t0)
        return out

    def count(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + value

    def self_times(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for rec in self.spans:
            d = rec["end"] - rec["start"]
            out[rec["layer"]] = out.get(rec["layer"], 0.0) + d
            if rec["parent"] is not None:
                parent = self.spans[rec["parent"]]["layer"]
                out[parent] = out.get(parent, 0.0) - d
        return out


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def spark_counters(spark: SparkSession, tag: str, timeout_s: float = 20.0) -> dict:
    """Per-layer sums of the stage counters of every job in the ``tag``
    groups. The status store is fed asynchronously by Spark's listener bus,
    so this polls until every such job and stage has ended and two reads
    agree."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    prefix = f"{tag}:"
    deadline = time.monotonic() + timeout_s
    last = None
    while True:
        time.sleep(0.3)
        jobs = [j for j in _get(base + "/jobs")
                if (j.get("jobGroup") or "").startswith(prefix)]
        stages = _get(base + "/stages")
        done = all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs) and all(
            s["status"] != "ACTIVE" and s["status"] != "PENDING"
            for s in stages
            if any(s["stageId"] in j["stageIds"] for j in jobs)
        )
        snapshot = (len(jobs), sum(s["numCompleteTasks"] for s in stages))
        if (done and snapshot == last) or time.monotonic() > deadline:
            break
        last = snapshot
    owner: dict[int, str] = {}  # stage → layer of the first job that lists it
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            owner.setdefault(sid, j["jobGroup"][len(prefix):])
    out = {layer: dict.fromkeys(COUNTERS, 0.0) for layer in SPARK_LAYERS}
    for s in stages:
        layer = owner.get(s["stageId"])
        if layer not in out:
            continue
        c = out[layer]
        c["task_s"] += s["executorRunTime"] / 1e3
        c["cpu_s"] += s["executorCpuTime"] / 1e9
        c["gc_s"] += s["jvmGcTime"] / 1e3
        c["shuffle_write_mb"] += s["shuffleWriteBytes"] / 2**20
        c["fetch_wait_s"] += s["shuffleFetchWaitTime"] / 1e3
        c["spill_mb"] += s["diskBytesSpilled"] / 2**20
        c["failed_tasks"] += s["numFailedTasks"]
    return out


def kernel_rates(cfg: P.DedupConfig, seed: int, n_docs: int = 512, reps: int = 3):
    """docs/s of the extract and signing kernels on one fixed pandas batch
    of the seed's pages, outside Spark, on one core of this process."""
    pages = synth.generate_pages_pdf(n_docs, seed=seed)
    ext, sig = [], []
    kernel = signatures.text_sign_compute(
        cfg.shingle_size, cfg.num_perm, cfg.minhash_seed, cfg.enable_simhash,
        cfg.bands, cfg.rows,
    )
    for _ in range(reps):
        t0 = time.perf_counter()
        texts = [extract.extract_text(h) for h in pages["html"]]
        ext.append(n_docs / (time.perf_counter() - t0))
        docs = pd.DataFrame({"url": pages["url"], "text": texts})
        t0 = time.perf_counter()
        signed = sum(len(b) for b in kernel(iter([docs])))
        sig.append(signed / (time.perf_counter() - t0))
    return statistics.median(ext), statistics.median(sig)


def _materialize(df, tr: Tracer | None = None, name: str | None = None):
    df = df.persist()
    n = df.count()
    if tr is not None and name:
        tr.count(name, n)
    return df, n


def _report(tr: Tracer, spark: SparkSession, clusters, op: Op, t0: float) -> None:
    with tr.span("cli"):
        op.record = cli_record(cli._report_output, spark, clusters, str(op.output), t0)


def traced_checkpointed(spark, tr: Tracer, wl, op: Op) -> None:
    """``run_dedup(store=...)`` with ``enable_substring``: per-kind edge
    stages and the substring postings and edges, every stage committed."""
    cfg = wl.cfg
    t0 = time.time()
    store = StageStore(op.state, config_fingerprint=cfg.fingerprint())
    pages = spark.read.parquet(str(wl.pages))

    def commit(name, df):
        with tr.span("checkpoint"):
            tr.commit(store.commit, name, df)
            df.unpersist()
        return store.load(spark, name)

    with tr.span("extract"):
        docs, _ = _materialize(P.extract_stage(pages), tr, "extract.rows_out")
    docs = commit("docs", docs)
    with tr.span("signatures"):
        signed, _ = _materialize(P.signature_stage(docs, cfg), tr, "signatures.rows_out")
    signed = commit("signatures", signed)
    temps: list = []
    with tr.span("edges_per_kind"):
        mh, _ = _materialize(P.minhash_edges(signed, cfg, temps=temps)[0].select("key_l", "key_r"))
        sh, _ = _materialize(P.simhash_edges(signed, cfg)[0].select("key_l", "key_r"))
    mh = commit("edges_minhash", mh)
    sh = commit("edges_simhash", sh)
    for t in temps:
        t.unpersist()
    with tr.span("suffix"):
        postings, _ = _materialize(suffix.substring_postings(
            docs, "text", "url", cfg.substr_min_len, cfg.substr_sample,
        ), tr, "suffix.postings_rows")
    postings = commit("substr_postings", postings)
    with tr.span("suffix"):
        sub, _ = _materialize(P.substring_edges(docs, cfg, postings=postings, temps=temps)
                              .select("key_l", "key_r"), tr, "suffix.edges_out")
    sub = commit("edges_substring", sub)
    for t in temps:
        t.unpersist()
    with tr.span("components"):
        edges, _ = _materialize(mh.union(sh).union(sub).distinct(), tr,
                                "components.edges_in")
        clusters, _ = _materialize(connected_components(edges, docs, "url", edges_unique=True))
    clusters = commit("clusters", clusters)
    _report(tr, spark, clusters, op, t0)


def traced_append(spark, tr: Tracer, wl, op: Op) -> None:
    """``cli.cmd_append`` + ``incremental.apply_append`` on a per-kind base."""
    cfg = wl.cfg
    t0 = time.time()
    with tr.span("incremental"):
        store = StageStore(op.state, config_fingerprint=cfg.fingerprint())
        edge_stages = ["edges_minhash", "edges_simhash"]
        for st in ["docs", "signatures"] + edge_stages:
            if not store.is_committed(st):
                raise RuntimeError(f"base state lacks stage {st}")
        generation = store.manifest("docs").metrics.get("generation", 0) + 1
        existing_edges = store.load(spark, "edges_minhash").select("key_l", "key_r").unionByName(
            store.load(spark, "edges_simhash").select("key_l", "key_r")
        ).distinct()
        existing_signed = store.load(spark, "signatures")
        new_pages = spark.read.parquet(str(wl.batch))
    with tr.span("extract"):
        new_docs = P.extract_stage(new_pages).localCheckpoint()
        tr.count("extract.rows_out", new_docs.count())
    with tr.span("signatures"):
        new_signed = P.signature_stage(new_docs, cfg).localCheckpoint()
        tr.count("signatures.rows_out", new_signed.count())
    with tr.span("incremental"):
        # the two guards apply_append runs before any edge work
        dups = new_signed.groupBy("url").count().where(F.col("count") > 1).limit(3).collect()
        overlap = new_signed.select("url").join(
            existing_signed.select("url"), "url", "left_semi").limit(3).collect()
        if dups or overlap:
            raise RuntimeError(f"append batch is not key-unique: {dups} {overlap}")
        all_signed = existing_signed.select(*new_signed.columns).unionByName(new_signed)
        with tr.span("buckets"):
            buckets_all, carry = P.fused_bucket_table(all_signed, cfg)
            buckets_new, _ = P.fused_bucket_table(new_signed, cfg)
            pairs, _ = _materialize(incremental.new_all_candidate_pairs(
                buckets_new, buckets_all, ["bkind", "bid", "bkey"], "nid",
                cfg.minhash_bucket_cap, carry_cols=carry, out_bucket_cols=["bkind"],
            ), tr, "buckets.candidate_pairs")
        tr.count("buckets.bucket_rows", buckets_new.count())
        with tr.span("verify"):
            new_edges = P.verify_fused_pairs(pairs, all_signed, cfg).select(
                "key_l", "key_r").localCheckpoint()
            tr.count("verify.edges_out", new_edges.count())
    with tr.span("components"):
        edges, _ = _materialize(
            existing_edges.unionByName(new_edges).distinct(), tr, "components.edges_in")
        clusters, _ = _materialize(connected_components(edges, all_signed.select("url"), "url"))
    with tr.span("checkpoint"):
        gen = {"generation": generation}
        txn = store.begin_txn(generation)
        tr.commit(txn.stage_segment, "docs", new_docs, metrics=gen)
        tr.commit(txn.stage_segment, "signatures", new_signed, metrics=gen)
        tr.commit(txn.stage_full, "edges", edges, metrics=gen)
        for st in ("edges_minhash", "edges_simhash", "edges_substring"):
            txn.invalidate(st)
        tr.commit(txn.stage_full, "clusters", clusters, metrics=gen)
        tr.commit(txn.commit)
    _report(tr, spark, store.load(spark, "clusters"), op, t0)


RECOMPOSED = {
    "checkpointed": traced_checkpointed,
    "append": traced_append,
}


def traced_op(spark, wl, op: Op, tag: str) -> Tracer:
    """Run ``op`` recomposed under spans whose job groups start with
    ``tag``. Checkpoint I/O is read from the store's files."""
    tr = Tracer(spark, tag)
    before = set(op.state.rglob("*")) if op.state is not None else set()
    try:
        RECOMPOSED[wl.name](spark, tr, wl, op)
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    if op.state is not None:
        new = [p for p in op.state.rglob("*") if p.is_file() and p not in before]
        tr.count("checkpoint.files_written", len(new))
        tr.count("checkpoint.mb_written", sum(p.stat().st_size for p in new) / 2**20)
    return tr
