"""The benchmark's workloads: their inputs, one operation, and its check.

Every operation is one call of the user entry point ``cli.main([...])`` in
the benchmark's process, so it runs the code ``spark-submit cli.py`` runs,
minus the JVM start. Operations are isolated from each other: each writes a
fresh output directory, a ``checkpointed`` operation gets a fresh
``--checkpoint-dir`` (a reused one resumes and skips every stage), an
``append`` operation gets a fresh copy of the committed base state (append
mutates its store), and the Spark cache is cleared after each one (the
in-memory reference run leaves signatures and edges persisted). Copies and
clean-up happen outside the timed region.

Correctness is a canonical clustering digest of the output table:
``(rows, distinct cluster_id, bit_xor(xxhash64(url, cluster_id)))``.
``cluster_id`` is the component's minimum url, so equal clusterings give
equal digests. ``bit_xor`` is used, not ``sum``: the session runs with
``spark.sql.ansi.enabled=true`` and a sum of 64-bit hashes overflows.
"""

from __future__ import annotations

import contextlib
import io
import json
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jira_duplicate_detection_turkcell__spark import cli, synth
from jira_duplicate_detection_turkcell__spark.plans import pipeline as P

# Corpus sizes. A whole run (JVM start, set-up, one measured operation) has
# to stay near a minute on a 4-core host, so the corpora are small, and the
# engine's per-stage and per-job overheads, not per-document work, make up
# most of an operation's time: about 4/5 of a checkpointed one and 7/8 of an
# append (see CHANGES.md for the measurements).
CORPUS_DOCS = 1000  # checkpointed, with --substring
APPEND_BASE_DOCS = 4000
APPEND_BATCH_DOCS = 400  # key-disjoint slice of the same corpus, 1/10 of base

DEFAULT_SEED = 1

Digest = tuple[int, int, int]

# digests of the default seed's corpora, pinned so a change in the clusters
# the engine finds shows even when every operation agrees with the others
PINNED: dict[str, Digest] = {
    "checkpointed": (1000, 657, -6065157843308291211),
    "append": (4400, 3804, 8481881704462881637),
}


def digest(df: DataFrame) -> Digest:
    row = df.agg(
        F.count(F.lit(1)),
        F.countDistinct("cluster_id"),
        F.bit_xor(F.xxhash64("url", "cluster_id")),
    ).first()
    return int(row[0]), int(row[1]), int(row[2] or 0)


def write_pages(spark: SparkSession, path: Path, n: int, seed: int,
                start: int = 0, total: int | None = None) -> None:
    synth.generate_pages_df(
        spark, n, seed=seed,
        partitions=spark.sparkContext.defaultParallelism * 2,
        start=start, total=total,
    ).drop("group_id", "kind").write.parquet(str(path))


def du_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def cli_record(fn, *args) -> dict:
    """Call ``fn`` (``cli.main`` or the CLI's output writer) with stdout
    captured and return the one-line JSON record it prints last."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        fn(*args)
    return json.loads(buf.getvalue().strip().splitlines()[-1])


@dataclass
class Op:
    """One prepared operation: CLI arguments and the directories it fills."""

    argv: list[str]
    output: Path
    state: Path | None = None  # stage store the operation commits into
    record: dict | None = None  # the CLI's JSON line, after the run

    def run(self) -> None:
        self.record = cli_record(cli.main, self.argv)

    def state_bytes(self) -> int:
        return du_bytes(self.output) + (du_bytes(self.state) if self.state else 0)

    def cleanup(self) -> None:
        shutil.rmtree(self.output, ignore_errors=True)
        if self.state is not None:
            shutil.rmtree(self.state, ignore_errors=True)


class Workload:
    """Base: ``setup`` writes the inputs once and builds any base state.
    ``op(i)`` prepares the i-th operation. ``check`` compares each output's
    digest with ``reference``, which ``_reference`` computes on the first
    check, after the warm-up operation has run, so it runs warm; its time is
    ``reference_s``, kept out of ``setup_s``. On the default seed every
    digest must also equal ``PINNED``."""

    name = ""
    cfg = P.DedupConfig()

    def __init__(self, work: Path, seed: int):
        self.work = work
        self.seed = seed
        self.reference: Digest | None = None
        self.reference_s = 0.0

    def setup(self, spark: SparkSession) -> None:
        raise NotImplementedError

    def op(self, i: int) -> Op:
        raise NotImplementedError

    def _reference(self, spark: SparkSession) -> Digest:
        raise NotImplementedError

    def _in_memory_digest(self, spark: SparkSession, *pages: Path) -> Digest:
        out = P.run_dedup(spark, spark.read.parquet(*map(str, pages)), self.cfg)
        got = digest(out["clusters"])
        spark.catalog.clearCache()
        return got

    def check(self, spark: SparkSession, op: Op) -> tuple[Digest, str | None]:
        """The output's digest, and None when it is correct, else the reason."""
        got = digest(spark.read.parquet(str(op.output)))
        if self.reference is None:
            t0 = time.perf_counter()
            self.reference = self._reference(spark)
            self.reference_s = time.perf_counter() - t0
        pinned = PINNED.get(self.name) if self.seed == DEFAULT_SEED else None
        rec = op.record or {}
        if got != self.reference:
            return got, f"digest {got} != reference {self.reference}"
        if pinned is not None and got != pinned:
            return got, f"digest {got} != pinned {pinned}"
        if (rec.get("docs"), rec.get("clusters")) != got[:2]:
            return got, f"CLI reported {rec} but the output holds {got[:2]}"
        return got, None

    def _out(self, i: int) -> Path:
        return self.work / "out" / str(i)


class Checkpointed(Workload):
    """``dedup --input <pages> --substring --checkpoint-dir <fresh dir>``.
    It runs every checkpointed stage: docs, signatures, the per-kind MinHash
    and SimHash edges, the substring postings and edges, and clusters. Its
    reference is the in-memory batch digest of the same corpus and config,
    whose substring edges come from a different plan (postings built inside
    one call, edges fused into one stage), so every run proves the two modes
    give the same clusters."""

    name = "checkpointed"
    cfg = P.DedupConfig(enable_substring=True)

    def setup(self, spark):
        self.pages = self.work / "pages"
        write_pages(spark, self.pages, CORPUS_DOCS, self.seed)

    def _reference(self, spark):
        return self._in_memory_digest(spark, self.pages)

    def op(self, i):
        state = self.work / "ckpt" / str(i)
        return Op(["dedup", "--input", str(self.pages), "--output", str(self._out(i)),
                   "--substring", "--checkpoint-dir", str(state)], self._out(i), state)


class Append(Workload):
    """``append`` of a key-disjoint batch onto a fresh copy of a committed
    base. Its reference is an in-memory rebuild of base ∪ batch."""

    name = "append"

    def setup(self, spark):
        total = APPEND_BASE_DOCS + APPEND_BATCH_DOCS
        self.base = self.work / "base"
        self.batch = self.work / "batch"
        self.base_state = self.work / "base_state"
        write_pages(spark, self.base, APPEND_BASE_DOCS, self.seed, total=total)
        write_pages(spark, self.batch, APPEND_BATCH_DOCS, self.seed,
                    start=APPEND_BASE_DOCS, total=total)
        build = Op(["dedup", "--input", str(self.base), "--output", str(self.work / "base_out"),
                    "--checkpoint-dir", str(self.base_state)], self.work / "base_out")
        build.run()
        shutil.rmtree(build.output)
        spark.catalog.clearCache()

    def _reference(self, spark):
        return self._in_memory_digest(spark, self.base, self.batch)

    def op(self, i):
        state = self.work / "state" / str(i)
        shutil.copytree(self.base_state, state)
        return Op(["append", "--input", str(self.batch), "--output", str(self._out(i)),
                   "--state-dir", str(state)], self._out(i), state)


WORKLOADS = {w.name: w for w in (Checkpointed, Append)}
