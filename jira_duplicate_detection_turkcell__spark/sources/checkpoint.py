"""Stage checkpointing with per-partition lineage — the resume backbone.

The reference resumes by checking whether artifact files exist in cloud
storage and skipping recompute on a hit (src/user_embedding_pipeline.py:196-219,
src/firebase_storage_manager.py:173-202). The new engine generalizes that to
per-stage *table* commits: every pipeline stage writes its output table plus a
manifest recording row counts (total and per output file, taken from the
write itself with no read-back), config fingerprint, and free-form metrics;
a resumed run loads any stage whose manifest matches the current config
fingerprint and recomputes only what is missing — the north rule's
snapshot-checkpoint semantics.

Storage backend: Iceberg would provide this natively via snapshot commits;
the `iceberg-spark-runtime` jar is not available in this sandbox (SURVEY.md
§7.5), so the default backend is partitioned Parquet + a JSON manifest that
emulates an atomic snapshot commit (write to a temp suffix, fsync manifest
last — the manifest's existence *is* the commit). The pipeline only ever
talks to this interface, so swapping in an Iceberg catalog is a backend
change, not a pipeline change.
"""

from __future__ import annotations

import json
import shutil
from dataclasses import asdict, dataclass, field, replace
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType


@dataclass
class StageManifest:
    stage: str
    config_fingerprint: str
    row_count: int
    partition_rows: dict[str, int]
    metrics: dict = field(default_factory=dict)
    schema_ddl: str = ""
    file_count: int = 0
    # True when partition_rows does NOT cover every file counted by
    # file_count — either the per-file lineage was capped at `file_cap`
    # files (plain commits), or this is a segment-append manifest, whose
    # partition_rows carry only the NEW segment's files (prior segments'
    # lineage lives in the superseded manifests). row_count/file_count stay
    # exact either way: the write observes the rows, the listing the files.
    partition_rows_truncated: bool = False
    # data directories (under root/<stage>/) whose union is the stage table;
    # ["data"] for a plain commit, ["data", "data-g1", …] after segment
    # appends (Iceberg-snapshot-style: an append adds one segment holding
    # ONLY the new rows — O(new batch) I/O — and load() reads the union)
    segments: list[str] = field(default_factory=lambda: ["data"])


class StageStore:
    """Parquet + manifest-JSON stage store with atomic-commit semantics.

    Lineage comes from the write, with no read-back: the write job
    observes the exact row count, and per-file rows come from parquet
    footers. ``file_cap`` bounds that per-file section: a 100 TB stage
    writes 10⁵-10⁶ files, and one entry (and footer read) per file would
    grow the manifest and the commit with data size. Only the first
    ``file_cap`` files by name are recorded, with ``partition_rows_truncated``
    flagging the cut. When they are all the files, their sum must equal the
    observed count or the commit fails.
    """

    def __init__(
        self, root: str | Path, config_fingerprint: str = "", file_cap: int = 1024
    ):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self.config_fingerprint = config_fingerprint
        self.file_cap = file_cap
        # roll forward any transaction that crashed mid-flip: the intent
        # file is written only after every staged artifact is durable, so
        # replaying it always completes the generation (see StageTxn)
        self.recover()

    # -- paths -------------------------------------------------------------
    def _segment_dir(self, stage: str, segment: str) -> Path:
        return self.root / stage / segment

    def _manifest_path(self, stage: str) -> Path:
        return self.root / stage / "MANIFEST.json"

    def _staged_manifest_path(self, stage: str) -> Path:
        return self.root / stage / "MANIFEST.json.staged"

    def _txn_path(self) -> Path:
        return self.root / "TXN.json"

    # -- commit protocol ----------------------------------------------------
    def _write(
        self, stage: str, df: DataFrame, segment: str, metrics: dict | None
    ) -> StageManifest:
        """Write ``df`` as ``segment`` of ``stage``; build its manifest from
        the write (see the class docstring). Spark writes a zero-row file
        for an empty partition 0, the first file by name; it is not counted."""
        out = self._segment_dir(stage, segment)
        shutil.rmtree(out, ignore_errors=True)  # a crashed attempt's leftover
        observed = Observation()
        df.observe(observed, F.count(F.lit(1)).alias("rows")).write.parquet(str(out))
        row_count = observed.get["rows"]
        files = sorted(out.glob("part-*"))
        partition_rows: dict[str, int] = {}
        empty = 0
        for f in files:
            if len(partition_rows) == self.file_cap:
                break
            n = pq.read_metadata(f).num_rows
            if n:
                partition_rows[f.name] = n
            else:
                empty += 1
        file_count = len(files) - empty
        if file_count == len(partition_rows) and sum(partition_rows.values()) != row_count:
            raise RuntimeError(
                f"stage '{stage}': parquet footers under {out} hold "
                f"{sum(partition_rows.values())} rows but the write observed "
                f"{row_count}"
            )
        return StageManifest(
            stage=stage,
            config_fingerprint=self.config_fingerprint,
            row_count=row_count,
            partition_rows=partition_rows,
            metrics=metrics or {},
            schema_ddl=df.schema.simpleString(),
            file_count=file_count,
            partition_rows_truncated=file_count > len(partition_rows),
            segments=[segment],
        )

    def commit(self, stage: str, df: DataFrame, metrics: dict | None = None) -> StageManifest:
        """Write stage output + lineage manifest. The manifest write is last:
        a stage directory without a manifest is an aborted commit and is
        recomputed on resume (kill-and-resume test relies on this)."""
        stage_dir = self.root / stage
        if stage_dir.exists():
            shutil.rmtree(stage_dir)
        manifest = self._write(stage, df, "data", metrics)
        tmp = self._manifest_path(stage).with_suffix(".tmp")
        tmp.write_text(json.dumps(asdict(manifest), indent=2))
        tmp.rename(self._manifest_path(stage))  # atomic on POSIX
        return manifest

    def is_committed(self, stage: str) -> bool:
        mp = self._manifest_path(stage)
        if not mp.exists():
            return False
        try:
            manifest = json.loads(mp.read_text())
        except (json.JSONDecodeError, OSError):
            return False
        return manifest.get("config_fingerprint") == self.config_fingerprint

    def load(self, spark: SparkSession, stage: str) -> DataFrame:
        """The committed table of ``stage``: the union of its manifest's
        segments, read with the manifest's schema, so no job infers it
        from parquet footers. A stage without a manifest has no committed
        table (its ``data/`` may be an aborted commit's), so it raises."""
        if not self._manifest_path(stage).exists():
            raise FileNotFoundError(
                f"stage '{stage}' has no committed manifest under {self.root}"
            )
        m = self.manifest(stage)
        return spark.read.schema(DataType.fromDDL(m.schema_ddl)).parquet(
            *[str(self._segment_dir(stage, s)) for s in m.segments]
        )

    def manifest(self, stage: str) -> StageManifest:
        d = json.loads(self._manifest_path(stage).read_text())
        return StageManifest(**d)

    def invalidate(self, stage: str) -> None:
        mp = self._manifest_path(stage)
        if mp.exists():
            mp.unlink()

    # -- transactional generation flip ---------------------------------------
    def begin_txn(self, generation: int) -> "StageTxn":
        """Start an atomic multi-stage commit (see StageTxn)."""
        return StageTxn(self, generation)

    def recover(self) -> None:
        """Complete a crashed transaction (idempotent, called on init)."""
        txn = self._txn_path()
        if txn.exists():
            self._apply_txn(json.loads(txn.read_text()))

    def _apply_txn(self, intent: dict) -> None:
        """Make the staged generation live. Idempotent at every step, so a
        crash anywhere inside is repaired by replaying the intent file:
        1. flip: rename each MANIFEST.json.staged over MANIFEST.json
           (atomic per stage; a missing staged file means that stage
           already flipped),
        2. invalidate: unlink manifests of superseded stages,
        3. gc: delete data directories no longer referenced by any live
           manifest (old full-rewrite segments),
        4. remove the intent file — the transaction's own commit point.
        """
        for stage in intent.get("flip", []):
            staged = self._staged_manifest_path(stage)
            if staged.exists():
                staged.rename(self._manifest_path(stage))
        for stage in intent.get("invalidate", []):
            self.invalidate(stage)
        for stage, dirs in intent.get("gc", {}).items():
            for d in dirs:
                shutil.rmtree(self._segment_dir(stage, d), ignore_errors=True)
        self._txn_path().unlink(missing_ok=True)


class StageTxn:
    """Atomic multi-stage generation flip — the append path's consistency
    backbone (an Iceberg backend would replace this with one snapshot
    commit across tables; the interface is the same).

    Every write lands under STAGED names first: new data goes to fresh
    ``data-g<G>`` directories (never touching the directories live plans
    read from), new manifests to ``MANIFEST.json.staged``. Nothing a reader
    can see changes until ``commit()``, which writes one intent file
    (``TXN.json``, tmp+rename) and then applies it: per-stage manifest
    renames, invalidations, and GC of superseded data dirs. Crash windows:

    * before ``commit()`` — the live generation is untouched and fully
      usable; staged leftovers are inert (readers only follow
      MANIFEST.json) and are overwritten by a retry;
    * after the intent file is durable — ``StageStore.__init__`` replays it
      (roll-forward), completing the flip; every step is idempotent.

    Two staging modes per stage:

    * ``stage_full`` — full rewrite into the new segment (tables whose
      content changes globally, e.g. clusters);
    * ``stage_segment`` — the Iceberg-append analog: the new segment holds
      ONLY the appended rows (O(new batch) I/O), the manifest's segment
      list grows by one, and ``load()`` reads the union. Totals stay exact
      (prior manifest + the count the new segment's write observed).
    """

    def __init__(self, store: StageStore, generation: int):
        self.store = store
        self.generation = generation
        self._flip: list[str] = []
        self._invalidate: list[str] = []
        self._gc: dict[str, list[str]] = {}

    def _segment_name(self) -> str:
        return f"data-g{self.generation}"

    def _stage_manifest(self, stage: str, manifest: StageManifest) -> None:
        staged = self.store._staged_manifest_path(stage)
        tmp = staged.with_suffix(".tmp")
        tmp.write_text(json.dumps(asdict(manifest), indent=2))
        tmp.rename(staged)
        self._flip.append(stage)

    def stage_full(self, stage: str, df: DataFrame, metrics: dict | None = None) -> None:
        """Full rewrite of ``stage`` as generation ``G`` (staged until commit).
        The old segments keep serving readers — and the plan computing
        ``df`` may itself read them — until the flip, then get GC'd."""
        seg = self._segment_name()
        if self.store._manifest_path(stage).exists():
            self._gc[stage] = [
                s for s in self.store.manifest(stage).segments if s != seg
            ]
        self._stage_manifest(stage, self.store._write(stage, df, seg, metrics))

    def stage_segment(self, stage: str, df: DataFrame, metrics: dict | None = None) -> None:
        """Append ``df`` as a new segment of ``stage`` (staged until commit)
        — writes ONLY the new rows; the committed stage becomes the union
        of its segments. A segment whose schema differs from the committed
        one is refused before anything is written: parquet reads of the
        segment union do not merge schemas."""
        if not self.store._manifest_path(stage).exists():
            raise ValueError(
                f"stage_segment('{stage}'): no committed base manifest to "
                f"append to — use stage_full for the first write"
            )
        prior = self.store.manifest(stage)
        schema_ddl = df.schema.simpleString()
        if prior.schema_ddl and schema_ddl != prior.schema_ddl:
            raise ValueError(
                f"stage_segment('{stage}'): the new segment's schema "
                f"{schema_ddl} differs from the committed {prior.schema_ddl} "
                f"— rebuild with `dedup` into a fresh --checkpoint-dir"
            )
        seg = self._segment_name()
        new = self.store._write(stage, df, seg, metrics)
        total_files = prior.file_count + new.file_count
        self._stage_manifest(stage, replace(
            new,
            row_count=prior.row_count + new.row_count,
            # per-file lineage of the NEW segment (prior segments' lineage
            # lives in the superseded manifests' history; totals are exact)
            file_count=total_files,
            partition_rows_truncated=total_files > len(new.partition_rows),
            segments=[s for s in prior.segments if s != seg] + [seg],
        ))

    def invalidate(self, stage: str) -> None:
        """Mark ``stage`` superseded — its manifest is unlinked atomically
        with the flip (ADVICE r4: per-kind edge stages must not outlive the
        combined stage by a crash window), and its data segments are GC'd
        with the same transaction: an unlinked manifest with full data dirs
        left behind would orphan the superseded table in the store forever
        (appends never rebuild it). Idempotent — invalidating an absent or
        already-invalidated stage is a no-op."""
        self._invalidate.append(stage)
        if self.store._manifest_path(stage).exists():
            segs = self.store.manifest(stage).segments
            gc = self._gc.setdefault(stage, [])
            gc.extend(s for s in segs if s not in gc)

    def commit(self) -> None:
        """Write the intent file, then apply it. The tmp+rename of TXN.json
        is the transaction's single atomic commit point: before it, readers
        see the old generation; after it, recovery guarantees the new one."""
        intent = {
            "generation": self.generation,
            "flip": self._flip,
            "invalidate": self._invalidate,
            "gc": self._gc,
        }
        txn = self.store._txn_path()
        tmp = txn.with_suffix(".tmp")
        tmp.write_text(json.dumps(intent, indent=2))
        tmp.rename(txn)
        self.store._apply_txn(intent)
