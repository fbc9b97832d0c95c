"""Stream a warehouse table: the commit log as a Structured Streaming
source (the Delta/Iceberg "table as a stream" read, re-expressed through
PySpark 4's Python Data Source API).

Why this exists: the warehouse's atomic commit log already gives batch
readers snapshot isolation and incremental consumers a batch CDF
(``snapshot_diff``). The missing piece was a PUSH-free tail — a
downstream Structured Streaming query that picks up each committed
append as a microbatch with exactly-once restart semantics. Reference
analog: the reference engine's consumers re-query Postgres tables it
loads (etl_process.py's mart reads); at 100 TB the Spark-native shape is
a log-tailing stream, not repeated full scans.

Semantics
---------
- **Offsets are commit-log sequence numbers.** ``initialOffset`` = 0
  (stream the EXISTING table state as the first microbatch, then tail —
  Delta's default) or the current head with ``tail_only=true``. With
  ``max_files_per_trigger`` / ``max_bytes_per_trigger`` set, offsets
  gain a file-index component (``{"snap"/"seq", "idx"}``) and every
  microbatch — the initial snapshot included — is bounded to that many
  files / bytes, whichever binds first (the Delta ``maxFilesPerTrigger``
  / ``maxBytesPerTrigger`` analogs; see ``_WarehouseStreamReader``).
- **A microbatch (start, end] emits the file-set difference between the
  replayed states at the two offsets.** For append-only tables that is
  exactly the files the commits in range added. The diff rides
  ``Warehouse._replay_state``, so checkpoint folding bounds the offset
  computation at O(checkpoint_interval) entry parses — the stream never
  replays the whole log per trigger.
- **Replace entries** (CDC merge / compaction / clustering rewrites) in
  a tailed range raise by default: re-emitting rewritten files would
  duplicate already-streamed rows, and skipping them would silently
  drop merge output. ``on_replace=reemit`` opts into Delta's
  ``ignoreChanges`` contract (rewritten files re-emitted; consumer
  dedups downstream). The initial snapshot batch (start=0) is exempt —
  a snapshot has no double-delivery problem.
- **Merge-on-read deletion vectors**: by default a batch whose files a
  live dv covers fails loudly (emitting raw files would resurrect
  deleted rows). ``on_dv=apply`` instead applies the dv anti-join
  INSIDE the partition read — each emitted file is filtered to its
  surviving rows executor-side (Arrow string-key anti-join, null-safe,
  matching the batch reader's ``_dv_apply`` semantics), and dv-ONLY
  replace commits (a ``delete_where(mode="dv")`` — file set unchanged)
  tail through without tripping the replace guard. Rows emitted BEFORE
  the delete landed are not retracted (streams can't retract — same
  contract as Delta: a source delete is a change commit, not a
  retraction); rows emitted after are exactly the survivors, and
  restarts replay deterministically because the dv state is replayed
  at the batch's own end offset.
- **Expiry**: a stream that fell behind ``expire_log``'s horizon raises
  ``SnapshotExpired`` instead of silently re-snapshotting.

Scale shape: offset resolution is control-plane-only (driver-side JSON,
no Spark jobs); each emitted file is one ``InputPartition``, read
executor-side via pyarrow as Arrow RecordBatches (zero row-at-a-time
Python); hive partition values (``dt=...``) are recovered from the
relpath and attached as literal Arrow columns, matching the batch
reader's ``basePath`` behavior.
"""

from __future__ import annotations

import datetime
import json
import os
from contextlib import suppress as _suppress

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

from ..sources.warehouse import (
    SnapshotExpired,
    SnapshotVacuumed,
    Transaction,
    Warehouse,
    _data_files,
    _file_stats,
    _footer_schema_json,
)

SOURCE_NAME = "warehouse_stream"


def _partition_pairs(rel: str) -> list[tuple[str, str]]:
    """``dt=2021-03-01/part-0.parquet`` -> ``[("dt", "2021-03-01")]`` —
    the hive partition key=value directories of a committed relpath, in
    path order (the batch reader's ``basePath`` recovery, minus Spark's
    type inference, which ``_infer_type`` mirrors below)."""
    pairs = []
    for d in rel.split("/")[:-1]:
        if "=" in d:
            k, _, v = d.partition("=")
            pairs.append((k, v))
    return pairs


def _infer_type(value: str) -> T.DataType:
    """Spark's partition-value inference, reduced to the types the
    warehouse actually writes: int, date, else string."""
    try:
        int(value)
        return T.LongType()
    except ValueError:
        pass
    try:
        datetime.date.fromisoformat(value)
        return T.DateType()
    except ValueError:
        pass
    return T.StringType()


def _coerce(value: str, dt: T.DataType):
    if isinstance(dt, T.LongType):
        return int(value)
    if isinstance(dt, T.DateType):
        return datetime.date.fromisoformat(value)
    return value


class _FilePartition(InputPartition):
    def __init__(self, path: str, part_values: list[tuple[str, str]],
                 dv_paths: list[str] | None = None):
        self.path = path
        self.part_values = part_values
        # absolute paths of the deletion-vector sidecars covering this
        # file (on_dv="apply" only): the executor-side read anti-joins
        # their rows out before emitting
        self.dv_paths = dv_paths or []


def _dv_row_keys(arrays: list) -> pa.Array:
    """One string key per row over the given (already type-aligned)
    Arrow columns — the null-safe composite equality both sides of the
    streamed dv anti-join hash on. NULL becomes a sentinel (so NULL
    matches NULL, mirroring the batch reader's ``eqNullSafe``), columns
    join on an unprintable separator. Types both sides are cast to the
    STREAM schema's arrow types first, so the textual form is identical
    by construction (same cast kernel on both sides)."""
    parts = []
    for col in arrays:
        try:
            s = pc.cast(col, pa.string())
        except (pa.lib.ArrowNotImplementedError, pa.lib.ArrowInvalid):
            # exotic type (nested/binary): slow-path repr — consistent
            # because BOTH sides fall through the same branch
            s = pa.array(
                [None if v is None else repr(v) for v in col.to_pylist()],
                type=pa.string(),
            )
        parts.append(s)
    return pc.binary_join_element_wise(
        *parts, "\x1f", null_handling="replace",
        null_replacement="\x00null")


def _base_seq(off: dict) -> int:
    """The commit seq an offset's MANIFEST is replayed at (for horizon
    checks): snapshot chunks replay at their pinned target."""
    return int(off["snap"]) if "snap" in off else int(off["seq"])


def _scan_hi(off: dict) -> int:
    """Highest commit seq an offset includes files from, even partially
    (for the replace guard): a mid-delta offset has emitted part of
    commit ``next``'s files."""
    if "snap" in off:
        return int(off["snap"])
    if off.get("idx"):
        return int(off["next"])
    return int(off["seq"])


def _checkpointed_offset(checkpoint_dir: str) -> dict | None:
    """The newest offset this query's own checkpoint recorded (the
    first source's entry of the highest batch in ``offsets/``), or
    None for a fresh/unreadable checkpoint. Spark's OffsetSeqLog
    format: line 1 version, line 2 metadata JSON, then one line per
    source — a Python data-source offset is its JSON dict (possibly
    JSON-string-wrapped by the bridge). Best-effort by design: any
    parse failure returns None and the reader falls back to the
    construction preset + the loud guard in ``partitions()``."""
    try:
        odir = os.path.join(checkpoint_dir, "offsets")
        batches = [int(f) for f in os.listdir(odir) if f.isdigit()]
        if not batches:
            return None
        with open(os.path.join(odir, str(max(batches)))) as fh:
            lines = [ln.strip() for ln in fh if ln.strip()]
    except OSError:
        return None
    if len(lines) < 3:
        return None
    try:
        off = json.loads(lines[2])
        if isinstance(off, str):  # bridge double-encoding
            off = json.loads(off)
    except (ValueError, TypeError):
        return None
    return off if isinstance(off, dict) else None


class _WarehouseStreamReader(DataSourceStreamReader):
    """Offsets come in three JSON shapes (all checkpoint-compatible —
    old ``{"seq": N}`` checkpoints keep working):

    - ``{"seq": s}`` — the table state through commit ``s`` is fully
      emitted (the classic offset).
    - ``{"snap": t, "idx": i}`` — mid-INITIAL-SNAPSHOT under admission
      control: the first ``i`` files of the sorted manifest at the
      pinned snapshot target ``t``. Commits landing after ``t`` tail
      later as normal deltas.
    - ``{"seq": s, "idx": i, "next": t}`` — mid-TAIL-DELTA: state
      through ``s`` plus the first ``i`` files (sorted) of the delta
      toward ``t``, the next commit touching the table.

    ``partitions(start, end)`` is uniform across all shapes: emit
    ``visible(end) - visible(start)``, where ``visible`` is the exact
    file set an offset denotes. ``latestOffset`` is where admission
    control lives: with ``max_files_per_trigger`` set it returns a
    bounded offset instead of the head, walking commits and file
    counts forward from the last planned position. The position
    survives the API's latestOffset-has-no-start-argument gap two
    ways: at CONSTRUCTION it is preset to the pinned initial offset
    (Spark calls latestOffset before initialOffset on a fresh stream —
    without the preset, batch 0, the initial snapshot, would plan
    unbounded), and on a RESTART Spark replays the logged batch
    through ``partitions`` first, which re-seeds the position from the
    checkpointed offsets before any latestOffset runs."""

    def __init__(self, options: dict, spark_schema: T.StructType,
                 part_fields: list[str]):
        self.root = options["root"]
        self.table = options["table"].lower()
        self.on_replace = options.get("on_replace", "fail")
        if self.on_replace not in ("fail", "reemit"):
            raise ValueError("on_replace must be 'fail' or 'reemit'")
        self.on_dv = options.get("on_dv", "fail")
        if self.on_dv not in ("fail", "apply"):
            raise ValueError("on_dv must be 'fail' or 'apply'")
        self.tail_only = str(options.get("tail_only", "false")).lower() == "true"
        mft = options.get("max_files_per_trigger")
        self.max_files = None if mft in (None, "", "none") else int(mft)
        if self.max_files is not None and self.max_files < 1:
            raise ValueError("max_files_per_trigger must be >= 1")
        mbt = options.get("max_bytes_per_trigger")
        self.max_bytes = None if mbt in (None, "", "none") else int(mbt)
        if self.max_bytes is not None and self.max_bytes < 1:
            raise ValueError("max_bytes_per_trigger must be >= 1")
        # Pin the initial offset at CONSTRUCTION (query start) and
        # pre-seed the planning position with it: Spark calls
        # latestOffset BEFORE initialOffset on a fresh stream, so
        # without the preset batch 0 — the initial snapshot, the batch
        # admission control exists for — would plan unbounded. On a
        # RESTART the preset is harmless: Spark replays the logged
        # batch through partitions() first, which re-seeds the
        # position from the checkpointed offsets before any
        # latestOffset runs (and the guard in partitions() catches the
        # pathological ordering loudly instead of duplicating rows).
        self._initial = self._compute_initial()
        self._planned: dict | None = dict(self._initial)
        # The preset covers batch 0 of a FRESH stream. On a restart
        # where the last batch COMMITTED, Spark calls latestOffset
        # without replaying through partitions() — the preset (pinned
        # at the CURRENT head) is then the wrong planning position:
        # advancing from it re-targets the snapshot or regresses the
        # tail. Pass ``checkpoint_dir`` (the query's own
        # checkpointLocation) and the reader reconciles the preset
        # with the newest checkpointed offset at construction; without
        # it, the loud guards in partitions() catch the mismatch.
        ck = options.get("checkpoint_dir")
        if ck:
            committed = _checkpointed_offset(ck)
            if committed is not None:
                self._planned = dict(committed)
        self.spark_schema = spark_schema
        self.part_fields = part_fields
        # canonical Arrow schema every emitted batch is cast to (Spark's
        # own arrow convention, e.g. timestamp[us, tz=UTC])
        self.arrow_schema = to_arrow_schema(spark_schema)
        # declared-schema column mapping (DROP/RENAME COLUMN): files
        # store PHYSICAL names; the stream emits logical ones. Plain
        # picklable dicts — read() applies them executor-side.
        _, phys, retired = self._wh()._schema_meta(self.table)
        self.phys_of = {f.name: phys.get(f.name.lower(), f.name)
                        for f in spark_schema.fields}
        self.retired = {r.lower() for r in retired}

    # control plane: driver-side, no Spark jobs --------------------------

    def _wh(self) -> Warehouse:
        return Warehouse(None, self.root, checkpoint_interval=0)

    def _sorted_manifest(self, wh: Warehouse, at: int) -> list[str]:
        return sorted(wh._manifest_files(self.table, at=at) or [])

    def _delta_list(self, wh: Warehouse, s: int, t: int) -> list[str]:
        """Deterministic (sorted) list of files commit ``t`` adds to the
        table over the state at ``s`` — the unit admission control
        chunks by. Appends answer from the entry itself (O(1)); a
        replace needs the manifest diff."""
        entry = wh._load_entry(t)
        if entry is not None:
            tbls = entry.get("tables", {})
            if self.table in tbls and (
                    entry.get("op") != "replace"
                    or self.table in entry.get("append_tables", [])):
                return sorted(tbls[self.table])
        before = set(wh._manifest_files(self.table, at=s) or [])
        after = wh._manifest_files(self.table, at=t) or []
        return sorted(set(after) - before)

    def _visible(self, wh: Warehouse, off: dict) -> set:
        """The exact file set an offset denotes as already emitted."""
        if "snap" in off:
            return set(self._sorted_manifest(wh, off["snap"])[:off["idx"]])
        s = int(off["seq"])
        vis = set(wh._manifest_files(self.table, at=s) or []) if s else set()
        if off.get("idx"):
            vis |= set(self._delta_list(wh, s, off["next"])[:off["idx"]])
        return vis

    @property
    def _capped(self) -> bool:
        return self.max_files is not None or self.max_bytes is not None

    def _budget(self) -> dict:
        """One microbatch's admission budget. ``admitted`` tracks files
        taken THIS batch so the first file is always admitted even when
        it alone exceeds ``max_bytes`` (Delta's contract: a single
        oversized file still makes progress, it just rides alone)."""
        inf = float("inf")
        return {
            "files": self.max_files if self.max_files is not None else inf,
            "bytes": self.max_bytes if self.max_bytes is not None else inf,
            "admitted": 0,
        }

    def _take(self, rels: list[str], budget: dict) -> int:
        """How many of the candidate files (in order) fit the remaining
        budget — spending it. Byte sizes come from a driver-side stat
        call per candidate (control-plane; the walk is already bounded
        by the budget, so this is O(admitted + 1) per batch)."""
        table_dir = os.path.join(self.root, self.table)
        take = 0
        for rel in rels:
            if budget["files"] < 1:
                break
            if self.max_bytes is not None:
                try:
                    sz = os.path.getsize(os.path.join(table_dir, rel))
                except OSError:
                    sz = 0  # vacuumed/missing: the typed plan-time
                    # guards in partitions() own that failure mode
                if budget["admitted"] and sz > budget["bytes"]:
                    break
                budget["bytes"] -= sz
            budget["files"] -= 1
            budget["admitted"] += 1
            take += 1
        return take

    def _compute_initial(self) -> dict:
        wh = self._wh()
        if self.tail_only:
            return {"seq": wh._latest_seq()}
        if self._capped:
            # pin the snapshot target NOW; the snapshot then streams in
            # budget-bounded chunks instead of one giant batch
            return {"snap": wh._latest_seq(), "idx": 0}
        return {"seq": 0}

    def initialOffset(self) -> dict:
        # the value pinned at construction — NOT recomputed (a commit
        # landing between construction and this call must not tear the
        # preset position from the offset Spark records), and _planned
        # is NOT reset (the first latestOffset may already have moved it)
        return dict(self._initial)

    def latestOffset(self) -> dict:
        wh = self._wh()
        head = wh._latest_seq()
        cur = self._planned
        if not self._capped or cur is None:
            off = {"seq": head}
        elif "snap" in cur:
            t, i = int(cur["snap"]), int(cur["idx"])
            m = self._sorted_manifest(wh, t)
            take = self._take(m[i:], self._budget())
            if i + take < len(m):
                off = {"snap": t, "idx": i + take}
            else:
                off = {"seq": t}  # snapshot complete; tail from here
        else:
            off = self._advance_tail(wh, cur, head)
        self._planned = off
        return off

    def _advance_tail(self, wh: Warehouse, cur: dict, head: int) -> dict:
        """Walk commits forward from ``cur``, spending one microbatch's
        file/byte budget, and return the bounded end offset. Control-
        plane only: entry JSON loads plus O(checkpoint_interval)
        manifest replays (plus a stat call per admitted file when the
        byte cap is on)."""
        budget = self._budget()
        pos_s, pos_i = int(cur["seq"]), int(cur.get("idx", 0))
        pos_next = int(cur["next"]) if cur.get("idx") else None
        entry_seqs, _ = wh._list_log()
        while budget["files"] >= 1:
            if pos_i:
                d = self._delta_list(wh, pos_s, pos_next)
                take = self._take(d[pos_i:], budget)
                if pos_i + take < len(d):
                    if take == 0:
                        break  # byte budget spent at a file boundary
                    return {"seq": pos_s, "idx": pos_i + take,
                            "next": pos_next}
                pos_s, pos_i, pos_next = pos_next, 0, None
                continue
            nxt = None
            for seq in entry_seqs:
                if pos_s < seq <= head:
                    entry = wh._load_entry(seq)
                    if entry and self.table in entry.get("tables", {}):
                        nxt = seq
                        break
            if nxt is None:
                return {"seq": head}  # caught up; absorb foreign commits
            d = self._delta_list(wh, pos_s, nxt)
            if not d:
                pos_s = nxt
                continue
            take = self._take(d, budget)
            if take < len(d):
                if take == 0:
                    break  # byte budget spent at a commit boundary
                return {"seq": pos_s, "idx": take, "next": nxt}
            pos_s = nxt
        return {"seq": pos_s}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        if "snap" in end and "snap" not in start:
            # a snap-form end can only legitimately follow the initial
            # snapshot; pairing it with a committed seq-form start means
            # the planner bounded batch 0 from the construction preset
            # while Spark was actually restarting WITHOUT replaying the
            # last batch — emitting would re-deliver the whole table.
            # This happens when the last batch COMMITTED before the
            # restart (Spark then skips the partitions() replay and
            # latestOffset plans from the construction preset). Fail
            # loudly rather than duplicate rows; the fix is to give
            # the reader the query's own checkpoint to reconcile with.
            raise RuntimeError(
                f"offset regression: restart start {start} paired with "
                f"initial-snapshot end {end}; pass the query's "
                "checkpointLocation as the checkpoint_dir option "
                "(stream_table(checkpoint_dir=...)) so the planner "
                "resumes from the checkpointed offset, or restart with "
                "a fresh checkpoint"
            )
        if "snap" in end and "snap" in start \
                and int(start["snap"]) != int(end["snap"]):
            # same failure mode mid-initial-snapshot: the preset pinned
            # a NEW snapshot target at restart-after-commit, and
            # _visible() is target-relative — file names are txn-<uuid>
            # so the two sorted manifests interleave and a diff across
            # targets silently RE-EMITS already-delivered files.
            raise RuntimeError(
                f"snapshot target mismatch: start {start} and end {end} "
                "pin different snapshot targets (restart raced new "
                "commits); pass the query's checkpointLocation as the "
                "checkpoint_dir option (stream_table(checkpoint_dir=...)) "
                "so the planner resumes from the checkpointed offset, or "
                "restart with a fresh checkpoint"
            )
        # re-seed the planning position (restart replays arrive here
        # with checkpointed offsets before latestOffset can know them)
        self._planned = dict(end)
        if start == end:
            return []
        wh = self._wh()
        s = _base_seq(start)
        horizon = wh.expire_horizon()
        if 0 < s < horizon:
            raise SnapshotExpired(
                f"stream offset {s} is below the expire horizon {horizon}: "
                "the commits it needs were folded by expire_log; restart "
                "the stream with a fresh checkpoint (full re-snapshot)"
            )
        if "snap" in end and s < wh.min_readable_seq(self.table):
            # a compact/cluster landed MID-INITIAL-SNAPSHOT: those
            # replaces DELETE the files they supersede, so the pinned
            # manifest at the snapshot target now references vacuumed
            # files — emitting would die executor-side with a raw
            # FileNotFound. (A logical replace — merge_table — retains
            # its superseded files as readable history, so the pinned
            # snapshot keeps streaming consistently through it; only
            # file MAINTENANCE strands a snapshot.)
            raise SnapshotVacuumed(
                f"snapshot target {s} of {self.table} predates the "
                f"retention boundary {wh.min_readable_seq(self.table)}: a "
                "compaction deleted its files mid-initial-snapshot; "
                "restart the stream with a fresh checkpoint"
            )
        if s > 0 and self.on_replace == "fail":
            hi = _scan_hi(end)
            entry_seqs, _ = wh._list_log()
            for seq in entry_seqs:
                if s < seq <= hi:
                    entry = wh._load_entry(seq)
                    if entry and entry.get("op") == "replace" and \
                            self.table in entry.get("tables", {}) and \
                            self.table not in entry.get("append_tables", []):
                        # append_tables: this table rode a replace entry
                        # as an APPEND (e.g. a CDC merge's change-feed
                        # sidecar) — appends tail cleanly
                        if self.on_dv == "apply" and \
                                entry.get("dv", {}).get(self.table):
                            prev = set(wh._manifest_files(
                                self.table, at=seq - 1) or [])
                            if set(entry["tables"][self.table]) == prev:
                                # dv-ONLY commit (delete_where mode="dv"):
                                # the file set is byte-identical, nothing
                                # gets re-emitted, and files still to come
                                # are dv-filtered at read — tails cleanly
                                continue
                        raise RuntimeError(
                            f"commit {seq} REPLACED table {self.table} "
                            "(merge/compaction rewrite) mid-stream; "
                            "re-emitting would duplicate rows. Pass "
                            "on_replace=reemit to opt into Delta-style "
                            "ignoreChanges semantics"
                        )
        before = self._visible(wh, start)
        after = sorted(self._visible(wh, end) - before)
        table_dir = os.path.join(self.root, self.table)
        dv_map = wh._replay_state(at=_scan_hi(end))["dv"].get(self.table, {})
        cover: dict[str, list[str]] = {}
        if dv_map:
            emit = set(after)
            for dv_rel, cov in dv_map.items():
                for r in cov:
                    if r in emit:
                        cover.setdefault(r, []).append(
                            os.path.join(table_dir, dv_rel))
            if cover and self.on_dv != "apply":
                # merge-on-read deletes: the raw files this batch would
                # emit contain rows a deletion vector removed — emitting
                # them would resurrect deleted rows into the stream.
                # Fail loudly by default; on_dv="apply" opts into the
                # executor-side anti-join below (the batch reader's
                # semantics), compact() folds the vectors physically.
                raise RuntimeError(
                    f"table {self.table} has merge-on-read deletion "
                    f"vectors covering {len(cover)} file(s) this batch "
                    "would emit; pass on_dv=apply to filter them during "
                    "the streamed read, or compact() the table to fold "
                    "them (or use eager delete_where mode='rewrite') "
                    "before streaming it"
                )
        return [
            _FilePartition(os.path.join(table_dir, rel),
                           _partition_pairs(rel),
                           dv_paths=sorted(cover.get(rel, [])))
            for rel in after
        ]

    def commit(self, end: dict) -> None:
        pass  # offsets live in the query checkpoint; the log is immutable

    # data plane: executor-side Arrow batches -----------------------------

    def _dv_key_set(self, partition: _FilePartition):
        """(shared column names, key set) for this partition's covering
        deletion vectors, or None when nothing applies. The dv rows are
        filtered to THIS file's basename (one sidecar can cover many
        files; ``_src`` scopes each row) and keyed over the columns the
        dv and the stream schema share — additive schema evolution
        after the delete leaves the new column out of the match, which
        still identifies exactly the recorded physical rows (the
        covered old files are NULL there by construction; same contract
        as the batch reader)."""
        if not partition.dv_paths:
            return None
        base = os.path.basename(partition.path)
        tables = [pq.read_table(p) for p in partition.dv_paths]
        dv = pa.concat_tables(tables, promote_options="permissive")
        dv = dv.filter(pc.equal(dv.column("_src"), base))
        shared = [f.name for f in self.arrow_schema
                  if f.name in dv.column_names]
        if dv.num_rows == 0 or not shared:
            return None
        cols = []
        for name in shared:
            col = dv.column(name).combine_chunks()
            ftype = self.arrow_schema.field(name).type
            if col.type != ftype:
                col = pc.cast(col, ftype)
            cols.append(col)
        return shared, _dv_row_keys(cols)

    def read(self, partition: _FilePartition):
        part_map = dict(partition.part_values)
        dv_keys = self._dv_key_set(partition)
        pf = pq.ParquetFile(partition.path)
        # a file column is known if some stream column reads it (its
        # PHYSICAL name) or it was retired by a DROP COLUMN (projected
        # away, not a schema change)
        known = {p.lower() for p in self.phys_of.values()} | self.retired
        extra = [n for n in pf.schema_arrow.names
                 if n.lower() not in known]
        if extra:
            # a file WIDER than the stream schema: a column was added
            # after this stream resolved its schema (or dropped from
            # the newest file). Emitting would silently lose the
            # column — fail the stream instead; a restart re-resolves
            # the schema from the newest file and streams the column
            # (Delta's contract for mid-run schema change).
            raise RuntimeError(
                f"schema changed mid-stream: {partition.path} carries "
                f"column(s) {extra} not in the stream schema "
                f"{sorted(known)}; restart the streaming query to pick "
                "up the evolved schema (offsets in the checkpoint are "
                "preserved)"
            )
        for batch in pf.iter_batches():
            cols = []
            for field in self.arrow_schema:
                if field.name in part_map:
                    sf = self.spark_schema[field.name].dataType
                    val = _coerce(part_map[field.name], sf)
                    cols.append(pa.array([val] * batch.num_rows,
                                         type=field.type))
                    continue
                idx = batch.schema.get_field_index(
                    self.phys_of.get(field.name, field.name))
                if idx < 0:
                    # additive schema evolution: a file written before
                    # the column existed reads as NULLs (mergeSchema
                    # semantics). Without this guard, pyarrow's -1
                    # would NEGATIVE-INDEX the last column — silently
                    # wrong data, not an error.
                    cols.append(pa.nulls(batch.num_rows, type=field.type))
                    continue
                col = batch.column(idx)
                if col.type != field.type:
                    col = pc.cast(col, field.type)
                cols.append(col)
            out = pa.RecordBatch.from_arrays(cols, schema=self.arrow_schema)
            if dv_keys is not None:
                # merge-on-read delete (on_dv="apply"): drop the rows a
                # covering deletion vector recorded — string-key anti-
                # join, null-safe, duplicates included (same physical
                # rows the recording delete matched)
                shared, keyset = dv_keys
                rows = _dv_row_keys(
                    [out.column(out.schema.get_field_index(n))
                     for n in shared])
                out = out.filter(pc.invert(
                    pc.is_in(rows, value_set=keyset)))
            yield out


class WarehouseStreamDataSource(DataSource):
    """``spark.readStream.format("warehouse_stream")`` over a commit-log
    tracked warehouse table. Options: ``root`` (warehouse root path),
    ``table``, ``on_replace`` (fail|reemit), ``on_dv`` (fail|apply —
    apply filters merge-on-read deleted rows during the streamed read
    instead of refusing dv-covered batches), ``tail_only`` (true skips
    the initial snapshot batch), ``max_files_per_trigger`` /
    ``max_bytes_per_trigger`` (admission control: bound every
    microbatch — including the initial snapshot — to at most N
    committed files / N bytes, whichever binds first; a single file
    larger than the byte cap still rides alone)."""

    @classmethod
    def name(cls) -> str:
        return SOURCE_NAME

    def schema(self) -> T.StructType:
        return _resolve_schema(self.options)[0]

    def streamReader(self, schema: T.StructType) -> _WarehouseStreamReader:
        _, part_fields = _resolve_schema(self.options)
        return _WarehouseStreamReader(dict(self.options), schema, part_fields)

    def streamWriter(self, schema: T.StructType,
                     overwrite: bool) -> "_WarehouseStreamWriter":
        if overwrite:
            raise ValueError(
                "warehouse_stream sink is append-only (outputMode "
                "append); complete/update modes are not supported")
        return _WarehouseStreamWriter(dict(self.options), schema)


class _SinkCommitMessage(WriterCommitMessage):
    def __init__(self, rel: str | None, rows: int):
        self.rel = rel
        self.rows = rows


class _WarehouseStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("warehouse_stream")`` — the commit log
    as a NATIVE Structured Streaming SINK (r12 verdict item #8), the
    write-side sibling of ``_WarehouseStreamReader`` through PySpark
    4.1's Python Data Source Arrow write path.

    Exactly-once protocol, per microbatch:

    1. ``write`` (executors, Arrow RecordBatches — no row-at-a-time
       Python): each task streams its batches into ONE dot-prefixed
       parquet file in the table directory. Dot-prefixed files are
       invisible to every reader and to ``vacuum_orphans``'s data
       sweep, so a mid-batch crash leaves no observable state.
    2. ``commit`` (driver, once per ``batchId``): publish the staged
       files under manifest names and link ONE commit-log entry that
       carries the file set, their footer stats, AND the sink's
       idempotence marker ``{"stream_sink": {"sink", "batch"}}`` —
       atomically. A restart that replays a committed batch finds the
       marker in the log and drops its re-staged files instead of
       double-appending (the same marker-in-transaction shape the
       ``foreachBatch`` wrapper ``stream_to_warehouse`` uses, moved
       into the entry itself). ``abort`` deletes the staged files.

    Files land FLAT (no hive dirs): partition-spec layout needs a
    per-partition shuffle the sink cannot impose on the caller's plan;
    ``compact()`` normalizes to the recorded spec in maintenance — and
    mixed layouts read losslessly meanwhile. Options: ``root``,
    ``table``, ``sink_id`` (marker scope; default ``sink_<table>`` —
    set it when two different queries append to one table).
    Declared-schema tables validate the input schema up front;
    CHECK-constrained and column-mapped tables are refused with typed
    errors (enforcement happens inside Spark write jobs, which this
    path bypasses — use ``stream_to_warehouse`` for those).

    Ledger caveat: markers live in the raw entry files; ``expire_log``
    must retain at least the streaming checkpoint's replay window
    (one batch) — the default (no expiry) always does."""

    def __init__(self, options: dict, schema: T.StructType):
        self.root = options["root"]
        self.table = options["table"].lower()
        self.sink_id = options.get("sink_id", f"sink_{self.table}")
        self._committed: set | None = None
        wh = Warehouse(None, self.root, checkpoint_interval=0)
        state = wh._replay_state()
        if state.get("constraints", {}).get(self.table):
            raise ValueError(
                f"warehouse_stream sink: {self.table!r} has CHECK "
                "constraints, which are enforced inside Spark write "
                "jobs — this sink writes executor-side Arrow batches; "
                "use streaming.ingest.stream_to_warehouse instead")
        decl, phys, _ = wh._schema_meta(self.table)
        if decl is not None:
            declared = {f.name.lower(): f.dataType for f in decl.fields}
            for f in schema.fields:
                want = declared.get(f.name.lower())
                if want is None:
                    raise ValueError(
                        f"warehouse_stream sink: column {f.name!r} is "
                        f"not in {self.table!r}'s declared schema — "
                        "ALTER TABLE ADD COLUMNS first")
                if want != f.dataType:
                    raise ValueError(
                        f"warehouse_stream sink: column {f.name!r} is "
                        f"{f.dataType.simpleString()} but the declared "
                        f"schema says {want.simpleString()}")
                if phys.get(f.name.lower(),
                            f.name).lower() != f.name.lower():
                    raise ValueError(
                        f"warehouse_stream sink: column {f.name!r} "
                        "carries a physical-name mapping (renamed / "
                        "re-added) — the sink writes logical names; "
                        "use stream_to_warehouse for mapped tables")

    # -- executor side ------------------------------------------------------
    def write(self, iterator) -> WriterCommitMessage:
        import uuid as _uuid

        name = f".stream-{self.sink_id}-{_uuid.uuid4().hex}.parquet"
        path = os.path.join(self.root, self.table, name)
        writer = None
        rows = 0
        try:
            for batch in iterator:
                if batch.num_rows == 0:
                    continue
                if writer is None:
                    os.makedirs(os.path.dirname(path), exist_ok=True)
                    writer = pq.ParquetWriter(path, batch.schema)
                writer.write_batch(batch)
                rows += batch.num_rows
        except BaseException:
            if writer is not None:
                writer.close()
                with _suppress(OSError):
                    os.remove(path)
            raise
        if writer is None:
            return _SinkCommitMessage(rel=None, rows=0)
        writer.close()
        return _SinkCommitMessage(rel=name, rows=rows)

    # -- driver side --------------------------------------------------------
    def _ledger(self, wh: Warehouse) -> set:
        """Batch ids this sink already committed, from the raw entry
        files (markers survive checkpoint folding; only ``expire_log``
        reclaims them, long after the one-batch replay window)."""
        out: set = set()
        log_dir = wh._manifest_dir()
        try:
            names = os.listdir(log_dir)
        except FileNotFoundError:
            return out
        for fn in names:
            if not fn.endswith(".json") or not fn[:-5].isdigit():
                continue
            try:
                with open(os.path.join(log_dir, fn)) as f:
                    mark = json.load(f).get("stream_sink")
            except (OSError, ValueError):
                continue
            if mark and mark.get("sink") == self.sink_id:
                out.add(mark.get("batch"))
        return out

    def commit(self, messages, batchId: int) -> None:
        wh = Warehouse(None, self.root)
        staged = sorted(m.rel for m in messages if m is not None and m.rel)
        if self._committed is None:
            self._committed = self._ledger(wh)
        table_dir = wh._path(self.table)
        if batchId in self._committed:
            # replayed batch: the marker proves data + marker linked
            # atomically last time — drop the re-staged files
            for rel in staged:
                with _suppress(OSError):
                    os.remove(os.path.join(table_dir, rel))
            return
        txn = Transaction(wh)
        txn.enforce_constraints = False  # refused at setup if any
        files = txn.pending.setdefault(self.table, [])
        if wh._manifest_files(self.table) is None:
            # first transactional write to a legacy table: adopt its
            # files (same contract as Transaction.append)
            files.extend(_data_files(table_dir))
        for i, rel in enumerate(staged):
            new = f"txn-{txn.txnid}-{i:05d}.parquet"
            os.replace(os.path.join(table_dir, rel),
                       os.path.join(table_dir, new))
            files.append(new)
            st = _file_stats(os.path.join(table_dir, new))
            if st:
                txn.stats.setdefault(self.table, {})[new] = st
            if i == 0:  # every task writes the query's one schema
                txn._note_schema(self.table, _footer_schema_json(
                    os.path.join(table_dir, new)))
        txn.extra = {"stream_sink": {"sink": self.sink_id,
                                     "batch": batchId}}
        txn.commit()
        self._committed.add(batchId)

    def abort(self, messages, batchId: int) -> None:
        wh = Warehouse(None, self.root, checkpoint_interval=0)
        table_dir = wh._path(self.table)
        # listed staged files, plus a best-effort sweep of this sink's
        # stranded dot-files (tasks that failed before reporting)
        names = {m.rel for m in messages if m is not None and m.rel}
        with _suppress(OSError):
            names |= {fn for fn in os.listdir(table_dir)
                      if fn.startswith(f".stream-{self.sink_id}-")}
        for rel in names:
            with _suppress(OSError):
                os.remove(os.path.join(table_dir, rel))


def _resolve_schema(options: dict) -> tuple[T.StructType, list[str]]:
    """Table schema = NEWEST committed file's parquet footer (data
    columns) + hive partition columns recovered from its relpath
    (appended last, matching the batch reader's column order). Newest,
    not first: a column ADDED by a later append (additive schema
    evolution) must be part of the stream schema — older, narrower
    files read as typed NULLs via the guard in ``read()`` (the batch
    reader's ``merge_schema=True`` behavior). The inverse case — a file
    WIDER than this schema, i.e. a column added after the stream
    started — fails the stream loudly in ``read()``; restarting
    re-resolves the schema and picks the column up (Delta's
    schema-change contract). Requires at least one committed file — a
    stream over a never-written table has no schema to offer."""
    root, table = options["root"], options["table"].lower()
    wh = Warehouse(None, root, checkpoint_interval=0)
    rels = wh._manifest_files(table)
    if not rels:
        raise ValueError(
            f"table {table} has no committed files in {root}; write at "
            "least one commit before opening a stream on it"
        )
    rel = rels[-1]
    decl = wh._declared_schema(table)
    if decl is not None:
        # the table DECLARED its schema (ALTER TABLE ADD COLUMNS): the
        # stream resolves against the declaration — a column no file
        # carries yet still streams (as typed NULLs via the additive-
        # evolution fill in read()), matching the batch reader exactly
        part_fields = [k for k, _ in _partition_pairs(rel)
                       if k in decl.names]
        return decl, part_fields
    footer = pq.ParquetFile(os.path.join(root, table, rel)).schema_arrow
    spark_schema = from_arrow_schema(footer)
    part_fields = []
    for k, v in _partition_pairs(rel):
        if k not in spark_schema.names:
            spark_schema = spark_schema.add(k, _infer_type(v))
            part_fields.append(k)
    return spark_schema, part_fields


def register(spark) -> None:
    """Idempotent registration of the ``warehouse_stream`` format."""
    spark.dataSource.register(WarehouseStreamDataSource)


def stream_table(spark, root: str, table: str, *,
                 on_replace: str = "fail", on_dv: str = "fail",
                 tail_only: bool = False,
                 max_files_per_trigger: int | None = None,
                 max_bytes_per_trigger: int | None = None,
                 checkpoint_dir: str | None = None,
                 cdf: bool = False,
                 cdf_table: str | None = None):
    """Convenience: register + open a streaming DataFrame on ``table``.

    ``max_files_per_trigger`` / ``max_bytes_per_trigger`` are the Delta
    ``maxFilesPerTrigger``/``maxBytesPerTrigger`` analogs: every
    microbatch — the initial snapshot included — carries at most that
    many committed files / bytes (whichever cap binds first; bytes are
    the better knob when file sizes vary, file counts when they don't),
    so a 100 TB table arrives as a paced sequence of batches instead of
    one giant first batch. A single file over the byte cap still rides
    alone — progress is never stalled. Chunk boundaries live in the
    offsets (``{"snap"/"seq", "idx"}``) as FILE indices regardless of
    which cap produced them, so restarts stay exactly-once and capped
    (the replayed batch re-seeds the planner's position — see
    ``_WarehouseStreamReader``).
    ``on_dv="apply"`` streams tables that carry live merge-on-read
    deletion vectors (an uncompacted ``delete_where(mode="dv")``):
    every emitted file is filtered to its surviving rows inside the
    partition read, and dv-only delete commits tail through without
    tripping the replace guard. Default ``"fail"`` refuses loudly.
    Pass the query's checkpointLocation as ``checkpoint_dir`` when
    using admission caps: on a restart whose last batch committed,
    Spark plans the next batch WITHOUT replaying the old one, and only
    the checkpoint tells the planner where the stream really is (the
    reader fails loudly on the mismatch otherwise).
    One caveat: under ``trigger(availableNow=True)`` Spark falls back
    to single-batch execution for Python sources — it plans ONE batch
    (capped, so no giant batch slips through) and terminates, leaving
    the rest for the next run. Use a periodic trigger
    (``processingTime``) to drain a backlog under the cap in one run.

    ``cdf=True`` is the STREAMING Change Data Feed read (Delta's
    ``readChangeFeed`` analog): instead of the table's rows, the
    stream emits its row-level CHANGE rows — the CDF sidecar
    (``<table>__cdf``, or ``cdf_table``) that ``delete_where`` /
    ``update_where`` / ``merge_when`` / ``merge_table`` write with
    ``cdf=True`` — continuously, riding the same commit-offset
    mechanics (exactly-once restarts, admission caps compose). Columns
    are the table's plus ``_change_type`` (insert / delete /
    update_preimage / update_postimage — Delta's SQL-surface name for
    the sidecar's stored ``change_type``) and ``_txn`` (the commit's
    transaction id, the dedup key under ``on_replace=reemit``). The
    sidecar is append-only by construction, so the replace guard only
    trips if maintenance compacts it mid-stream — compact the sidecar
    in maintenance windows, or pass ``on_replace=reemit`` and dedup by
    ``_txn``. Requires at least one ``cdf=True`` DML to have created
    the sidecar (``read_changes`` is the batch sibling)."""
    register(spark)
    if cdf:
        table = (cdf_table or f"{table}__cdf").lower()
        # UNTRACKED (None) means no cdf=True DML ever created the
        # sidecar — a tracked-but-currently-empty manifest ([]) is a
        # live feed that simply has no changes yet, and the stream
        # should open and wait for them
        if Warehouse(spark, root, checkpoint_interval=0) \
                ._manifest_files(table) is None:
            raise ValueError(
                f"{table} does not exist: no cdf=True DML (delete_where"
                " / update_where / merge_when / merge_table) has "
                "written a change feed for this table yet"
            )
    reader = (
        spark.readStream.format(SOURCE_NAME)
        .option("root", root)
        .option("table", table)
        .option("on_replace", on_replace)
        .option("on_dv", on_dv)
        .option("tail_only", str(tail_only).lower())
    )
    if max_files_per_trigger is not None:
        reader = reader.option("max_files_per_trigger",
                               str(max_files_per_trigger))
    if max_bytes_per_trigger is not None:
        reader = reader.option("max_bytes_per_trigger",
                               str(max_bytes_per_trigger))
    if checkpoint_dir is not None:
        reader = reader.option("checkpoint_dir", checkpoint_dir)
    df = reader.load()
    if cdf and "change_type" in df.columns \
            and "_change_type" not in df.columns:
        # Delta's surface names the tag column _change_type; the stored
        # sidecar calls it change_type (matching read_changes' raw form)
        df = df.withColumnRenamed("change_type", "_change_type")
    return df
