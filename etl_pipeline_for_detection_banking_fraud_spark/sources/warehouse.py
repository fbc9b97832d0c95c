"""Parquet medallion warehouse (SURVEY §1 layer mapping).

The reference's warehouse is a Postgres schema; this engine's is a
directory of parquet tables:

- append tables (facts, report mart, audit): each commit adds files.
  DWH_FACT_TRANSACTIONS and REP_FRAUD are partitioned by day
  (``days()`` of their timestamp) so per-day predicates prune
  partitions at 100 TB.
- the SCD2 dimension is rewritten whole each day (``rewrite``): one
  ``replace`` of its file set in the day's commit entry, next to the
  other tables' appends — the Delta shape of an overwrite.

Atomic multi-table transactions (the exactly-once path)
-------------------------------------------------------

``wh.transaction()`` opens a commit-log transaction: every ``append``
inside it stages parquet files into their final table directories under
txn-unique names, records them in the transaction, and publishes
NOTHING until ``commit()`` atomically links one JSON entry into
``<root>/_commitlog/`` — the Iceberg/Delta commit shape re-derived in
pure Python because those jars aren't in this image. Properties:

- all-or-nothing across TABLES: {fact append + audit rows + commit
  marker} become visible as one unit; a crash at any earlier point
  leaves only orphan files readers never see (``vacuum_orphans`` deletes
  them) — this closes the streaming sink's crash-between-append-and-
  marker double-append window (at-least-once -> exactly-once replay).
- read-your-own-writes: ``read()`` on the warehouse that holds the open
  transaction also sees its pending files (only those, for a table the
  transaction replaces) — the pipeline's L5 visibility (rules reading
  facts appended and the dimension rewritten earlier in the run) works
  unchanged inside a transaction.
- once a table has a commit-log entry it is TRACKED: reads resolve
  through the log only (by-name file listing with ``basePath`` so hive
  partition columns still parse and prune), under the schema the log
  records, so planning a read runs no Spark job. The first transactional
  append to a pre-existing legacy table adopts its current files into
  the entry, so history stays visible.
- single writer per warehouse root (the reference's posture — one daily
  driver): commit sequencing is a hard-link claim of the next sequence
  number, which also makes concurrent committers fail cleanly rather
  than overwrite each other.
- scale posture: entries are O(files touched) JSON; ``compact()`` on a
  tracked table folds history into one ``replace`` entry (a snapshot),
  so the log never needs unbounded replay — same mechanics as Iceberg
  snapshot + manifest compaction, minus the jars.
"""

from __future__ import annotations

import collections
import base64
import contextlib
import datetime
import errno
import functools
import json
import os
import re
import shutil
import time
import uuid
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.localframe import empty_df as _empty_df
from ..functions.localframe import local_rows_df as _local_rows_df

# DML reads a candidate set of at most this many rows (by the manifest's
# footer row counts) as ONE slice: the tagged pass, the MERGE join and
# the write then need no shuffle, so each is one Spark job instead of
# one per exchange. Larger sets keep Spark's own parallelism. Measured
# on local[4] (a 4-column table in 8 files, a 5-row MERGE source, the
# median of 5-7 runs): one slice is faster for DELETE, UPDATE and MERGE
# up to 2^14 rows (MERGE 0.85 s against 1.02-1.14 s at 2^14), and
# slower from 2^15-2^16 on (MERGE 1.66 s against 1.26 s at 2^16).
_ONE_SLICE_ROWS = 1 << 14


class CommitConflict(RuntimeError):
    """A ``replace`` transaction lost the optimistic-concurrency race:
    another transaction touching the same table committed after this
    one's base snapshot. The staged files were never published (orphans
    for ``vacuum_orphans``); re-read and retry — the same first-writer-
    wins contract as a Delta/Iceberg ConcurrentModificationException."""


class SnapshotExpired(RuntimeError):
    """``read_at`` asked for a snapshot whose commit-log entries were
    removed by ``expire_log`` (the Iceberg expire_snapshots analog:
    history older than the expire horizon is folded into a checkpoint
    and its entry files deleted, bounding the log DIRECTORY the way
    checkpoints bound entry parsing). State at or after the horizon
    stays fully readable."""


class SnapshotVacuumed(RuntimeError):
    """``read_at`` asked for a snapshot older than the retention
    boundary: a later ``compact()``/``cluster_table()`` deleted the data
    files that snapshot referenced (file maintenance advances the
    time-travel horizon — the Delta/Iceberg VACUUM contract). The error
    names the oldest still-readable sequence number; snapshots at or
    after it remain fully readable."""


class ConstraintViolation(RuntimeError):
    """A write (or ``add_constraint(validate=True)`` over existing
    data) produced rows for which a table CHECK constraint evaluates to
    FALSE — SQL semantics: TRUE and NULL pass, only FALSE violates (the
    Delta ``ADD CONSTRAINT ... CHECK`` contract). The transaction never
    published: staged files are invisible orphans for
    ``vacuum_orphans``, and the table is byte-identical to before."""


class Transaction:
    """Pending multi-table appends and replaces; see module docstring.
    Created via ``Warehouse.begin()`` / ``Warehouse.transaction()``."""

    def __init__(self, wh: "Warehouse"):
        self.wh = wh
        self.txnid = uuid.uuid4().hex[:12]
        self.pending: dict[str, list[str]] = {}  # table -> relpaths
        # tables whose file set this commit REPLACES: their pending
        # files become the whole table. Every other pending table is
        # appended to (a CDC merge's change-feed sidecar, the facts of
        # a day that also rewrites its SCD2 dimension). Appends commute,
        # so only these tables take part in replace conflict detection.
        self.replaced: set[str] = set()
        # for replace entries: the highest log seq included in the file
        # set this replace was computed FROM. Commit detects any
        # intervening entry touching the same tables and raises
        # CommitConflict instead of silently dropping its files (the
        # lost-update hazard of compaction racing an append). Plain
        # appends never conflict — they commute, and the claim loop just
        # takes the next free sequence number.
        self.base_seq: int | None = None
        # True when the committer will DELETE the files this replace
        # supersedes (compact/cluster): the entry records it so replay
        # knows the time-travel retention boundary for the table —
        # read_at() below this seq raises SnapshotVacuumed instead of a
        # raw missing-file error. merge_table keeps old files readable
        # and leaves this False.
        self.vacuum = False
        # tables whose replace result is CONTENT-INDEPENDENT of rows
        # appended after the base snapshot (compact / cluster / zorder
        # / fold_dv: they rewrite a fixed READ SET of files; files a
        # concurrent append adds are disjoint by construction). For
        # these, commit resolves conflicts at FILE granularity — the
        # Delta/Iceberg shape: an intervening APPEND-only commit on the
        # table is absorbed by carrying its files forward into this
        # replace's manifest instead of raising CommitConflict, so
        # maintenance can't livelock under streaming append rates
        # (r12 verdict item #1). merge/DML/clone must NOT opt in: their
        # results depend on table contents at the base snapshot, so
        # first-writer-wins stays correct for them.
        self.absorb_appends: set[str] = set()
        # commit-log seqs already absorbed (commit's claim loop re-runs
        # conflict detection after losing a seq race; absorption must
        # not double-carry a file)
        self._absorbed_seqs: set[int] = set()
        self._n = 0
        self._stage_root = os.path.join(wh.root, "_stage", self.txnid)
        self._done = False
        # table -> relpath -> {col: [min, max]} for files THIS txn wrote
        # (adopted legacy files get no stats and are never pruned)
        self.stats: dict[str, dict[str, dict]] = {}
        # table -> hive partition spec THIS txn wrote with; recorded in
        # the commit entry so maintenance rewrites (compact / cluster /
        # merge / DML) can re-derive the table's layout from metadata
        # instead of a hard-coded column-name convention
        self.partition_by: dict[str, list[str]] = {}
        # table -> {dv relpath: [covered data relpaths]} — the table's
        # FULL deletion-vector map as of this commit (replace entries
        # replace it wholesale; writers carry surviving entries forward)
        self.dv: dict[str, dict[str, list[str]]] = {}
        # table -> {dv relpath: row count} — sidecar sizes mirroring
        # ``dv``, so the global dv budget (``dv_max_rows_total``) is a
        # replay-state sum, not a footer stat per read. Same replace
        # semantics as ``dv``; missing counts (legacy entries) fall
        # back to the sidecar's parquet footer on demand.
        self.dv_rows: dict[str, dict[str, int]] = {}
        # (staged_abs, final_abs) deletion-vector sidecars to publish at
        # commit: dv files are written DOT-PREFIXED (invisible to
        # vacuum_orphans' dv sweep) and renamed to their final _dv/ name
        # only after conflict detection passes — so a concurrent
        # writer's conflict-retry vacuum cannot delete an in-flight
        # DML's dv file out from under its commit (it never sees it)
        self.dv_renames: list[tuple[str, str]] = []
        # table -> {"add": {name: check_sql}, "drop": [names]} —
        # CHECK-constraint metadata deltas this commit carries
        # (``add_constraint``/``drop_constraint``); a METADATA channel
        # independent of the file ops, applied in log order and NOT
        # reset by replaces (constraints survive compact/cluster/DML,
        # the Delta contract)
        self.constraints: dict[str, dict] = {}
        # table -> declared-schema JSON (ALTER TABLE ADD COLUMNS) —
        # metadata channel like ``constraints``: applied in log order,
        # survives replaces, read back by ``_declared_schema``
        self.schema_updates: dict[str, str] = {}
        # table -> canonical schema JSONs of the data files THIS txn
        # staged (first appearance order): the source of the entry's
        # ``file_schema`` channel (see ``_file_schema_entry``)
        self._own_schemas: dict[str, list[str]] = {}
        # table -> the FULL ``file_schema`` list to record, set by
        # callers that relink another snapshot's files (clone, restore)
        self.file_schemas: dict[str, list[str]] = {}
        # table -> bloom-filter config (``set_bloom_filter``) — same
        # metadata contract as constraints/schema
        self.bloom_cols: dict[str, dict] = {}
        # tables this commit DROPS from the catalog (``drop_table``):
        # replay pops them from every state channel and advances their
        # retention to this commit
        self.drop_tables: list[str] = []
        # False disables in-write CHECK enforcement for this txn (used
        # by add_constraint's own metadata commit; rewrites of already-
        # validated data keep it True — re-checking valid rows is one
        # vectorized predicate per row, noise next to the write itself)
        self.enforce_constraints = True
        # extra top-level entry keys (replay ignores unknown keys):
        # carriers for sink-side idempotence markers and similar
        # metadata that must land ATOMICALLY with the file ops — e.g.
        # the native streaming sink's {"stream_sink": {sink, batch}}
        self.extra: dict = {}

    def _constrained(self, df: DataFrame, cons: dict[str, str]) -> DataFrame:
        """Wrap ``df`` so the WRITE JOB ITSELF raises on the first row
        violating any CHECK constraint — zero extra Spark jobs (Delta's
        CheckInvariant approach, expressed with ``assert_true`` inside
        an always-true filter). SQL CHECK semantics: NULL passes, so
        the tested condition is ``coalesce(expr, true)``."""
        guard = None
        for name in sorted(cons):
            ok = F.coalesce(F.expr(cons[name]).cast("boolean"), F.lit(True))
            msg = F.lit(f"[CHECK constraint {name}] ({cons[name]}) violated")
            g = F.coalesce(F.assert_true(ok, msg), F.lit(True))
            guard = g if guard is None else (guard & g)
        return df.filter(guard) if guard is not None else df

    def _pending_schema_meta(self, table: str
                             ) -> tuple[T.StructType | None, dict]:
        """(declared schema, physical map) for append validation —
        seeing THIS transaction's own pending schema update first, so
        a schema-evolving commit (MERGE ``schema_evolution=True``) can
        declare the new shape and write data under it atomically."""
        j = self.schema_updates.get(table)
        if j:
            payload = json.loads(j)
            if payload.get("v") == 2:
                return (T.StructType.fromJson(payload["schema"]),
                        dict(payload.get("phys", {})))
            return T.StructType.fromJson(payload), {}
        decl, phys, _ = self.wh._schema_meta(table)
        return decl, phys

    def append(self, df: DataFrame, table: str,
               partition_by: list[str] | None = None) -> None:
        """Stage an append: files land in the table directory under
        txn-unique names but stay invisible until commit()."""
        if self._done:
            raise RuntimeError("transaction already committed/aborted")
        for c in partition_by or []:
            if _parse_spec_entry(c)[3].startswith(("_", ".")):
                # the commit walk (and every parquet reader) treats
                # '_'/'.' paths as hidden — such a partition column
                # would stage zero visible files, silently losing data
                raise ValueError(
                    f"partition column {c!r} would write hidden "
                    f"('_'/'.'-prefixed) directories; rename it"
                )
        table = table.lower()
        if partition_by is None:
            # writes conform to the table's RECORDED spec (the Delta /
            # Iceberg contract, and what makes set_partition_spec mean
            # "future writes use the new spec") — but only when the
            # frame actually carries every spec column (for TRANSFORM
            # entries: every BASE column); a sidecar-style frame
            # without them keeps writing flat, as before. This
            # transaction's own staged spec wins over the committed one
            # (an earlier append in the txn may have declared it).
            rec = self.partition_by.get(table) or \
                self.wh._replay_state()["partition_by"].get(table)
            if rec:
                # case-insensitive resolution (Spark analysis is);
                # identity entries in the FRAME's spelling so
                # partitionBy finds the column, transform entries kept
                # verbatim (their derived column is materialized below)
                by_lower = {c.lower(): c for c in df.columns}
                resolved = []
                for entry in rec:
                    kind, _prm, base, _drv = _parse_spec_entry(entry)
                    have = by_lower.get(base.lower())
                    if have is None:
                        resolved = None
                        break
                    resolved.append(have if kind == "identity" else entry)
                if resolved is not None:
                    partition_by = resolved
        if partition_by:
            self.partition_by[table] = list(partition_by)
        decl, phys = self._pending_schema_meta(table)
        cons = {}
        if self.enforce_constraints:
            cons = self.wh._replay_state().get(
                "constraints", {}).get(table, {})
            if cons:
                # CHECK expressions speak LOGICAL column names: the
                # guard must wrap the frame BEFORE the logical->physical
                # rename below. After the rename, a constraint on a
                # logical column whose name collides with ANOTHER
                # column's physical slot (rename a->b, re-add a, CHECK
                # on a) would resolve against the wrong column's data
                # and silently admit violating rows.
                df = self._constrained(df, cons)
        if decl is not None:
            # declared-schema table: an appended column the declaration
            # does not know would be INVISIBLE to every read (reads
            # resolve against the declaration) — reject it loudly; a
            # type drift on a shared column would poison the file set.
            # Missing declared columns are fine: reads fill typed NULLs.
            declared = {f.name.lower(): f.dataType for f in decl.fields}
            part = {c.lower() for c in (partition_by or [])} | \
                {c.lower() for c in self.wh.table_partition_by(table)}
            for f in df.schema.fields:
                want = declared.get(f.name.lower())
                if want is None:
                    raise ValueError(
                        f"append to {table!r}: column {f.name!r} is not "
                        "in the table's declared schema — run "
                        "add_columns (ALTER TABLE ADD COLUMNS) first"
                    )
                if f.name.lower() not in part and want != f.dataType:
                    raise ValueError(
                        f"append to {table!r}: column {f.name!r} is "
                        f"{f.dataType.simpleString()} but the declared "
                        f"schema says {want.simpleString()}"
                    )
            if phys:
                # columns with a physical-name mapping (RENAME COLUMN /
                # re-add after DROP) are WRITTEN under their physical
                # name so every reader epoch resolves them uniformly
                renames = {
                    c: phys[c.lower()] for c in df.columns
                    if c.lower() in phys and phys[c.lower()] != c
                }
                if renames:
                    df = df.select(*[
                        F.col(c).alias(renames.get(c, c))
                        for c in df.columns])
        self._n += 1
        stage = os.path.join(self._stage_root, str(self._n))
        write_cols: list[str] = []
        for entry in partition_by or []:
            kind, prm, base, derived = _parse_spec_entry(entry)
            if kind == "identity":
                write_cols.append(entry)
                continue
            # hidden partitioning: materialize the derived column for
            # the write only — base data stays in the files, declared
            # reads drop the path key, and base-column predicates prune
            # via the transform expansion (the Iceberg contract)
            have = next((c for c in df.columns
                         if c.lower() == derived.lower()), None)
            if have is not None:
                if decl is not None and derived.lower() in {
                        f.name.lower() for f in decl.fields}:
                    raise ValueError(
                        f"append to {table!r}: hidden partition column "
                        f"{derived!r} (derived by {entry!r}) collides "
                        "with a DECLARED data column; rename the "
                        "column or the transform base")
                # a path-lifted layout column riding a maintenance
                # rewrite (tracked reads surface it on undeclared
                # tables): recompute from the base — derived values
                # are DEFINED as T(base), never independent data
                df = df.drop(have)
            df = df.withColumn(
                derived, _spec_transform_expr(df, kind, prm, base))
            write_cols.append(derived)
        w = df.write.mode("overwrite")
        if write_cols:
            w = w.partitionBy(*write_cols)
        try:
            w.parquet(stage)
        except Exception as e:  # noqa: BLE001 — classify, then re-raise
            m = re.search(r"\[CHECK constraint (\w+)\]", str(e))
            if cons and m:
                shutil.rmtree(stage, ignore_errors=True)
                name = m.group(1)
                raise ConstraintViolation(
                    f"write to {table!r} violates CHECK constraint "
                    f"{name} ({cons.get(name)}); nothing was committed"
                ) from e
            raise
        table_dir = self.wh._path(table)
        files = self.pending.setdefault(table, [])
        if not files and table not in self.replaced and \
                self.wh._manifest_files(table) is None:
            # first transactional write to a legacy table: adopt its
            # current files so they stay visible once the table flips to
            # commit-log reads
            adopted = _data_files(table_dir)
            files.extend(adopted)
            for sj in self.wh._footer_schemas(table, adopted):
                self._note_schema(table, sj)
        k = 0
        new_rels: list[str] = []
        for dirpath, dirnames, fnames in os.walk(stage):
            dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
            for fn in sorted(fnames):
                if not fn.endswith(".parquet") or fn.startswith((".", "_")):
                    continue
                rel_dir = os.path.relpath(dirpath, stage)
                rel_dir = "" if rel_dir == "." else rel_dir
                new_name = f"txn-{self.txnid}-{self._n:03d}-{k:05d}.parquet"
                k += 1
                dst_dir = os.path.join(table_dir, rel_dir) if rel_dir else table_dir
                os.makedirs(dst_dir, exist_ok=True)
                os.replace(os.path.join(dirpath, fn), os.path.join(dst_dir, new_name))
                rel = os.path.join(rel_dir, new_name) if rel_dir else new_name
                files.append(rel)
                new_rels.append(rel)
                st = _file_stats(os.path.join(table_dir, rel))
                if st:
                    self.stats.setdefault(table, {})[rel] = st
        shutil.rmtree(stage, ignore_errors=True)
        if new_rels:
            # one write = one data schema: the first file's footer
            # speaks for every file this append staged
            sj = _footer_schema_json(os.path.join(table_dir, new_rels[0]))
            self._note_schema(table, sj)
            self._record_blooms(table, new_rels, _merged_schema((sj,)))

    def staged_rows(self, table: str) -> dict[str, int]:
        """``{relpath: footer row count}`` of the data files THIS
        transaction staged for ``table`` (adopted legacy files are not
        among them), from the stats recorded at staging: no Spark job.
        A file staged without stats (their footer read is best-effort)
        has its footer's row count read here."""
        import pyarrow.parquet as pq

        table = table.lower()
        stats = self.stats.get(table, {})
        mine = f"txn-{self.txnid}-"
        out = {}
        for r in self.pending.get(table, []):
            if not os.path.basename(r).startswith(mine):
                continue
            n = (stats.get(r) or {}).get("__rows")
            if n is None:
                path = os.path.join(self.wh._path(table), r)
                n = pq.ParquetFile(path).metadata.num_rows
            out[r] = n
        return out

    def _note_schema(self, table: str, sj: str) -> None:
        own = self._own_schemas.setdefault(table, [])
        if sj not in own:
            own.append(sj)

    def _file_schema_entry(self) -> dict[str, list[str]]:
        """The commit entry's ``file_schema`` channel: per table, the
        schemas of its data files, so reads plan against the log and
        never open a footer. An appended table carries only schemas it
        has not recorded yet, so a steady-state commit carries none;
        replay unions them in. A replaced table carries its full list
        when it changes it: a
        rewrite of every file resets the list to what it wrote. Files
        the log tracks without a recorded schema (adopted legacy files,
        logs older than this channel) are read from their footers
        once, here, and recorded with the rest."""
        state = self.wh._replay_state()
        mine = f"txn-{self.txnid}-"
        out: dict[str, list[str]] = {}
        for t, files in self.pending.items():
            if t in self.file_schemas:
                out[t] = list(self.file_schemas[t])
                continue
            rec = state["file_schema"].get(t)
            if rec is None:
                rec_base = self.wh._footer_schemas(t, list(dict.fromkeys(
                    list(state["tables"].get(t, [])) + [
                        r for r in files
                        if not os.path.basename(r).startswith(mine)])))
            else:
                rec_base = list(rec)
            own = self._own_schemas.get(t, [])
            if t in self.replaced:
                rewrote_all = all(os.path.basename(r).startswith(mine)
                                  for r in files)
                full = list(dict.fromkeys(
                    ([] if rewrote_all else rec_base) + own))
                if full != rec:
                    out[t] = full
            else:
                new = [s for s in dict.fromkeys(rec_base + own)
                       if s not in (rec or [])]
                if new:
                    out[t] = new
        return out

    def _record_blooms(self, table: str, new_rels: list[str],
                       schema: T.StructType) -> None:
        """Per-file Bloom bitsets for the table's configured bloom
        columns (the Delta bloom-filter-index analog), computed in ONE
        column-pruned Spark job over the files THIS append staged and
        stored under the reserved ``__bloom`` key of each file's stats
        dict — so every replace path that carries stats verbatim
        (compact untouched files, DML, restore) carries the blooms with
        them for free, and files REWRITTEN by any path get fresh blooms
        here. Point-lookup pruning (``lo == hi``) then skips files
        whose bitset provably lacks the value — sharper than min/max on
        high-cardinality identifiers, where every file's range overlaps
        every probe. Hash: ``xxhash64('col#i', cast(col as string))``
        per of k seeds — positions for a probe value are computed with
        the SAME Spark expressions (``_bloom_positions``), so there is
        no cross-language hash to drift."""
        cfg = self.wh._replay_state().get("bloom_cols", {}).get(table)
        if not cfg or not new_rels:
            return
        try:
            self._record_blooms_inner(table, new_rels, cfg, schema)
        except Exception as e:  # noqa: BLE001
            # blooms are an OPTIMIZATION, never a correctness
            # dependency (missing bitset = file always kept): a failed
            # bloom job must not fail the write it follows. All-or-
            # nothing per file: bits are only recorded after the
            # collect succeeds, so a failure can never leave a partial
            # bitset that would falsely prune.
            warnings.warn(
                f"bloom-filter stats collection failed for {table!r} "
                f"({e}); the {len(new_rels)} new file(s) carry no "
                "bitset and will never be bloom-pruned"
            )

    def _record_blooms_inner(self, table: str, new_rels: list[str],
                             cfg: dict, schema: T.StructType) -> None:
        m, kk = int(cfg["m"]), int(cfg["k"])
        types = cfg.get("types", {})
        ts_micros = cfg.get("ts") == "micros"
        p = self.wh._path(table)
        src = self.wh.spark.read.schema(schema).parquet(
            *[os.path.join(p, r) for r in new_rels])
        frames = []
        for c in cfg["cols"]:
            if c not in src.columns:
                continue  # e.g. a hive partition column: lives in the
                # relpath, pruned by the partition-value check instead
            base = _bloom_canonical(F.col(c), types.get(c), ts_micros)
            pos = [
                F.pmod(F.xxhash64(F.lit(f"{c}#{i}"), base),
                       F.lit(m)).cast("int")
                for i in range(kk)
            ]
            frames.append(
                src.where(F.col(c).isNotNull())
                   .select(_basename_col().alias("__f"),
                           F.lit(c).alias("__c"),
                           F.explode(F.array(*pos)).alias("__p"))
            )
        if not frames:
            return
        allf = frames[0]
        for fr in frames[1:]:
            allf = allf.unionByName(fr)
        rows = (allf.distinct()
                    .groupBy("__f", "__c")
                    .agg(F.collect_set("__p").alias("ps"))
                    .collect())  # bounded: <= files x cols rows, <= m ints each
        by_base = {os.path.basename(r): r for r in new_rels}
        tstats = self.stats.setdefault(table, {})
        for row in rows:
            rel = by_base.get(row["__f"])
            if rel is None:
                continue
            bits = bytearray(m // 8)
            for pp in row["ps"]:
                bits[pp >> 3] |= 1 << (pp & 7)
            fstats = tstats.setdefault(rel, {})
            fstats.setdefault("__bloom", {})[row["__c"]] = \
                base64.b64encode(bytes(bits)).decode("ascii")

    def commit(self) -> None:
        """Atomically publish every pending append as ONE commit-log
        entry (write-tmp + fsync + hard-link claim of the next sequence
        number). Crash before the link: nothing visible. After: all of
        it."""
        if self._done:
            raise RuntimeError("transaction already committed/aborted")
        try:
            log_dir = self.wh._manifest_dir()
            os.makedirs(log_dir, exist_ok=True)
            entry = {
                "txn": self.txnid,
                "op": "replace" if self.replaced else "add",
                "ts": time.time(),  # wall clock for TIMESTAMP AS OF
                "tables": self.pending,
            }
            appends = sorted(set(self.pending) - self.replaced)
            if self.replaced and appends:
                entry["append_tables"] = appends
            if self.stats:
                entry["stats"] = self.stats
            if self.partition_by:
                entry["partition_by"] = self.partition_by
            if self.dv:
                entry["dv"] = self.dv
            if self.dv_rows:
                entry["dv_rows"] = self.dv_rows
            if self.constraints:
                entry["constraints"] = self.constraints
            if self.schema_updates:
                entry["schema"] = self.schema_updates
            file_schema = self._file_schema_entry()
            if file_schema:
                entry["file_schema"] = file_schema
            if self.bloom_cols:
                entry["bloom_cols"] = self.bloom_cols
            if self.drop_tables:
                entry["drop_tables"] = self.drop_tables
            if self.vacuum:
                entry["vacuum"] = True
            for k, v in self.extra.items():
                entry.setdefault(k, v)
            tmp = os.path.join(log_dir, f".tmp-{self.txnid}")
            with open(tmp, "w") as f:
                json.dump(entry, f)
                f.flush()
                os.fsync(f.fileno())
            seq = _next_seq(log_dir)
            self._check_conflicts(log_dir, seq, tmp, entry)
            # publish staged dv sidecars only now, after conflict
            # detection: the visible-but-unreferenced window shrinks to
            # the link claim below (same exposure as staged data files);
            # a conflict raised past this point strands them as plain
            # vacuumable orphans, never a referenced-but-missing file
            for staged, final in self.dv_renames:
                os.replace(staged, final)
            self.dv_renames = []
            while True:
                final = os.path.join(log_dir, f"{seq:09d}.json")
                try:
                    os.link(tmp, final)  # atomic claim; fails if seq taken
                    break
                except FileExistsError:
                    # someone else claimed this seq between our listing
                    # and the link; a replace must re-run conflict
                    # detection against the entry that beat it
                    seq += 1
                    self._check_conflicts(log_dir, seq, tmp, entry)
            os.unlink(tmp)
            self.wh._invalidate_state()
            self.wh._maybe_checkpoint(seq)
        finally:
            # clear the active pointer whatever happened: a failed
            # commit's staged files are NOT deleted here — the entry may
            # or may not have linked, so deleting could lose committed
            # data; unlinked files are orphans for vacuum_orphans()
            self._finish()

    def _check_conflicts(self, log_dir: str, next_seq: int, tmp: str,
                         entry: dict | None = None) -> None:
        """First-writer-wins for replace entries: any committed entry in
        (base_seq, next_seq) touching one of this transaction's tables
        means the replace was computed from a stale file set. Appends
        (base_seq is None) always pass — they commute.

        EXCEPT for tables in ``absorb_appends`` (file-granularity
        resolution, the Delta/Iceberg contract): an intervening entry
        that only APPENDS files to such a table is disjoint from this
        replace's read set by construction, so its files are carried
        forward into this entry's manifest (the tmp file is re-written
        in place — it is not linked yet) and the commit proceeds.
        Intervening replaces/DML/drops on the table still conflict, as
        do appends that carry deletion vectors (never produced today —
        defensive).

        The SCHEMA channel is whole-value replace per table, so a
        commit carrying ``schema_updates`` additionally conflicts with
        any intervening entry updating (or dropping) the same table's
        schema — re-committing a payload computed from the older
        declaration would silently drop the concurrent column."""
        if self.base_seq is None or not (self.replaced
                                         or self.schema_updates):
            return
        horizon = self.wh.expire_horizon()
        if self.base_seq < horizon:
            # entries in (base_seq, horizon] were expired: this replace
            # cannot PROVE it didn't race one of them, so fail safe —
            # the caller re-reads (getting a base at/after the horizon)
            # and retries. Only possible when a replace somehow held a
            # base snapshot across an expire_log maintenance window.
            os.unlink(tmp)
            raise CommitConflict(
                f"replace base snapshot {self.base_seq} predates the "
                f"expire horizon {horizon}; conflict window unverifiable "
                "— re-read and retry"
            )
        absorbed_now = False
        for seq in range(self.base_seq + 1, next_seq):
            p = os.path.join(log_dir, f"{seq:09d}.json")
            try:
                with open(p) as f:
                    other = json.load(f)
            except FileNotFoundError:
                continue
            clash = set()
            absorbable: set[str] = set()
            if self.replaced:
                # appended tables commute and never conflict
                touched = set(other.get("tables", {})) & self.replaced
                # a concurrent DROP of a replaced table: committing the
                # replace would silently resurrect it
                touched |= set(other.get("drop_tables", [])) & self.replaced
                if touched and self.absorb_appends:
                    absorb = {t.lower() for t in self.absorb_appends}
                    other_appends = (
                        set(other.get("tables", {}))
                        if other.get("op") == "add"
                        else set(other.get("append_tables", [])))
                    absorbable = {
                        t for t in touched
                        if t in absorb
                        and t in other_appends
                        and t not in other.get("dv", {})
                        and t not in other.get("drop_tables", [])
                    }
                clash |= touched - absorbable
            if self.schema_updates:
                clash |= set(other.get("schema", {})) & \
                    set(self.schema_updates)
                clash |= set(other.get("drop_tables", [])) & \
                    set(self.schema_updates)
            if clash:
                os.unlink(tmp)
                raise CommitConflict(
                    f"concurrent commit {seq:09d} touched {sorted(clash)} "
                    f"after this transaction's base snapshot "
                    f"{self.base_seq}; re-read and retry"
                )
            if absorbable and seq not in self._absorbed_seqs:
                self._absorbed_seqs.add(seq)
                for t in sorted(absorbable):
                    mine = self.pending.setdefault(t, [])
                    have = set(mine)
                    news = [r for r in other["tables"][t]
                            if r not in have]
                    # carried files keep their manifest membership; their
                    # stats carry forward in replay (append-only stats
                    # channel filtered to the live manifest), so pruning
                    # keeps working without restating them here
                    mine.extend(news)
                    if entry is not None and news:
                        entry.setdefault("absorbed", {}).setdefault(
                            t, []).extend(news)
                        # a replace that RESETS the table's schema list
                        # must still cover the carried files' schemas
                        full = entry.get("file_schema", {}).get(t)
                        if full is not None:
                            full.extend(
                                sj for sj in self.wh._footer_schemas(t, news)
                                if sj not in full)
                    absorbed_now = True
        if absorbed_now and entry is not None:
            # the tmp file is not linked yet — re-serialize it with the
            # carried files so the published entry IS the final manifest
            with open(tmp, "w") as f:
                json.dump(entry, f)
                f.flush()
                os.fsync(f.fileno())

    def abort(self) -> None:
        """Discard: delete this transaction's staged files (they were
        never visible)."""
        if self._done:
            return
        for table, files in self.pending.items():
            table_dir = self.wh._path(table)
            for rel in files:
                if f"txn-{self.txnid}-" in os.path.basename(rel):
                    with contextlib.suppress(OSError):
                        os.remove(os.path.join(table_dir, rel))
        shutil.rmtree(self._stage_root, ignore_errors=True)
        self._finish()

    def _finish(self) -> None:
        self._done = True
        shutil.rmtree(self._stage_root, ignore_errors=True)
        # un-published dv sidecars (abort, or a conflict before the
        # rename point) were never visible: remove the dot-staged files
        for staged, _ in self.dv_renames:
            with contextlib.suppress(OSError):
                os.remove(staged)
        self.dv_renames = []
        if self.wh._active_txn is self:
            self.wh._active_txn = None


def _file_stats(path: str) -> dict:
    """Per-file column min/max from the parquet footer (data-skipping
    stats, the Delta/Iceberg manifest-stats shape in pure Python).

    Only JSON-safe scalar types are recorded (int/float/str/bool);
    columns whose footer lacks statistics, or with exotic logical
    types, are simply absent — absence means "never prune on this
    column for this file", so stats can only ever SKIP files proven
    irrelevant, never lose rows. STRUCT leaves are recorded under
    their dotted path (``meta.score`` — parquet keeps leaf-level
    min/max for nested groups too), the Iceberg nested-field
    data-skipping shape; list/map internals (paths through
    ``list``/``element``/``item``/``key_value``) are skipped — their
    leaf stats don't map to a predicate a conjunct can bound.
    Failures are swallowed: stats are an optimization, not a
    correctness dependency, and must never fail a commit."""
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        # footer row count under a reserved key: metadata-only COUNT(*)
        # (``count_rows``) and DESCRIBE DETAIL read it; the [min,max]
        # consumers look up real column names only, so it never collides
        out: dict = {"__rows": md.num_rows}
        dropped: set[str] = set()
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if name in dropped or name in ("__rows", "__bloom"):
                    continue
                if "." in name and any(
                    seg in ("list", "element", "item", "key_value")
                    for seg in name.split(".")
                ):
                    # list/map internals: no boundable predicate shape
                    continue
                st = col.statistics
                if st is None or not st.has_min_max:
                    dropped.add(name)
                    out.pop(name, None)
                    continue
                try:
                    # per-column guard: pyarrow raises
                    # ArrowNotImplementedError extracting min/max for
                    # some physical types (e.g. wide decimals) — that
                    # must drop THIS column only, not (as it silently
                    # did pre-round-6, via the outer except) every
                    # stat of every column in the file
                    lo, hi = st.min, st.max
                except Exception:
                    dropped.add(name)
                    out.pop(name, None)
                    continue
                # timestamps/dates as ISO strings: JSON-safe, and
                # lexicographic order == chronological order for a
                # fixed format, so the string comparator in
                # read(prune=...) prunes time bands correctly (callers
                # pass datetime.isoformat() bounds)
                if isinstance(lo, (datetime.datetime, datetime.date)):
                    lo = lo.isoformat()
                if isinstance(hi, (datetime.datetime, datetime.date)):
                    hi = hi.isoformat()
                if not all(isinstance(v, (int, float, str, bool)) for v in (lo, hi)):
                    dropped.add(name)
                    out.pop(name, None)
                    continue
                if name in out:
                    out[name] = [min(out[name][0], lo), max(out[name][1], hi)]
                else:
                    out[name] = [lo, hi]
        return out
    except Exception:
        return {}


def _file_may_match(rel: str, fs: dict | None, prune: dict,
                    bloom_pos: dict | None = None) -> bool:
    """False only when the file PROVABLY contains no row within the
    pruned ``{col: (lo, hi)}`` bounds: its recorded footer [min, max]
    for a pruned column is disjoint from [lo, hi], or a hive partition
    value in its relpath falls outside STRING bounds. Partition-path
    comparison is raw-lexicographic, which equals natural order ONLY
    for fixed-width encodings (ISO dates, zero-padded keys) — so it is
    applied only when the value and every bound share one width
    (``'9' > '10'`` would otherwise prune a matching file, and this
    helper also picks the DML rewrite set where a wrong prune means
    rows silently survive a DELETE). Non-string bounds never prune on
    partition values. Missing stats or partition keys keep the file:
    pruning is a strict superset contract, the caller always applies
    its own row filter."""
    parts = dict(_partition_pairs_of(rel))
    for col, (lo, hi) in prune.items():
        v = parts.get(col)
        if v is not None and all(
            b is None or isinstance(b, str) for b in (lo, hi)
        ):
            widths = {len(v)} | {len(b) for b in (lo, hi) if b is not None}
            if len(widths) == 1 and (
                (hi is not None and v > hi) or (lo is not None and v < lo)
            ):
                return False
        rng = (fs or {}).get(col)
        if rng is not None:
            try:
                if (hi is not None and rng[0] > hi) or (
                    lo is not None and rng[1] < lo
                ):
                    return False
            except TypeError:
                pass  # bound/stat type mismatch (e.g. a string bound
                # against numeric stats): cannot prove disjoint — keep
    # Bloom check (point lookups): ``bloom_pos`` maps col -> (m, the k
    # bit positions of the probed value) (computed once per query by
    # ``Warehouse._bloom_positions`` with the SAME Spark hash exprs the
    # writer used). Any unset bit proves the file never saw the value.
    # Files without a bitset for the column (pre-config files) are
    # kept, and so is any blob whose size disagrees with the probing
    # config's ``m`` (a bitset built under an older config: probing it
    # with new-m positions would crash or — worse — silently
    # false-prune) — strict superset contract, like missing stats.
    if bloom_pos:
        bl = (fs or {}).get("__bloom") or {}
        for col, (m, ps) in bloom_pos.items():
            blob = bl.get(col)
            if not blob:
                continue
            bits = base64.b64decode(blob)
            if len(bits) * 8 != m:
                continue  # stale-config bitset: treat as missing stats
            if any(not (bits[p >> 3] >> (p & 7)) & 1 for p in ps):
                return False
    return True


def _basename_col():
    """Each row's source-file basename (txn file names are unique per
    table, so the basename identifies the file across hive subdirs)."""
    return F.element_at(F.split(F.input_file_name(), "/"), -1)


def _bloom_canonical(col, type_str: str | None, ts_micros: bool):
    """The canonical STRING a bloom hash sees for a value — the same
    expression on the write side (over the column) and the probe side
    (over a literal cast to the column's recorded type), so positions
    match by construction. ``ts_micros`` (configs written from round 11
    on record ``ts: micros``) hashes TIMESTAMP columns via
    ``unix_micros`` — an absolute-instant integer — instead of
    ``cast(string)``, whose rendering depends on
    ``spark.sql.session.timeZone`` and would silently false-prune for
    readers in a different session timezone. Legacy configs keep the
    cast(string) form their existing bitsets were built with."""
    if type_str:
        col = col.cast(type_str)
    if ts_micros and type_str == "timestamp":
        return F.unix_micros(col).cast("string")
    return col.cast("string")


def _lit_value(e):
    """Python value of a Catalyst Literal, in the representation the
    manifest stats store: strings as str, ints/floats native, dates as
    ISO strings (stats record dates via isoformat, and fixed-width ISO
    keeps lexicographic == chronological). Unsupported literal types
    (decimal, timestamp, null, binary) raise — the caller skips the
    term, which only costs pruning, never correctness."""
    import datetime as _dt

    v = e.value()
    if v is None:
        raise ValueError("null literal")
    dt = e.dataType().getClass().getSimpleName().rstrip("$")
    if dt == "StringType":
        return str(v)
    if dt in ("IntegerType", "LongType", "ShortType", "ByteType"):
        return int(str(v))
    if dt in ("DoubleType", "FloatType"):
        return float(str(v))
    if dt == "DateType":  # stored as days since epoch
        return (_dt.date(1970, 1, 1)
                + _dt.timedelta(days=int(str(v)))).isoformat()
    raise ValueError(f"unsupported literal type {dt}")


def derive_prune_bounds(spark, condition,
                        struct_cols: set | None = None) -> dict:
    """Best-effort ``{col: (lo, hi)}`` file-skipping bounds implied by a
    DML predicate — the Delta-style partition/stats pruning derivation
    that removes the "caller must hand a NECESSARY condition" footgun:
    every returned bound comes from a TOP-LEVEL conjunct of the
    predicate (``col op literal`` / ``BETWEEN`` / ``IN``), so a row
    matching the predicate always lies inside the bounds. A top-level
    OR conjunct whose every disjunct is a recognized simple term on the
    SAME column contributes the union interval (``dt = X OR dt = Y`` →
    [min, max] — still necessary). Anything else not recognized
    (mixed-column OR, NOT, casts, column-vs-column, struct fields,
    unsupported literal types) contributes nothing — the result stays
    necessary, just less sharp. Returns {} when nothing can be derived
    (callers then scan every candidate file; correctness never depends
    on this).

    Walks the UNRESOLVED Catalyst tree (py4j): a SQL string through the
    session parser, a Column through ``SparkSession.expression``. Any
    introspection failure degrades to {}."""
    _CMP = {"EqualTo": "eq", "EqualNullSafe": "eq",
            "GreaterThan": "gt", "GreaterThanOrEqual": "gt",
            "LessThan": "lt", "LessThanOrEqual": "lt",
            "=": "eq", "<=>": "eq", ">": "gt", ">=": "gt",
            "<": "lt", "<=": "lt"}

    def _children(e):
        out, it = [], e.children().iterator()
        while it.hasNext():
            out.append(it.next())
        return out

    def _cls(e):
        return e.getClass().getSimpleName()

    def _fn_name(e):
        # UnresolvedFunction (the Column-API form): last name part
        parts = e.nameParts()
        return str(parts.last())

    def _attr(e):
        if _cls(e) != "UnresolvedAttribute":
            raise ValueError("not an attribute")
        parts = e.nameParts()
        if parts.length() == 2 and struct_cols and \
                str(parts.apply(0)).lower() in struct_cols:
            # struct-LEAF reference (s.x where the caller declared s a
            # struct column of the target table): bounds key the dotted
            # path — exactly the key footer stats record for nested
            # leaves, the Iceberg nested-field data-skipping shape. The
            # caller-supplied set is what makes this unambiguous: a
            # table-alias-qualified t.x can only collide if the table
            # ALSO has a struct column named t, in which case Spark
            # itself would resolve s.x to the struct field.
            return (str(parts.apply(0)) + "." + str(parts.apply(1))
                    ).lower()
        if parts.length() != 1:
            # qualified (t.x) or struct-field (s.x) reference: its LAST
            # part may collide with an unrelated top-level column that
            # has stats or is a partition key, and a bound attributed
            # there would NOT be a necessary condition — skip the term
            # (costs sharpness, never correctness)
            raise ValueError("multi-part attribute: not a top-level column")
        return str(parts.apply(0)).lower()

    def _conjuncts(e):
        kind = _cls(e)
        if kind == "And" or (kind == "UnresolvedFunction"
                             and _fn_name(e).lower() == "and"):
            l, r = _children(e)
            return _conjuncts(l) + _conjuncts(r)
        return [e]

    def _disjuncts(e):
        kind = _cls(e)
        if kind == "Or" or (kind == "UnresolvedFunction"
                            and _fn_name(e).lower() == "or"):
            l, r = _children(e)
            return _disjuncts(l) + _disjuncts(r)
        return [e]

    def _term(e):
        """(col, lo, hi) for one conjunct, or None when unrecognized."""
        kind = _cls(e)
        if kind == "Or" or (kind == "UnresolvedFunction"
                            and _fn_name(e).lower() == "or"):
            # a top-level OR whose every disjunct bounds the SAME column
            # contributes the union interval — still a necessary
            # condition (common shape: dt = X OR dt = Y). Any disjunct
            # that is unrecognized, compound, or bounds a different
            # column poisons the whole term (None), never the bounds.
            terms = []
            for d in _disjuncts(e):
                try:
                    t = _term(d)
                except Exception:
                    return None
                if t is None or (terms and t[0] != terms[0][0]):
                    return None
                terms.append(t)
            los = [t[1] for t in terms]
            his = [t[2] for t in terms]
            lo = None if any(v is None for v in los) else min(los)
            hi = None if any(v is None for v in his) else max(his)
            if lo is None and hi is None:
                return None
            return (terms[0][0], lo, hi)
        op = None
        if kind in _CMP:
            op = _CMP[kind]
        elif kind == "UnresolvedFunction" and _fn_name(e) in _CMP:
            op = _CMP[_fn_name(e)]
        elif kind in ("In",) or (kind == "UnresolvedFunction"
                                 and _fn_name(e).lower() == "in"):
            ch = _children(e)
            col = _attr(ch[0])
            vals = [_lit_value(v) for v in ch[1:]]
            if not vals:
                return None
            return (col, min(vals), max(vals))
        elif kind == "UnresolvedFunction" and _fn_name(e).lower() == "between":
            ch = _children(e)
            if len(ch) == 3:
                return (_attr(ch[0]), _lit_value(ch[1]), _lit_value(ch[2]))
            return None
        if op is None:
            return None
        l, r = _children(e)
        if _cls(l) == "UnresolvedAttribute" and _cls(r) == "Literal":
            col, v, reversed_ = _attr(l), _lit_value(r), False
        elif _cls(r) == "UnresolvedAttribute" and _cls(l) == "Literal":
            col, v, reversed_ = _attr(r), _lit_value(l), True
        else:
            return None
        if op == "eq":
            return (col, v, v)
        if (op == "gt") != reversed_:   # col > v  (or v < col)
            return (col, v, None)
        return (col, None, v)           # col < v  (or v > col)

    try:
        js = spark._jsparkSession
        if isinstance(condition, str):
            root = js.sessionState().sqlParser().parseExpression(condition)
        else:
            root = js.expression(condition._jc)
        bounds: dict = {}
        for t in _conjuncts(root):
            try:
                term = _term(t)
            except Exception:
                term = None
            if term is None:
                continue
            col, lo, hi = term
            if col in bounds:
                plo, phi = bounds[col]
                lo = plo if lo is None else lo if plo is None else max(plo, lo)
                hi = phi if hi is None else hi if phi is None else min(phi, hi)
            bounds[col] = (lo, hi)
        return bounds
    except Exception:
        return {}


def _data_files(table_dir: str) -> list[str]:
    """Relative paths of committed-by-layout (non-txn) data files."""
    out = []
    if not os.path.isdir(table_dir):
        return out
    for dirpath, dirnames, fnames in os.walk(table_dir):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        for fn in sorted(fnames):
            if (
                fn.endswith(".parquet")
                and not fn.startswith((".", "_", "txn-"))
            ):
                rel_dir = os.path.relpath(dirpath, table_dir)
                out.append(os.path.join(rel_dir, fn) if rel_dir != "." else fn)
    return out


_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every level nullable — what Spark resolves a parquet
    scan's data schema to, whatever nullability the writer recorded."""
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
            for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _footer_schema_json(path: str) -> str:
    """The Spark schema of one parquet data file, as canonical JSON, read
    from its footer on the driver (pyarrow; no Spark job). Spark-written
    files carry their exact Spark schema in the footer's row metadata;
    other writers (the native stream sink's Arrow batches) convert from
    the Arrow schema the way the stream source resolves it."""
    import pyarrow.parquet as pq

    meta = pq.read_metadata(path).metadata or {}
    raw = meta.get(_SPARK_ROW_METADATA)
    if raw:
        schema = T.StructType.fromJson(json.loads(raw))
    else:
        from pyspark.sql.pandas.types import from_arrow_schema

        schema = from_arrow_schema(pq.read_schema(path),
                                   prefer_timestamp_ntz=True)
    return _nullable(schema).json()


def _merge_types(a: T.DataType, b: T.DataType) -> T.DataType:
    """Spark's ``mergeSchema`` footer merge on the driver: structs union
    their fields by case-insensitive name (left order, then right's new
    fields), arrays and maps merge element-wise, and any other type
    pair must be equal."""
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        right = {f.name.lower(): f for f in b.fields}
        fields = []
        for f in a.fields:
            g = right.pop(f.name.lower(), None)
            fields.append(f if g is None else T.StructField(
                f.name, _merge_types(f.dataType, g.dataType), True,
                {**g.metadata, **f.metadata}))
        return T.StructType(fields + [g for g in b.fields
                                      if g.name.lower() in right])
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(_merge_types(a.elementType, b.elementType), True)
    if isinstance(a, T.MapType) and isinstance(b, T.MapType):
        return T.MapType(_merge_types(a.keyType, b.keyType),
                         _merge_types(a.valueType, b.valueType), True)
    if a == b:
        return a
    raise ValueError(f"cannot merge incompatible types {a.simpleString()} "
                     f"and {b.simpleString()}")


@functools.lru_cache(maxsize=64)
def _merged_schema(sjs: tuple[str, ...]) -> T.StructType:
    """The schema JSONs ``sjs`` parsed and merged in order. Cached and
    shared between callers: never mutate the result."""
    return functools.reduce(
        _merge_types, [T.StructType.fromJson(json.loads(sj)) for sj in sjs])


def _physical(schema: T.StructType, phys: dict) -> T.StructType:
    """``schema`` with column-mapped fields renamed to the PHYSICAL
    parquet names their bytes live under."""
    return T.StructType([
        T.StructField(phys.get(f.name.lower(), f.name), f.dataType,
                      f.nullable, f.metadata)
        for f in schema.fields])


def _partition_pairs_of(rel: str) -> list[tuple[str, str]]:
    """``dt=2021-03-01/part-0.parquet`` -> ``[("dt", "2021-03-01")]`` —
    the hive key=value directories of a committed relpath (raw string
    values, the form ``compact(where=...)`` matches against)."""
    pairs = []
    for d in rel.split("/")[:-1]:
        if "=" in d:
            k, _, v = d.partition("=")
            pairs.append((k, v))
    return pairs


_SPEC_TRANSFORM_RE = re.compile(
    r"^\s*(days?|months?|hours?|bucket|truncate)\s*\(\s*([^)]*?)\s*\)\s*$",
    re.IGNORECASE,
)


def _parse_spec_entry(entry: str) -> tuple[str, int | None, str, str]:
    """Parse a partition-spec entry into ``(kind, param, base_col,
    derived_col)`` — Iceberg-style HIDDEN partition transforms (r12
    verdict item #3). Identity entries (plain column names) return
    ``("identity", None, col, col)``. Transform entries derive a
    hidden hive path key from a base data column:

    - ``days(ts)``   -> ``ts_day``   (ISO date string, fixed width)
    - ``months(ts)`` -> ``ts_month`` (``yyyy-MM``)
    - ``hours(ts)``  -> ``ts_hour``  (``yyyy-MM-dd-HH``)
    - ``bucket(n, col)``   -> ``col_bucket`` (zero-padded
      ``pmod(xxhash64(col), n)`` — the hash is Spark's xxhash64 over
      the column's NATIVE type; probe literals must cast to it)
    - ``truncate(k, col)`` -> ``col_trunc`` (string prefix of length
      k, or ``v - pmod(v, k)`` for integers — the Iceberg semantics)

    The derived column is materialized only at WRITE time (the base
    column's data stays in the files) and is dropped by declared-schema
    reads: predicates on the BASE column keep pruning via
    ``_expand_transform_prune`` without the reader knowing the layout.
    Day/month/hour evaluate in the session timezone — keep writers and
    readers on one timezone (the pipeline pins UTC)."""
    m = _SPEC_TRANSFORM_RE.match(entry)
    if not m:
        return ("identity", None, entry, entry)
    fn = m.group(1).lower()
    fn = {"day": "days", "month": "months", "hour": "hours"}.get(fn, fn)
    args = [a.strip() for a in m.group(2).split(",") if a.strip()]
    if fn in ("days", "months", "hours"):
        if len(args) != 1 or not args[0]:
            raise ValueError(
                f"partition transform {entry!r}: expected {fn}(col)")
        return (fn, None, args[0], f"{args[0]}_{fn[:-1]}")
    if len(args) != 2 or not args[0].isdigit() or int(args[0]) <= 0:
        raise ValueError(
            f"partition transform {entry!r}: expected {fn}(N, col) "
            "with N a positive integer")
    n, base = int(args[0]), args[1]
    suffix = "bucket" if fn == "bucket" else "trunc"
    return (fn, n, base, f"{base}_{suffix}")


def _spec_transform_expr(df: DataFrame, kind: str, param: int | None,
                         base: str):
    """The Column computing a transform's hidden partition value from
    the base column, resolved against ``df`` (used identically by the
    write path and maintenance repartitioning, so layout and file
    sizing always agree)."""
    c = F.col(base)
    if kind == "identity":
        return c
    if kind == "days":
        return F.to_date(c)
    if kind == "months":
        return F.date_format(c, "yyyy-MM")
    if kind == "hours":
        return F.date_format(c, "yyyy-MM-dd-HH")
    if kind == "bucket":
        width = len(str(param - 1))
        return F.lpad(
            F.pmod(F.xxhash64(c), F.lit(param)).cast("string"),
            width, "0")
    if kind == "truncate":
        dt = dict((n.lower(), t) for n, t in df.dtypes).get(base.lower())
        if dt == "string":
            return F.substring(c, 1, param)
        if dt in ("tinyint", "smallint", "int", "bigint"):
            return c - F.pmod(c, F.lit(param))
        raise ValueError(
            f"truncate({param}, {base}): base column must be string or "
            f"integral, got {dt}")
    raise ValueError(f"unknown partition transform kind {kind!r}")


def _transform_bound(kind: str, param: int | None, lo, hi):
    """Map a NECESSARY [lo, hi] bound on a transform's BASE column to a
    necessary bound on its derived path value, or None when no sound
    mapping exists. days/months/hours and truncate are order-
    preserving, so intervals map to intervals; bucket is not — only
    point bounds map (handled by the caller, which needs the column
    type and a Spark hash job). Bounds arrive as the manifest-stat
    representation (ISO strings for dates/timestamps)."""
    if kind in ("days", "months", "hours"):
        vals = []
        for i, v in enumerate((lo, hi)):
            if v is None:  # one-sided bound: the open side stays open
                vals.append(None)
                continue
            if not isinstance(v, str) or len(v) < 10 or \
                    v[4] != "-" or v[7] != "-":
                return None  # not an ISO date/timestamp rendering
            if kind == "days":
                vals.append(v[:10])
            elif kind == "months":
                vals.append(v[:7])
            else:  # hours
                if len(v) >= 13:  # timestamp-ish: yyyy-MM-dd?HH...
                    vals.append(v[:10] + "-" + v[11:13])
                else:  # date-only bound: span the day's hours
                    vals.append(v[:10] + ("-00" if i == 0 else "-23"))
        return tuple(vals)
    if kind == "truncate":
        vals = []
        for v in (lo, hi):
            if v is None:
                vals.append(None)
            elif isinstance(v, str):
                vals.append(v[:param])
            elif isinstance(v, int) and not isinstance(v, bool):
                vals.append(v - v % param)
            else:
                return None
        return tuple(vals)
    return None


def _next_seq(log_dir: str) -> int:
    """Next unclaimed sequence number. Checkpoint files count too:
    after ``expire_log`` folds old entries into a checkpoint and
    deletes them, the checkpoint seq is the floor — reusing an expired
    seq would commit BELOW the surviving checkpoint, and replay (which
    starts at the newest checkpoint) would silently skip it."""
    seqs = []
    for fn in os.listdir(log_dir):
        if fn.endswith(".checkpoint.json"):
            s = fn[: -len(".checkpoint.json")]
        elif fn.endswith(".json"):
            s = fn[:-5]
        else:
            continue
        if s.isdigit():
            seqs.append(int(s))
    return (max(seqs) + 1) if seqs else 1


class Warehouse:
    def __init__(self, spark: SparkSession, root: str,
                 checkpoint_interval: int = 32,
                 expire_keep: int | None = None,
                 dv_max_rows_total: int | None = 500_000,
                 expire_keep_hours: float | None = None):
        """``checkpoint_interval``: every N commits the committer folds
        the replayed log state (file set + stats + retention per table)
        into one ``<seq>.checkpoint.json`` — readers then replay
        checkpoint + suffix instead of every entry since table birth.
        At one commit per streaming microbatch the log reaches thousands
        of entries within days; without checkpoints every read would
        list AND json-parse all of them (the metadata-plane small-files
        problem). 0 disables automatic checkpoints (``write_checkpoint``
        stays available).

        ``expire_keep``: OPT-IN auto-expiry cadence for unattended
        committers (streaming sinks): at every checkpoint fold, also
        ``expire_log(keep_entries=expire_keep)`` — the log DIRECTORY
        stays bounded without a separate maintenance job. Off by
        default because expiry narrows time travel (``read_at`` below
        the horizon raises ``SnapshotExpired``); pick a value larger
        than any consumer's restart lag (a tailing stream whose offset
        falls behind the horizon must re-snapshot).

        ``dv_max_rows_total``: GLOBAL per-table deletion-vector budget
        (the per-commit ``dv_max_rows`` bounds one DML's sidecar; N
        successive dv commits before a compact would still accumulate
        an N× union that every read of covered files broadcasts). A dv
        DML that pushes the table's LIVE dv rows past this budget
        auto-folds afterwards (``fold_dv``: rewrite just the covered
        files, vectors leave the map), so the per-read broadcast stays
        bounded by construction. None disables (caller owns the
        risk)."""
        self.spark = spark
        self.root = root
        self.checkpoint_interval = checkpoint_interval
        if expire_keep is not None and expire_keep < 1:
            raise ValueError("expire_keep must be >= 1 (or None)")
        if expire_keep_hours is not None and expire_keep_hours < 0:
            raise ValueError("expire_keep_hours must be >= 0 (or None)")
        self.expire_keep = expire_keep
        # AGE-based sibling of expire_keep: at every checkpoint fold,
        # also expire entries older than this many hours (the newest
        # entry always survives). Composable with expire_keep; both
        # are opt-in for the same reason (expiry narrows time travel).
        self.expire_keep_hours = expire_keep_hours
        self.dv_max_rows_total = dv_max_rows_total
        self._active_txn: Transaction | None = None
        # entries/checkpoints are immutable once linked -> plain caches,
        # but BOUNDED: a long-lived reader over a microbatch-commit log
        # must not hold one dict row per commit forever.
        self._entry_cache: "collections.OrderedDict[int, dict]" = (
            collections.OrderedDict()
        )
        self._ckpt_cache: "collections.OrderedDict[int, dict]" = (
            collections.OrderedDict()
        )
        # lazily-loaded checkpoint stats SIDECARS (path -> {table:
        # {rel: stats}}): only stats consumers (pruning, count_rows,
        # checkpoint folds) pay the parse; plain replay never does
        self._ckpt_stats_cache: "collections.OrderedDict[str, dict]" = (
            collections.OrderedDict()
        )
        # (latest_entry_seq, replayed state) for at=None reads: repeat
        # reads in one session parse only entries newer than the cache
        self._state_cache: tuple[int, dict] | None = None
        # observability: entry JSONs parsed by the most recent cold
        # replay (the number checkpointing bounds; asserted in tests)
        self.last_replay_parsed = 0
        os.makedirs(root, exist_ok=True)

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table.lower())

    # -- commit-log transactions --------------------------------------------

    def begin(self) -> Transaction:
        """Open a multi-table transaction; every append until commit()
        routes through it. Single active transaction per Warehouse."""
        if self._active_txn is not None and not self._active_txn._done:
            raise RuntimeError("a transaction is already active on this warehouse")
        t = Transaction(self)
        self._active_txn = t
        return t

    @contextlib.contextmanager
    def transaction(self):
        """``with wh.transaction():`` — commit on success, abort (and
        re-raise) on exception. Appends inside the block need no code
        changes; ``append()`` routes through the open transaction."""
        t = self.begin()
        try:
            yield t
        except BaseException:
            t.abort()
            raise
        t.commit()

    def _manifest_dir(self) -> str:
        return os.path.join(self.root, "_commitlog")

    _ENTRY_CACHE_MAX = 512
    _CKPT_CACHE_MAX = 4

    def _list_log(self) -> tuple[list[int], list[int]]:
        """One directory listing -> (entry seqs, checkpoint seqs), both
        sorted. The listing itself is O(dir) — cheap; what checkpoints
        bound is the PARSING (open + json.load per entry)."""
        d = self._manifest_dir()
        if not os.path.isdir(d):
            return [], []
        entries, ckpts = [], []
        for fn in os.listdir(d):
            if fn.endswith(".checkpoint.json"):
                s = fn[: -len(".checkpoint.json")]
                if s.isdigit():
                    ckpts.append(int(s))
            elif fn.endswith(".json") and fn[:-5].isdigit():
                entries.append(int(fn[:-5]))
        return sorted(entries), sorted(ckpts)

    def _load_entry(self, seq: int) -> dict | None:
        entry = self._entry_cache.get(seq)
        if entry is not None:
            self._entry_cache.move_to_end(seq)
            return entry
        try:
            with open(os.path.join(self._manifest_dir(), f"{seq:09d}.json")) as f:
                entry = json.load(f)
        except FileNotFoundError:
            return None
        self._entry_cache[seq] = entry
        while len(self._entry_cache) > self._ENTRY_CACHE_MAX:
            self._entry_cache.popitem(last=False)
        return entry

    def _load_checkpoint(self, seq: int) -> dict | None:
        ck = self._ckpt_cache.get(seq)
        if ck is not None:
            self._ckpt_cache.move_to_end(seq)
            return ck
        p = os.path.join(self._manifest_dir(), f"{seq:09d}.checkpoint.json")
        try:
            with open(p) as f:
                ck = json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None  # torn/missing checkpoint: caller falls back
        self._ckpt_cache[seq] = ck
        while len(self._ckpt_cache) > self._CKPT_CACHE_MAX:
            self._ckpt_cache.popitem(last=False)
        return ck

    def _ckpt_stats_path(self, seq: int) -> str:
        return os.path.join(self._manifest_dir(),
                            f"{seq:09d}.checkpoint.stats.parquet")

    _CKPT_STATS_CACHE_MAX_ROWS = 2_000_000

    def _ckpt_stats(self, path: str, table: str) -> dict:
        """ONE table's per-file stats from a checkpoint's columnar
        sidecar, parsed lazily (driver-side pyarrow — no Spark job, no
        O(files) JSON) and cached per (sidecar, table). The sidecar is
        written with one row group per table (rows sorted by table), so
        the ``table = t`` read filter prunes to the queried table's row
        group via row-group statistics — a stats lookup is O(queried
        table), never O(all tables × all files). Legacy monolithic
        sidecars (single row group) still read correctly: the filter
        then materializes the one row group and selects exactly the
        queried table's rows. Unreadable sidecar degrades to {}: stats
        are an optimization (pruning sharpness, metadata counts fall
        back to real reads), never a correctness dependency.

        The cache is bounded by total cached ROWS, not entry count —
        one million-file table must not pin N others in memory."""
        key = (path, table)
        cached = self._ckpt_stats_cache.get(key)
        if cached is not None:
            self._ckpt_stats_cache.move_to_end(key)
            return cached
        out: dict = {}
        try:
            import pyarrow.parquet as pq

            tb = pq.read_table(path, filters=[("table", "=", table)])
            for rel, sj in zip(tb.column("rel").to_pylist(),
                               tb.column("stats").to_pylist()):
                out[rel] = json.loads(sj)
        except Exception:  # noqa: BLE001 — degrade to no stats
            out = {}
        self._ckpt_stats_cache[key] = out
        rows = sum(len(v) for v in self._ckpt_stats_cache.values())
        while rows > self._CKPT_STATS_CACHE_MAX_ROWS and \
                len(self._ckpt_stats_cache) > 1:
            _, ev = self._ckpt_stats_cache.popitem(last=False)
            rows -= len(ev)
        return out

    def _merged_stats(self, state: dict, table: str) -> dict:
        """The table's full per-file stats as of ``state``: the loaded
        checkpoint's sidecar (lazy) overlaid with the entry-suffix
        deltas. May contain relpaths no longer in the live manifest
        (append-only channel) — callers filter by liveness."""
        out: dict = {}
        spath = state.get("stats_ckpt")
        if spath:
            out.update(self._ckpt_stats(spath, table))
        out.update(state["stats"].get(table, {}))
        return out

    def _invalidate_state(self) -> None:
        self._state_cache = None

    @staticmethod
    def _apply_entry(state: dict, seq: int, entry: dict) -> None:
        appends = set(entry.get("append_tables", []))
        pb = entry.get("partition_by", {})
        dv = entry.get("dv", {})
        dvr = entry.get("dv_rows", {})
        for table, files in entry.get("tables", {}).items():
            s = entry.get("stats", {}).get(table, {})
            if entry.get("op") == "replace" and table not in appends:
                state["tables"][table] = list(files)
                # stats are APPEND-ONLY state: a relpath's stats never
                # change (data files are immutable), so a replace only
                # OVERLAYS the stats it carries for its new files —
                # files it carried forward keep their previously-known
                # stats without the entry restating them (the manifest
                # scale-out: a DML replace entry is O(files touched)
                # JSON, not O(table)). Stats of files that left the
                # manifest linger until the next checkpoint filters to
                # live files; every consumer looks up by live relpath.
                state["stats"].setdefault(table, {}).update(s)
                # a replace REWRITES the layout: the spec it recorded is
                # the table's layout now; none recorded = flat rewrite
                if table in pb:
                    state["partition_by"][table] = list(pb[table])
                else:
                    state["partition_by"].pop(table, None)
                # same contract for deletion vectors: a replace entry
                # carries the table's FULL surviving dv map (a rewrite
                # that folded every dv simply records none)
                if table in dv:
                    state["dv"][table] = {
                        k: list(v) for k, v in dv[table].items()
                    }
                else:
                    state["dv"].pop(table, None)
                if table in dvr:
                    state["dv_rows"][table] = dict(dvr[table])
                else:
                    state["dv_rows"].pop(table, None)
                if entry.get("vacuum"):
                    state["retention"][table] = seq
            else:
                state["tables"].setdefault(table, []).extend(files)
                state["stats"].setdefault(table, {}).update(s)
                if table in pb:
                    state["partition_by"][table] = list(pb[table])
                if table in dv:
                    state["dv"].setdefault(table, {}).update(
                        {k: list(v) for k, v in dv[table].items()}
                    )
                if table in dvr:
                    state["dv_rows"].setdefault(table, {}).update(
                        dvr[table])
        # partition-spec EVOLUTION (set_partition_spec): a metadata-only
        # entry carries partition_by for a table with no file changes —
        # the spec applies to future writes while existing files keep
        # their recorded layout (reads and pruning resolve layout
        # per-file from the relpath, Iceberg's spec-evolution contract)
        for table, cols in pb.items():
            if table not in entry.get("tables", {}):
                state["partition_by"][table] = list(cols)
        # constraints are TABLE METADATA, not file-set state: applied in
        # log order on a channel of their own, never reset by replaces
        # (a compact/cluster/DML rewrite keeps the table's constraints)
        for table, spec in entry.get("constraints", {}).items():
            cur = state["constraints"].setdefault(table, {})
            cur.update(spec.get("add", {}))
            for nm in spec.get("drop", []):
                cur.pop(nm, None)
            if not cur:
                state["constraints"].pop(table, None)
        # declared schemas (ALTER TABLE ADD COLUMNS): same metadata
        # contract — log order, replace-proof
        for table, sj in entry.get("schema", {}).items():
            state["schema"][table] = sj
        # data-file schemas (``Transaction._file_schema_entry``): a
        # replaced table's list is whole-value, anything else unions in
        for table, sjs in entry.get("file_schema", {}).items():
            if entry.get("op") == "replace" and table not in appends:
                state["file_schema"][table] = list(sjs)
            else:
                cur = state["file_schema"].setdefault(table, [])
                cur.extend(sj for sj in sjs if sj not in cur)
        for table, cfg in entry.get("bloom_cols", {}).items():
            state["bloom_cols"][table] = cfg
        # DROP TABLE: the table leaves every catalog channel; its
        # retention advances to the drop commit (read_at below it
        # raises the typed SnapshotVacuumed — the files are reclaimed)
        for table in entry.get("drop_tables", []):
            for key in ("tables", "stats", "partition_by", "dv",
                        "dv_rows", "constraints", "schema",
                        "file_schema", "bloom_cols"):
                state[key].pop(table, None)
            state["retention"][table] = seq

    def _replay_state(self, at: int | None = None) -> dict:
        """Replay the commit log into {tables: {t: [files]}, stats,
        retention} as of ``at`` (inclusive; None = head). Reads start
        from the newest usable checkpoint <= at and parse only the entry
        SUFFIX after it — O(checkpoint_interval) parses instead of
        O(total commits). A torn/unreadable checkpoint falls back to the
        next older one, then to full replay (checkpoints are an
        optimization, never a correctness dependency).

        An entry LISTED but then missing at parse time means a
        concurrent ``expire_log`` folded it into a checkpoint between
        our listing and the open — silently skipping it would drop its
        files from the replayed state. One fresh re-listing makes the
        new checkpoint visible; a second miss is real log corruption
        and raises rather than returning wrong table contents. The
        expired-gap race (an unusable checkpoint whose folded entries
        were expired) gets its OWN one-re-list budget, so hitting both
        races back-to-back still recovers."""
        seen_gap = seen_missing = False
        for _ in range(3):
            entry_seqs, ckpt_seqs = self._list_log()
            if at is not None:
                entry_seqs = [s for s in entry_seqs if s <= at]
                ckpt_seqs = [s for s in ckpt_seqs if s <= at]
            head = entry_seqs[-1] if entry_seqs else 0
            if at is None and self._state_cache is not None and \
                    self._state_cache[0] == head:
                return self._state_cache[1]
            state: dict = {"tables": {}, "stats": {}, "retention": {},
                           "partition_by": {}, "dv": {}, "dv_rows": {},
                           "constraints": {}, "schema": {},
                           "file_schema": {}, "bloom_cols": {},
                           "stats_ckpt": None}
            start = 0
            skipped = 0  # newest checkpoint seq passed over as unusable
            for cseq in reversed(ckpt_seqs):
                ck = self._load_checkpoint(cseq)
                if ck is None:
                    skipped = max(skipped, cseq)
                    continue
                if ck.get("stats_file"):
                    # per-file stats live in a columnar SIDECAR beside
                    # the JSON checkpoint (loaded LAZILY, only by stats
                    # consumers — replay itself stays O(suffix) JSON).
                    # A checkpoint whose sidecar is missing (torn
                    # write) is unusable: fall back to an older one.
                    spath = self._ckpt_stats_path(cseq)
                    if not os.path.isfile(spath):
                        skipped = max(skipped, cseq)
                        continue
                    base_stats: dict = {}
                else:  # legacy checkpoint: stats inline in the JSON
                    spath = None
                    base_stats = {t: dict(v)
                                  for t, v in ck.get("stats", {}).items()}
                state = {
                    "tables": {t: list(v) for t, v in ck.get("tables", {}).items()},
                    "stats": base_stats,
                    "retention": dict(ck.get("retention", {})),
                    "partition_by": {t: list(v) for t, v in
                                     ck.get("partition_by", {}).items()},
                    "dv": {t: {k: list(f) for k, f in v.items()}
                           for t, v in ck.get("dv", {}).items()},
                    "dv_rows": {t: dict(v) for t, v in
                                ck.get("dv_rows", {}).items()},
                    "constraints": {t: dict(v) for t, v in
                                    ck.get("constraints", {}).items()},
                    "schema": dict(ck.get("schema", {})),
                    "file_schema": {t: list(v) for t, v in
                                    ck.get("file_schema", {}).items()},
                    "bloom_cols": dict(ck.get("bloom_cols", {})),
                    "stats_ckpt": spath,
                }
                start = cseq
                break
            if skipped > start:
                # falling back past an unusable checkpoint is only safe
                # when every entry it folded still exists: expire_log
                # may have deleted entries in (older base, skipped], and
                # replaying without them silently reconstructs STALE
                # state (entry_seqs lists only survivors, so the plain
                # missing-entry guard below never fires for them)
                have = set(entry_seqs)
                gap = [s for s in range(start + 1, skipped + 1)
                       if s not in have]
                if gap:
                    if not seen_gap:
                        # a racing expire_log may have just written the
                        # very checkpoint we found torn: one fresh
                        # re-listing before declaring corruption
                        seen_gap = True
                        continue
                    raise RuntimeError(
                        f"commit log inconsistent: checkpoint "
                        f"{skipped:09d} is unusable (torn or missing "
                        "stats sidecar) and entries "
                        f"{gap[0]:09d}..{gap[-1]:09d} it folded were "
                        "expired — replay from the older base "
                        f"{start:09d} would silently lose their state"
                    )
            parsed = 0
            missing = None
            for seq in entry_seqs:
                if seq <= start:
                    continue
                entry = self._load_entry(seq)
                if entry is None:
                    missing = seq  # raced an expire_log: re-list
                    break
                parsed += 1
                self._apply_entry(state, seq, entry)
            if missing is None:
                self.last_replay_parsed = parsed
                if at is None:
                    self._state_cache = (head, state)
                return state
            if seen_missing:
                raise RuntimeError(
                    f"commit log inconsistent: entry {missing:09d} was "
                    "listed but is unreadable and no checkpoint covers "
                    "it — replayed state would silently lose its files"
                )
            seen_missing = True
        raise RuntimeError(
            "commit log inconsistent: replay could not converge after "
            "re-listing for both concurrent-expiry races"
        )

    def _maybe_checkpoint(self, seq: int) -> None:
        """Called after every commit link: fold state into a checkpoint
        every ``checkpoint_interval`` commits. Best-effort — a
        checkpoint failure must never fail the commit it follows."""
        if not self.checkpoint_interval:
            return
        if seq % self.checkpoint_interval == 0:
            with contextlib.suppress(Exception):
                self.write_checkpoint(seq)
            if self.expire_keep is not None:
                with contextlib.suppress(Exception):
                    self.expire_log(keep_entries=self.expire_keep)
            if self.expire_keep_hours is not None:
                with contextlib.suppress(Exception):
                    self.expire_log(keep_hours=self.expire_keep_hours)

    def write_checkpoint(self, seq: int | None = None) -> int | None:
        """Write ``<seq>.checkpoint.json``: the full replayed state
        (file set + retention per table) as of commit ``seq`` (default:
        the log head). Per-file STATS (min/max, ``__rows``, bloom
        bitsets) go to a columnar SIDECAR
        (``<seq>.checkpoint.stats.parquet``, filtered to live files) —
        at 100× file counts, inline-JSON stats would make the
        checkpoint itself the metadata bottleneck (the Delta
        checkpoint-parquet / Iceberg manifest-file shape), and replay
        should never parse stats it isn't asked for. The sidecar lands
        BEFORE the JSON rename, so a visible checkpoint always has its
        sidecar; a crash in between leaves an unreferenced sidecar a
        later same-seq checkpoint overwrites. Atomic (tmp + rename) and
        DETERMINISTIC from the log prefix, so two committers racing to
        checkpoint the same seq write identical content — last rename
        wins harmlessly. Returns the checkpointed seq, or None for an
        empty log."""
        entry_seqs, _ = self._list_log()
        if not entry_seqs:
            return None
        if seq is None:
            seq = entry_seqs[-1]
        state = self._replay_state(at=seq)
        d = self._manifest_dir()
        # materialize live stats -> sidecar rows (sorted: deterministic)
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pa.schema([("table", pa.string()), ("rel", pa.string()),
                            ("stats", pa.string())])
        stmp = os.path.join(d, f".ckpt-stats-tmp-{uuid.uuid4().hex[:8]}")
        # the fold reads the PREVIOUS sidecar once, whole (every table
        # is about to be rewritten anyway) — per-table filtered reads
        # here would re-open and re-parse the same file N times
        prev: dict = {}
        spath = state.get("stats_ckpt")
        if spath:
            try:
                tb_prev = pq.read_table(spath)
                for t_, rel_, sj_ in zip(
                        tb_prev.column("table").to_pylist(),
                        tb_prev.column("rel").to_pylist(),
                        tb_prev.column("stats").to_pylist()):
                    prev.setdefault(t_, {})[rel_] = json.loads(sj_)
            except Exception:  # noqa: BLE001 — stats are optional
                prev = {}
        # SHARDED BY TABLE: one write_table call per table = at least
        # one row group per table with tight min=max row-group stats on
        # the ``table`` column, so a reader's ``table = t`` filter
        # prunes every other table's row groups — the stats lookup for
        # a 10-file table beside a 10M-file one materializes 10 rows.
        with pq.ParquetWriter(stmp, schema) as w:
            for t in sorted(state["tables"]):
                merged = dict(prev.get(t, {}))
                merged.update(state["stats"].get(t, {}))
                rcol, scol = [], []
                for rel in sorted(state["tables"][t]):
                    s = merged.get(rel)
                    if s is not None:
                        rcol.append(rel)
                        scol.append(json.dumps(s, sort_keys=True))
                if rcol:
                    w.write_table(pa.table({
                        "table": pa.array([t] * len(rcol),
                                          type=pa.string()),
                        "rel": pa.array(rcol, type=pa.string()),
                        "stats": pa.array(scol, type=pa.string()),
                    }, schema=schema))
        os.replace(stmp, self._ckpt_stats_path(seq))
        ck = {"seq": seq, "stats_file": True,
              **{k: v for k, v in state.items()
                 if k not in ("stats", "stats_ckpt", "inferred_schema")}}
        tmp = os.path.join(d, f".ckpt-tmp-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            json.dump(ck, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(d, f"{seq:09d}.checkpoint.json"))
        return seq

    def _latest_seq(self) -> int:
        entry_seqs, _ = self._list_log()
        return entry_seqs[-1] if entry_seqs else 0

    def expire_horizon(self) -> int:
        """Oldest sequence number still replayable: 0 for a never-
        expired log, else the seq of the oldest surviving checkpoint
        when every entry before it was removed by ``expire_log``."""
        entry_seqs, ckpt_seqs = self._list_log()
        if not ckpt_seqs:
            return 0
        oldest_entry = entry_seqs[0] if entry_seqs else None
        oldest_ckpt = ckpt_seqs[0]
        if oldest_entry is not None and oldest_entry <= oldest_ckpt:
            return 0  # pre-checkpoint entries survive: full history intact
        return oldest_ckpt

    def expire_log(self, keep_entries: int = 256,
                   keep_hours: float | None = None) -> int:
        """Bound the commit-log DIRECTORY: fold everything older than
        the newest ``keep_entries`` commits into one checkpoint and
        delete those entry files (plus superseded older checkpoints).
        ``keep_hours`` switches to AGE-based retention (the Delta
        ``RETAIN 168 HOURS`` idiom, riding each entry's recorded
        commit wall clock): everything older than the cutoff expires,
        however many entries that is, and ``keep_entries`` is ignored.
        The newest entry always survives either way.

        Checkpointing already bounds the PARSING cost of a read; the
        per-read ``os.listdir`` is still O(total commits ever), which at
        one commit per streaming microbatch grows without bound — the
        same reason Iceberg has expire_snapshots. After expiring:

        - head reads and time travel at/after the horizon are unchanged
          (the horizon checkpoint carries the full folded state);
        - ``read_at`` below the horizon raises ``SnapshotExpired``;
        - ``snapshots()`` lists only the retained entries;
        - a ``replace`` whose base snapshot predates the horizon can no
          longer prove it didn't race an expired commit, so it raises
          ``CommitConflict`` conservatively (re-read and retry).

        Crash-safe ordering: the checkpoint is written (tmp + fsync +
        rename) BEFORE any entry is unlinked, so a crash mid-expire
        leaves a log that replays identically. Returns the number of
        entry files removed. Single-maintainer operation, same posture
        as ``compact``/``vacuum_orphans``."""
        if keep_entries < 1:
            # 0 would delete EVERY entry file; with nothing but the
            # checkpoint left, a naive next-seq scan could reuse an
            # expired sequence number (committing invisibly below the
            # checkpoint) and expire_horizon would collapse to 0.
            raise ValueError("expire_log requires keep_entries >= 1")
        entry_seqs, ckpt_seqs = self._list_log()
        if keep_hours is not None:
            # AGE-based retention (Delta's ``RETAIN n HOURS``): expire
            # the longest PREFIX of entries older than the cutoff —
            # prefix, not filter, because the horizon must stay a
            # contiguous fold (wall clocks can wobble across
            # committers) — and never the newest entry.
            if keep_hours < 0:
                raise ValueError("expire_log requires keep_hours >= 0")
            cutoff = time.time() - keep_hours * 3600.0
            horizon = 0
            for seq in entry_seqs[:-1]:  # newest entry always survives
                e = self._load_entry(seq)
                if e is None or e.get("ts", float("inf")) >= cutoff:
                    break
                horizon = seq
            if not horizon:
                return 0
        else:
            if len(entry_seqs) <= keep_entries:
                return 0
            horizon = entry_seqs[-keep_entries - 1]  # newest expired seq
        self.write_checkpoint(horizon)
        d = self._manifest_dir()
        removed = 0
        for seq in entry_seqs:
            if seq > horizon:
                break
            with contextlib.suppress(OSError):
                os.remove(os.path.join(d, f"{seq:09d}.json"))
                removed += 1
        for cseq in ckpt_seqs:
            if cseq < horizon:
                with contextlib.suppress(OSError):
                    os.remove(os.path.join(d, f"{cseq:09d}.checkpoint.json"))
                with contextlib.suppress(OSError):
                    os.remove(self._ckpt_stats_path(cseq))
        self._invalidate_state()
        self._entry_cache.clear()
        return removed

    def _manifest_files(self, table: str,
                        at: int | None = None) -> list[str] | None:
        """Committed file relpaths for a TRACKED table; None if the
        table has never appeared in the commit log (legacy reads).
        ``at`` replays the log only through that sequence number — the
        time-travel read (snapshot isolation for free: every commit IS a
        snapshot)."""
        files = self._replay_state(at)["tables"].get(table.lower())
        return None if files is None else list(files)

    def _prune_physical(self, table: str, prune: dict | None,
                        at: int | None = None) -> dict | None:
        """Prune bounds re-keyed by PHYSICAL column names: footer stats
        and bloom bitsets record the physical parquet names, while
        predicates (and the bounds derived from them) speak logical
        names. Identity for tables without a rename/re-add mapping.

        Also EXPANDS hidden-partitioning bounds (r12 verdict item #3):
        when the table's spec carries transforms, a bound on the BASE
        column derives the corresponding bound on the derived hive
        path key (``transaction_date`` band -> ``transaction_date_day``
        band), so predicates prune transform layouts without the
        caller knowing the layout — the Iceberg contract."""
        if not prune:
            return prune
        out = dict(prune)
        _, phys, _ = self._schema_meta(table, at=at)
        if phys:
            def _map(c: str) -> str:
                # dotted struct-leaf keys map their FIRST segment (the
                # top-level column owns the physical slot; leaf names
                # never remap — leaf-level mapping is unsupported by
                # design)
                head, dot, rest = c.partition(".")
                mapped = phys.get(head.lower(), head)
                return mapped + dot + rest

            out = {_map(c): b for c, b in out.items()}
        extra = self._transform_prune_keys(table, prune, at)
        if extra:
            out.update(extra)
        return out

    def _transform_prune_keys(self, table: str, prune: dict,
                              at: int | None = None) -> dict:
        """Derived-path-key bounds implied by base-column bounds for a
        transform-carrying spec. days/months/hours and truncate are
        order-preserving, so [lo, hi] maps to [T(lo), T(hi)] (one-sided
        bounds keep the open side open); bucket is not — only POINT
        bounds map, hashed with the same Spark expression the writer
        used (one local 1-row job, only when a point bound actually
        hits a bucket spec's base column). Strict superset contract
        throughout: an unmappable bound contributes nothing."""
        spec = self._replay_state(at)["partition_by"].get(
            table.lower()) or []
        if not any(_SPEC_TRANSFORM_RE.match(e) for e in spec):
            return {}
        lower_prune = {k.lower(): v for k, v in prune.items()}
        extra: dict = {}
        decl = None
        for entry in spec:
            kind, prm, base, derived = _parse_spec_entry(entry)
            if kind == "identity":
                continue
            b = lower_prune.get(base.lower())
            if not b:
                continue
            lo, hi = b
            if lo is None and hi is None:
                continue
            if kind == "bucket":
                if lo is None or lo != hi:
                    continue  # bucket hashing is not order-preserving
                if decl is None:
                    decl = self._schema_meta(table, at=at)[0]
                dtype = next(
                    (f.dataType for f in (decl.fields if decl else [])
                     if f.name.lower() == base.lower()), None)
                if dtype is None:
                    continue  # unknown base type: no sound hash probe
                try:
                    probe = F.lit(lo).cast(dtype)
                    width = len(str(prm - 1))
                    row = self.spark.range(1).select(
                        F.lpad(F.pmod(F.xxhash64(probe), F.lit(prm))
                               .cast("string"), width, "0").alias("b"),
                        probe.isNull().alias("n")).collect()[0]
                except Exception:  # noqa: BLE001 — pruning only
                    continue
                if not row["n"]:
                    extra[derived] = (row["b"], row["b"])
            else:
                m = _transform_bound(kind, prm, lo, hi)
                if m is not None:
                    extra[derived] = m
        return extra

    def _manifest_stats(self, table: str, at: int | None = None) -> dict:
        """Merged per-file column stats for a tracked table, mirroring
        ``_manifest_files``'s replay: checkpoint sidecar (lazy) +
        entry-suffix deltas, filtered to the LIVE manifest (the stats
        channel is append-only; files that left the manifest leave
        their stats behind until a checkpoint folds them away)."""
        state = self._replay_state(at)
        t = table.lower()
        mf = state["tables"].get(t)
        if mf is None:
            # untracked (or dropped) table: no manifest to vouch for
            # any stats — a dropped table's ghost rows in an older
            # checkpoint sidecar must not resurface
            return {}
        merged = self._merged_stats(state, t)
        live = set(mf)
        return {r: s for r, s in merged.items() if r in live}

    def min_readable_seq(self, table: str) -> int:
        """Oldest sequence number whose snapshot of ``table`` is still
        fully readable: file-maintenance replaces (compact/cluster)
        delete superseded files and advance this boundary. 0 = all
        history readable."""
        return self._replay_state()["retention"].get(table.lower(), 0)

    def _dv_state(self, table: str, at: int | None = None) -> dict:
        """The table's deletion-vector map ``{dv_rel: [covered data
        rels]}`` as of commit ``at`` (None = head). Empty for tables
        without merge-on-read deletes."""
        return self._replay_state(at=at)["dv"].get(table.lower(), {})

    def live_dv_rows(self, table: str) -> int:
        """Total rows across the table's LIVE deletion-vector sidecars
        — the aggregate a read of fully-covered files would broadcast.
        Replay-state sum (``dv_rows`` channel); sidecars recorded by
        pre-round-11 commits fall back to one driver-side parquet
        footer stat each."""
        table = table.lower()
        state = self._replay_state()
        dv_map = state["dv"].get(table, {})
        if not dv_map:
            return 0
        known = state["dv_rows"].get(table, {})
        total = 0
        p = self._path(table)
        for dv_rel in dv_map:
            n = known.get(dv_rel)
            if n is None:
                try:
                    import pyarrow.parquet as pq

                    n = pq.ParquetFile(
                        os.path.join(p, dv_rel)).metadata.num_rows
                except Exception:  # noqa: BLE001 — budget check only
                    n = 0
            total += int(n)
        return total

    def _carry_dv_rows(self, table: str, txn: "Transaction",
                       new_dv: dict, extra: dict | None = None) -> None:
        """Record the ``dv_rows`` companion of ``txn.dv[table]``:
        surviving entries keep their known counts, ``extra`` adds the
        counts of sidecars THIS commit writes."""
        known = self._replay_state()["dv_rows"].get(table.lower(), {})
        rows = {k: known[k] for k in new_dv if k in known}
        if extra:
            rows.update(extra)
        if rows:
            txn.dv_rows[table.lower()] = rows

    def _maybe_fold_dv(self, table: str) -> None:
        """Enforce the global dv budget after a dv DML landed: past
        ``dv_max_rows_total`` live rows, fold the vectors physically
        (one targeted rewrite of just the covered files) so no future
        read broadcasts an over-budget union."""
        if self.dv_max_rows_total is None:
            return
        total = self.live_dv_rows(table)
        if total > self.dv_max_rows_total:
            warnings.warn(
                f"table {table!r} accumulated {total} live deletion-"
                f"vector rows > dv_max_rows_total="
                f"{self.dv_max_rows_total}; auto-folding the covered "
                "files (fold_dv) so reads stop broadcasting the union",
                stacklevel=3,
            )
            try:
                # NON-destructive fold: unlike explicit maintenance,
                # an automatic side effect of an ordinary DML must not
                # advance the retention boundary or physically delete
                # files (that would truncate time travel as a surprise).
                # The new head reads the folded files; old snapshots
                # stay readable; reclamation remains an explicit
                # fold_dv()/compact()/vacuum decision.
                self.fold_dv(table, vacuum=False)
            except Exception as e:  # noqa: BLE001 — maintenance only
                # the DML that tripped the budget COMMITTED; a fold
                # failure (e.g. a conflict losing all retries) must not
                # make the caller believe the DML failed — the next dv
                # DML re-trips the budget and retries the fold
                warnings.warn(
                    f"auto-fold of {table!r} failed ({e}); deletion "
                    "vectors remain over budget until the next dv DML "
                    "or an explicit fold_dv()/compact()",
                    stacklevel=3,
                )

    def fold_dv(self, table: str, vacuum: bool = True) -> int:
        """Fold the table's live deletion vectors physically: rewrite
        ONLY the dv-covered data files with their vectors applied, as
        one vacuum replace commit — every uncovered file carries
        verbatim (stats carry forward), the folded vectors leave the
        dv map, and their sidecar files are reclaimed. The targeted
        sibling of ``compact()`` (which also folds but rewrites whole
        partitions): a 100 TB table with vectors on 0.1% of its files
        rewrites 0.1%, not a partition. File maintenance: advances the
        time-travel retention boundary exactly like compaction.
        Returns the number of data files rewritten (0 = no live dvs).

        ``vacuum=False`` is the NON-destructive variant (what the
        automatic over-budget fold uses): the head still flips to the
        folded files, but the retention boundary does not move and the
        superseded data/dv files stay on disk — every pre-fold snapshot
        remains time-travel readable, and the files are reclaimed only
        by a later explicit vacuum op whose horizon passes them."""
        table = table.lower()
        if self._manifest_files(table) is None:
            raise ValueError(f"fold_dv: {table} is not commit-log tracked")
        for attempt in range(3):
            self._invalidate_state()
            base_seq = self._latest_seq()
            mf = list(self._manifest_files(table) or [])
            dv_map = self._dv_state(table)
            live = set(mf)
            covered = sorted({r for cov in dv_map.values()
                              for r in cov if r in live})
            if not covered:
                return 0
            untouched = [r for r in mf if r not in set(covered)]

            def _build(rs: list[str]) -> DataFrame:
                return self._tracked_read(table, rs)

            df = self._dv_split_read(_build, table, dv_map, covered)
            part_cols = self._rewrite_part_cols(table, df)
            txn = Transaction(self)
            txn.replaced = {table}
            txn.base_seq = base_seq
            # fold rewrites a FIXED read set (the dv-covered files):
            # concurrent appends are file-disjoint and absorbed at
            # commit instead of conflicting (r12 verdict item #1)
            txn.absorb_appends = {table}
            if vacuum:
                txn.vacuum = True  # superseded files deleted below
            txn.append(df, table, partition_by=part_cols or None)
            if untouched:
                txn.pending[table] = untouched + txn.pending[table]
            survivors = self._dv_survivors(dv_map, set(covered))
            if survivors:  # a dv covering files outside the manifest
                txn.dv[table] = survivors
                self._carry_dv_rows(table, txn, survivors)
            try:
                txn.commit()
            except CommitConflict:
                if attempt == 2:
                    raise
                self.vacuum_orphans(table)
                continue
            if vacuum:
                table_dir = self._path(table)
                for rel in covered:
                    with contextlib.suppress(OSError):
                        os.remove(os.path.join(table_dir, rel))
                for dv_rel in set(dv_map) - set(survivors):
                    with contextlib.suppress(OSError):
                        os.remove(os.path.join(table_dir, dv_rel))
            with contextlib.suppress(Exception):
                self.write_checkpoint()
            return len(covered)
        return 0

    def _dv_apply(self, df: DataFrame, table: str, dv_map: dict,
                  rels: list[str],
                  keep_file_col: str | None = None) -> DataFrame:
        """Apply merge-on-read deletes: anti-join out the DV rows that
        cover any of the data files ``df`` was read from. Matching is
        (source-file basename, full row) with null-safe equality — a
        DV row removes exactly the physical rows the recording delete
        matched, duplicates included (a duplicate row in the same file
        matched the same deterministic predicate). The DV side is tiny
        by design and broadcast: no shuffle, the scan streams through
        a broadcast hash anti-join. ``keep_file_col`` names an output
        column carrying each surviving row's source-file basename (for
        callers that need it downstream, e.g. the DML narrowing pass);
        None drops it."""
        fcol = keep_file_col
        if fcol is None:
            fcol = "__dv_f"
            while fcol in df.columns:  # never clobber a table column
                fcol = "_" + fcol
        covering = sorted(
            r for r, cov in dv_map.items() if set(cov) & set(rels)
        )
        lhs = df.withColumn(fcol, _basename_col())
        if not covering:
            return lhs if keep_file_col else df
        p = self._path(table)
        # merged footers: dv files written before and after an additive
        # schema change carry different schemas; one arbitrary footer
        # could be the narrower one and silently shrink the shared-
        # column match set below (over-deleting rows that differ only
        # in the newer column). Sidecars are few and tiny: their
        # footers merge on the driver, with no Spark job (a missing
        # sidecar raises FileNotFoundError naming it).
        dv_raw = self.spark.read.schema(_merged_schema(tuple(dict.fromkeys(
            _footer_schema_json(os.path.join(p, r)) for r in covering)))
        ).parquet(*[os.path.join(p, r) for r in covering])
        # additive schema evolution after the delete: a column the dv
        # rows predate is NULL in every file they cover (old files), so
        # matching on the SHARED columns still identifies exactly the
        # recorded physical rows — (file, shared-row) is sufficient
        shared = [c for c in df.columns if c in dv_raw.columns]
        dv = dv_raw.select(
            "_src", *[F.col(c).alias(f"__dv_{c}") for c in shared]
        )
        cond = lhs[fcol] == dv["_src"]
        for c in shared:
            cond = cond & lhs[c].eqNullSafe(dv[f"__dv_{c}"])
        out = lhs.join(F.broadcast(dv), cond, "left_anti")
        return out if keep_file_col else out.drop(fcol)

    def _dv_split_read(self, build, table: str, dv_map: dict,
                       rels: list[str],
                       keep_file_col: str | None = None) -> DataFrame:
        """Per-file deletion-vector application: split ``rels`` into
        dv-covered and uncovered files so ONLY covered files pay the
        anti-join — the uncovered branch is a plain scan (no join, no
        ``input_file_name`` evaluation unless the caller asked for the
        file column). ``build(rels_subset)`` constructs the DataFrame
        reading exactly those files with the caller's reader options.
        At scale this is the difference between every read of a 100 TB
        table anti-joining all rows because ONE file has a dv, and the
        join touching only that file's rows. The two branches union by
        name (missing columns null-filled) so additive schema evolution
        across the split reads like the single-scan path."""
        covered: set = set()
        for cov in dv_map.values():
            covered.update(cov)
        cov_rels = [r for r in rels if r in covered]
        if not cov_rels:
            df = build(rels)
            return df.withColumn(keep_file_col, _basename_col()) \
                if keep_file_col else df
        unc_rels = [r for r in rels if r not in covered]
        if not unc_rels:
            return self._dv_apply(build(rels), table, dv_map, rels,
                                  keep_file_col=keep_file_col)
        cov_base = build(cov_rels)
        fcol = keep_file_col
        if fcol is None:
            fcol = "__dv_f"
            while fcol in cov_base.columns:
                fcol = "_" + fcol
        cov_df = self._dv_apply(cov_base, table, dv_map, cov_rels,
                                keep_file_col=fcol)
        unc_df = build(unc_rels).withColumn(fcol, _basename_col())
        out = cov_df.unionByName(unc_df, allowMissingColumns=True)
        return out if keep_file_col else out.drop(fcol)

    def _write_dv_file(self, table: str, doomed_src: DataFrame,
                       txn: "Transaction") -> str:
        """Persist one deletion-vector parquet (the doomed rows plus
        their ``_src`` source-file basenames) under ``<table>/_dv/`` —
        an underscore directory, invisible to data-file walks and plain
        parquet reads; visibility is gated by the commit entry that
        references it. The file lands DOT-PREFIXED (``.stage-dv-…``) and
        is renamed to its final name by ``txn.commit()`` only after
        conflict detection passes: a concurrent writer's conflict-retry
        ``vacuum_orphans`` sweeps only non-hidden ``_dv/*.parquet``, so
        it can never delete this in-flight sidecar and leave the commit
        referencing a missing file. Returns the dv file's FINAL
        table-relative path (what the commit entry records)."""
        p = self._path(table)
        dvdir = os.path.join(p, "_dv")
        os.makedirs(dvdir, exist_ok=True)
        stage = os.path.join(p, f".dv-stage-{uuid.uuid4().hex[:8]}")
        doomed_src.coalesce(1).write.mode("overwrite").parquet(stage)
        name = None
        for fn in sorted(os.listdir(stage)):
            if fn.endswith(".parquet") and not fn.startswith((".", "_")):
                name = f"dv-{uuid.uuid4().hex[:12]}.parquet"
                staged = os.path.join(dvdir, f".stage-{name}")
                os.replace(os.path.join(stage, fn), staged)
                txn.dv_renames.append((staged, os.path.join(dvdir, name)))
                break
        shutil.rmtree(stage, ignore_errors=True)
        if name is None:
            raise RuntimeError("deletion-vector write produced no file")
        return os.path.join("_dv", name)

    def table_partition_by(self, table: str) -> list[str]:
        """The table's recorded hive partition spec (table metadata the
        commit entries carry, Delta's ``partitionColumns`` analog).
        Tables committed before the spec was recorded fall back to the
        layout their committed relpaths show (the ``k=v`` directory
        keys, in nesting order) — so maintenance rewrites preserve the
        layout of legacy tables too."""
        table = table.lower()
        rec = self._replay_state()["partition_by"].get(table)
        if rec is not None:
            return list(rec)
        keys: list[str] = []
        for rel in self._manifest_files(table) or []:
            for k, _ in _partition_pairs_of(rel):
                if k not in keys:
                    keys.append(k)
        return keys

    def set_partition_spec(self, table: str,
                           cols: list[str] | None) -> None:
        """Iceberg-style partition-spec EVOLUTION, as one metadata-only
        commit: writes from this commit on lay out under ``cols``
        (hive ``k=v`` directories), existing files keep the layout they
        were written with — nothing is rewritten. Reads union the
        layout groups losslessly, pruning stays per-file (path values
        for hive files, footer stats for flat ones), and a later
        ``compact()`` normalizes everything to the current spec.
        ``cols=None``/``[]`` evolves back to unpartitioned writes.

        Declares the table's schema if it never evolved (the partition
        columns' TYPES must be recoverable from hive path strings on a
        mixed-layout read). Rejects unknown columns, hidden names, and
        columns with a physical-name mapping (relpath keys are raw
        physical names; a mapped column's path key would not match its
        logical name)."""
        table = table.lower()
        if self._manifest_files(table) is None:
            raise ValueError(
                f"set_partition_spec: {table} is not commit-log "
                "tracked (transactional layout metadata needs the log)")
        cols = list(cols or [])
        parsed = [_parse_spec_entry(c) for c in cols]  # raises on bad syntax
        if len({d.lower() for _, _, _, d in parsed}) != len(cols):
            raise ValueError(
                "set_partition_spec: duplicate columns (two entries "
                "derive the same path key)")
        for (_, _, _, derived), c in zip(parsed, cols):
            if derived.startswith(("_", ".")):
                raise ValueError(
                    f"set_partition_spec: {c!r} is a reserved/hidden "
                    "name (hidden directories stage zero visible files)")
        for attempt in range(3):
            # optimistic-concurrency like the ALTER ops: the first-time
            # schema declaration below rides the whole-value-replace
            # schema channel, so it must carry its base snapshot and
            # recompute on conflict — a stale re-commit would silently
            # drop a concurrent add_columns
            self._invalidate_state()
            base_seq = self._latest_seq()
            decl, phys, retired = self._baseline_schema_meta(
                table, "set_partition_spec")
            ftypes = {f.name.lower(): f.dataType for f in decl.fields}
            for (kind, prm, base, _derived), c in zip(parsed, cols):
                want = ftypes.get(base.lower())
                if want is None:
                    raise ValueError(
                        f"set_partition_spec: {base!r} is not a column "
                        f"of {table!r}")
                if isinstance(want, (T.StructType, T.ArrayType,
                                     T.MapType, T.BinaryType)):
                    raise ValueError(
                        f"set_partition_spec: {base!r} is "
                        f"{want.simpleString()} — partition columns "
                        "must be atomic scalars (hive path keys are "
                        "strings)")
                if kind in ("days", "months", "hours") and not \
                        isinstance(want, (T.DateType, T.TimestampType,
                                          T.TimestampNTZType)):
                    raise ValueError(
                        f"set_partition_spec: {c!r} needs a date/"
                        f"timestamp base column, {base!r} is "
                        f"{want.simpleString()}")
                if kind == "truncate" and not isinstance(
                        want, (T.StringType, T.ByteType, T.ShortType,
                               T.IntegerType, T.LongType)):
                    raise ValueError(
                        f"set_partition_spec: {c!r} needs a string or "
                        f"integral base column, {base!r} is "
                        f"{want.simpleString()}")
                if phys.get(base.lower(), base).lower() != base.lower():
                    raise ValueError(
                        f"set_partition_spec: {base!r} has a physical-"
                        "name mapping (renamed/re-added column) — hive "
                        "path keys are physical; partition by an "
                        "unmapped column")
            txn = self.begin()
            try:
                txn.enforce_constraints = False  # metadata-only commit
                txn.partition_by[table] = cols
                if self._schema_meta(table)[0] is None:
                    txn.base_seq = base_seq
                    txn.schema_updates = {
                        table: self._schema_meta_json(decl, phys,
                                                      retired)}
                txn.commit()
                return
            except CommitConflict:
                if attempt == 2:
                    raise
            except BaseException:
                if not txn._done:
                    txn.abort()
                raise

    def _schema_meta(self, table: str, at: int | None = None
                     ) -> tuple[T.StructType | None, dict, set]:
        """The table's declared-schema metadata, replayed as of ``at``:
        ``(declared StructType | None, phys, retired)``.

        ``phys`` maps LOGICAL column name (lowercased) to the PHYSICAL
        parquet column it reads from — the Delta column-mapping analog
        that makes DROP/RENAME COLUMN metadata-only. A rename never
        changes the physical name (old files keep reading); re-adding
        a previously-dropped name binds a FRESH physical name so old
        files' stale bytes (possibly a different type) stay invisible.
        ``retired`` is the set of physical names (lowercased) ever
        vacated by a drop — reserved forever against re-binding.

        Payload format: legacy entries are a raw StructType JSON;
        round-11+ entries wrap it as ``{"v": 2, "schema": ...,
        "phys": {...}, "retired": [...]}``."""
        j = self._replay_state(at=at).get("schema", {}).get(table.lower())
        if not j:
            return None, {}, set()
        payload = json.loads(j)
        if payload.get("v") == 2:
            return (T.StructType.fromJson(payload["schema"]),
                    dict(payload.get("phys", {})),
                    set(payload.get("retired", [])))
        return T.StructType.fromJson(payload), {}, set()

    @staticmethod
    def _schema_meta_json(decl: T.StructType, phys: dict,
                          retired: set) -> str:
        return json.dumps({"v": 2, "schema": json.loads(decl.json()),
                           "phys": dict(sorted(phys.items())),
                           "retired": sorted(retired)})

    def _declared_schema(self, table: str,
                         at: int | None = None) -> T.StructType | None:
        """The table's DECLARED schema (recorded by ``add_columns`` /
        ``drop_column`` / ``rename_column``), replayed as of ``at``.
        None for tables that never evolved: their schema is whatever
        the parquet footers say, exactly as before."""
        return self._schema_meta(table, at=at)[0]

    def _footer_schemas(self, table: str, rels: list[str]) -> list[str]:
        """Distinct canonical schemas of ``rels``' parquet footers, in
        path order — driver-side footer reads for files the log tracks
        without a recorded schema (adopted legacy files, logs older than
        the ``file_schema`` channel, carried files of a schema-resetting
        replace). A file missing from disk contributes nothing: its
        scan fails on its own, and a commit must not."""
        p = self._path(table)
        out: list[str] = []
        for r in sorted(rels):
            try:
                sj = _footer_schema_json(os.path.join(p, r))
            except FileNotFoundError:
                continue
            if sj not in out:
                out.append(sj)
        return out

    def _recorded_file_schemas(self, table: str,
                               at: int | None = None) -> list[str]:
        """The table's data-file schemas from the log as of ``at``, plus
        (at head) what the open transaction staged. A table whose log
        predates the channel is read from its footers once per replayed
        state."""
        t = table.lower()
        state = self._replay_state(at)
        sjs = state["file_schema"].get(t)
        if sjs is None:
            memo = state.setdefault("inferred_schema", {})
            if t not in memo:
                memo[t] = self._footer_schemas(
                    t, state["tables"].get(t) or [])
            sjs = memo[t]
        txn = self._active_txn
        if at is None and txn is not None and not txn._done:
            own = txn._own_schemas.get(t, [])
            sjs = list(own) if t in txn.replaced else \
                list(dict.fromkeys(list(sjs) + own))
        return sjs

    def _read_schema(self, table: str, at: int | None = None
                     ) -> tuple[T.StructType, dict, bool]:
        """``(schema, phys, declared)`` a tracked read plans against —
        no Spark job. A DECLARED schema wins. Otherwise the data-file
        schemas the log recorded are merged on the driver the way
        ``mergeSchema`` merges footers: one schema for a table that
        never changed shape, the union (later columns NULL in older
        files) for one that evolved additively. Recorded types that
        cannot be merged raise ``ValueError``: no single schema reads
        every file of the table."""
        decl, phys, _ = self._schema_meta(table, at=at)
        if decl is not None:
            return decl, phys, True
        sjs = tuple(self._recorded_file_schemas(table, at))
        if not sjs:
            raise FileNotFoundError(
                f"table {table} has no data files and no declared schema")
        return _merged_schema(sjs), {}, False

    def _tracked_read(self, table: str, rels: list[str],
                      at: int | None = None) -> DataFrame:
        """``spark.read`` over committed relpaths with ``basePath``
        hive-partition recovery, always under an explicit schema from
        the log (``_read_schema``), so planning opens no footer and runs
        no Spark job — the Delta read-the-schema-from-the-log contract.
        Parquet by-name resolution fills files that lack a column with
        typed NULLs, which also keeps every maintenance rewrite (compact
        / cluster / DML) from dropping a column only some files carry.
        An undeclared table's hive path keys follow its file columns, as
        partition discovery types them. A declared table projects to its
        declared columns; column-mapped ones (RENAME / re-add after
        DROP) scan under their PHYSICAL name and alias back to the
        logical one — one projection, no data movement.

        MIXED layouts (after ``set_partition_spec``: some files flat,
        some hive-partitioned, or partitioned by different keys) are
        read as one frame per layout group unioned by name — a single
        basePath read over mixed layouts makes Spark's partition
        discovery silently DROP the rows of files outside the
        discovered layout."""
        p = self._path(table)
        schema, phys, declared = self._read_schema(table, at)
        layouts: dict[frozenset, list[str]] = {}
        for r in rels:
            layouts.setdefault(
                frozenset(k for k, _ in _partition_pairs_of(r)), []
            ).append(r)
        if len(layouts) > 1:
            return self._mixed_layout_read(p, layouts, schema, phys,
                                           declared)
        df = self.spark.read.schema(_physical(schema, phys)).option(
            "basePath", p).parquet(*[os.path.join(p, r) for r in rels])
        if not declared:
            return df
        # declared column order: Spark appends hive partition columns
        # after the data columns even under an explicit schema
        return df.select(*[
            F.col(phys.get(f.name.lower(), f.name)).alias(f.name)
            for f in schema.fields])

    def _mixed_layout_read(self, p: str, layouts: dict,
                           schema: T.StructType, phys: dict,
                           declared: bool) -> DataFrame:
        """One frame per partition-layout group, unioned by name: each
        group's leaf files read directly (NO basePath, so no partition
        discovery can misattribute rows) under ``schema`` minus the
        group's path keys, with the keys lifted back to columns by
        parsing ``input_file_name()`` — constant per file, no data
        movement. Path values are hive-unescaped, the NULL sentinel
        honored, and cast to the column's type in ``schema`` (declared,
        or the in-file type a flat group records) so ``unionByName``
        never coerces a column to string; a key no schema knows stays
        a string. Files missing a column of another layout surface it
        as NULL via ``allowMissingColumns``."""
        types = {f.name.lower(): f.dataType for f in schema.fields}
        frames = []
        for keys, group in sorted(layouts.items(),
                                  key=lambda kv: sorted(kv[0])):
            kl = {k.lower() for k in keys}
            in_file = [f for f in schema.fields if f.name.lower() not in kl]
            df = self.spark.read.schema(
                _physical(T.StructType(in_file), phys)).parquet(
                    *[os.path.join(p, r) for r in group])
            df = df.select(*[
                F.col(phys.get(f.name.lower(), f.name)).alias(f.name)
                for f in in_file])
            for k in sorted(keys):
                # greedy ".*/" anchors the capture to the LAST
                # "k=value/" path segment — the file's OWN partition
                # dir. A first-occurrence match would pick up an
                # ANCESTOR directory of the warehouse root that happens
                # to look like "k=..." (e.g. a root under /data/dt=old/)
                # and stamp every row with it (advisor r12, medium).
                raw = F.regexp_extract(
                    F.input_file_name(),
                    ".*/" + re.escape(k) + "=([^/]+)/", 1)

                # TWO encoding layers: input_file_name() returns the
                # URI-encoded path (space -> %20, %% -> %25) and the
                # hive DIRECTORY NAME itself carries hive's %XX escapes
                # — decode twice. '+' is literal in both layers (hive
                # never writes it, URIs keep it), but url_decode is a
                # FORM decode that would map it to space — shield it as
                # %2B before each decode.
                def _dec(c):
                    return F.try_url_decode(
                        F.regexp_replace(c, r"\+", "%2B"))

                dec = _dec(_dec(raw))
                val = F.when(
                    raw == "__HIVE_DEFAULT_PARTITION__", F.lit(None)
                ).otherwise(F.coalesce(dec, _dec(raw), raw))
                want = types.get(k.lower())
                if want is not None and not isinstance(want,
                                                       T.StringType):
                    val = val.cast(want)
                df = df.withColumn(k, val)
            frames.append(df)
        out = frames[0]
        for fr in frames[1:]:
            out = out.unionByName(fr, allowMissingColumns=True)
        if declared:
            # declared column order, same contract as the single-layout
            # declared read (undeclared layout keys are dropped there
            # too by the decl-order projection)
            out = out.select(*[f.name for f in schema.fields])
        return out

    def add_columns(self, table: str, cols: dict[str, str]) -> None:
        """``ALTER TABLE table ADD COLUMNS (name type, ...)`` —
        metadata-ONLY commit (no file is touched, Delta's contract):
        the table's declared schema grows by ``cols`` (name -> DDL type
        string, e.g. ``{"score": "double"}``); every read from this
        commit on resolves against the declared schema, so existing
        files surface the new columns as typed NULLs and new appends
        may carry them physically. Time travel below this commit
        replays the OLD schema. Rejects duplicates of existing
        columns."""
        table = table.lower()

        def _mutate(decl, phys, retired):
            have = {f.name.lower() for f in decl.fields}
            used_phys = {phys.get(f.name.lower(), f.name).lower()
                         for f in decl.fields} | retired
            fields = list(decl.fields)
            for name, typ in cols.items():
                if name.lower() in have:
                    raise ValueError(
                        f"add_columns: column {name!r} already exists "
                        f"on {table!r}")
                if name.startswith(("_", ".")):
                    raise ValueError(
                        f"add_columns: {name!r} is a reserved/hidden "
                        "name")
                if name.lower() in used_phys:
                    # the name's PHYSICAL slot is taken (a dropped
                    # column's old bytes, or another column renamed onto
                    # it): bind a fresh physical name so old files'
                    # stale bytes — possibly a different type — stay
                    # invisible (the Delta column-mapping re-add
                    # contract)
                    pname = f"{name}__r{uuid.uuid4().hex[:6]}"
                    phys[name.lower()] = pname
                    used_phys.add(pname.lower())
                else:
                    used_phys.add(name.lower())
                fields.append(T.StructField(
                    name,
                    typ if isinstance(typ, T.DataType)
                    else T._parse_datatype_string(typ),
                    True))
                have.add(name.lower())
            return T.StructType(fields), phys, retired

        self._alter_schema_meta(table, "add_columns", _mutate)

    def drop_column(self, table: str, col: str) -> None:
        """``ALTER TABLE table DROP COLUMN col`` — metadata-ONLY (the
        Delta column-mapping contract): the declared schema loses the
        column, reads stop projecting it, NO file is rewritten. The
        vacated physical name is retired forever: a later add_columns
        of the same name binds a fresh physical name, so the old
        files' bytes (possibly a different type) can never leak into
        the re-added column. Time travel below this commit reads the
        old shape. Refused for partition columns (physical layout),
        columns referenced by a live CHECK constraint, and bloom-
        indexed columns — drop those dependencies first."""
        table, col = table.lower(), col.lower()

        def _mutate(decl, phys, retired):
            if col not in {f.name.lower() for f in decl.fields}:
                raise ValueError(
                    f"drop_column: {col!r} is not a column of {table!r}")
            self._guard_column_dependencies(table, col, "drop_column")
            fields = [f for f in decl.fields if f.name.lower() != col]
            if not fields:
                raise ValueError(
                    f"drop_column: cannot drop {table!r}'s last column")
            retired = set(retired) | {phys.get(col, col).lower()}
            phys.pop(col, None)
            return T.StructType(fields), phys, retired

        self._alter_schema_meta(table, "drop_column", _mutate)

    def rename_column(self, table: str, old: str, new: str) -> None:
        """``ALTER TABLE table RENAME COLUMN old TO new`` — metadata-
        ONLY: the physical parquet name never changes (old files keep
        reading; new appends keep writing it), only the logical name
        in the declared schema moves. Same dependency guards as
        ``drop_column``."""
        table = table.lower()
        ol, nl = old.lower(), new.lower()

        def _mutate(decl, phys, retired):
            names = {f.name.lower() for f in decl.fields}
            if ol not in names:
                raise ValueError(
                    f"rename_column: {old!r} is not a column of "
                    f"{table!r}")
            if nl in names:
                raise ValueError(
                    f"rename_column: {new!r} already exists on "
                    f"{table!r}")
            if new.startswith(("_", ".")):
                raise ValueError(
                    f"rename_column: {new!r} is a reserved/hidden name")
            self._guard_column_dependencies(table, ol, "rename_column")
            pname = phys.pop(ol, None) or next(
                f.name for f in decl.fields if f.name.lower() == ol)
            if pname.lower() != nl:
                phys[nl] = pname
            fields = [T.StructField(new, f.dataType, f.nullable)
                      if f.name.lower() == ol else f
                      for f in decl.fields]
            return T.StructType(fields), phys, set(retired)

        self._alter_schema_meta(table, "rename_column", _mutate)

    def _baseline_schema_meta(self, table: str, op: str
                              ) -> tuple[T.StructType, dict, set]:
        """Current declared-schema metadata, declaring the table first
        if it never evolved (baseline = the UNION of all footers — a
        table that evolved additively via merge_schema appends must
        not lose the columns only newer files carry)."""
        decl, phys, retired = self._schema_meta(table)
        if decl is None:
            if not self.exists(table):
                raise FileNotFoundError(
                    f"{op}: table {table!r} does not exist")
            decl = self.read(table, merge_schema=True).schema
        return decl, dict(phys), set(retired)

    def _guard_column_dependencies(self, table: str, col: str,
                                   op: str) -> None:
        """Refuse dropping/renaming a column the table's layout or
        metadata depends on: partition columns (they live in relpaths),
        CHECK constraints referencing it (conservative word match),
        and bloom-indexed columns (bitsets are keyed by name)."""
        if col in {c.lower() for c in self.table_partition_by(table)}:
            raise ValueError(
                f"{op}: {col!r} is a hive partition column of "
                f"{table!r} — the physical layout depends on it")
        pat = re.compile(rf"\b{re.escape(col)}\b", re.IGNORECASE)
        hit = [n for n, sql in self.table_constraints(table).items()
               if pat.search(sql)]
        if hit:
            raise ValueError(
                f"{op}: {col!r} is referenced by CHECK constraint(s) "
                f"{hit} on {table!r} — drop them first")
        cfg = self.table_bloom_filter(table)
        if cfg and col in {c.lower() for c in cfg["cols"]}:
            raise ValueError(
                f"{op}: {col!r} is a bloom-indexed column of {table!r}"
                " — reconfigure set_bloom_filter without it first")
        if self._dv_state(table):
            # a live deletion-vector sidecar persists the rows under
            # their CURRENT column names: renaming/dropping under it
            # would shrink the anti-join's shared-column match set and
            # over-delete rows that differ only in the moved column
            raise ValueError(
                f"{op}: {table!r} has live merge-on-read deletion "
                "vectors — fold_dv()/compact() them first")

    def _alter_schema_meta(self, table: str, op: str, mutate) -> None:
        """Optimistic-concurrency driver for the metadata-only ALTER
        ops: read the CURRENT declared-schema baseline, apply
        ``mutate(decl, phys, retired)``, commit with the base snapshot
        recorded — a concurrent schema commit on the same table raises
        ``CommitConflict`` (the schema channel is whole-value replace;
        re-committing a stale payload would silently drop the
        concurrent change) and the op recomputes from the fresh
        baseline."""
        for attempt in range(3):
            self._invalidate_state()
            base_seq = self._latest_seq()
            decl, phys, retired = self._baseline_schema_meta(table, op)
            new_decl, new_phys, new_retired = mutate(
                decl, dict(phys), set(retired))
            try:
                self._commit_schema_meta(table, new_decl, new_phys,
                                         new_retired, base_seq=base_seq)
                return
            except CommitConflict:
                if attempt == 2:
                    raise

    def _commit_schema_meta(self, table: str, decl: T.StructType,
                            phys: dict, retired: set,
                            base_seq: int | None = None) -> None:
        txn = self.begin()
        try:
            txn.enforce_constraints = False  # metadata-only commit
            txn.base_seq = base_seq
            if self._manifest_files(table) is None:
                # adopt a legacy table (same contract as add_constraint)
                txn.pending[table] = _data_files(self._path(table))
            txn.schema_updates = {
                table: self._schema_meta_json(decl, phys, retired)}
            txn.commit()
        except BaseException:
            if not txn._done:
                txn.abort()
            raise

    def create_table(self, table: str, schema,
                     partition_by: list[str] | None = None) -> None:
        """``CREATE TABLE table (cols)`` — an EMPTY table with a
        declared schema, as one metadata commit: the table is tracked
        (zero files), reads return an empty typed frame, appends
        validate against the declaration (typed NULL fill, drift
        rejection — the full declared-schema contract from day one),
        and the recorded ``partition_by`` pins the hive layout every
        writer and maintenance rewrite follows. ``schema`` is a
        StructType or a DDL string (``"id int, v double"``). The
        query-backed sibling is the SQL door's ``CREATE TABLE … AS
        SELECT``."""
        table = table.lower()
        if isinstance(schema, str):
            schema = T._parse_datatype_string(schema)
        if self._manifest_files(table) is not None or self.exists(table):
            raise ValueError(f"create_table: {table!r} already exists")
        for f in schema.fields:
            if f.name.startswith(("_", ".")):
                raise ValueError(
                    f"create_table: {f.name!r} is a reserved/hidden "
                    "column name")
        names = {f.name.lower() for f in schema.fields}
        missing = [c for c in (partition_by or [])
                   if c.lower() not in names]
        if missing:
            raise ValueError(
                f"create_table: partition columns {missing} are not "
                "in the schema")
        txn = self.begin()
        try:
            txn.enforce_constraints = False  # metadata-only commit
            txn.pending[table] = []  # tracked from birth, zero files
            if partition_by:
                txn.partition_by[table] = list(partition_by)
            txn.schema_updates = {
                table: self._schema_meta_json(schema, {}, set())}
            txn.commit()
        except BaseException:
            if not txn._done:
                txn.abort()
            raise

    def drop_table(self, table: str, if_exists: bool = False) -> None:
        """``DROP TABLE table``: one metadata commit removes the table
        from every catalog channel (manifest, declared schema,
        constraints, bloom config, partition spec, deletion vectors) —
        then its data and dv files are deleted. ``read_at`` below the
        drop raises the typed ``SnapshotVacuumed`` (retention advances
        to the drop commit), and a later CREATE of the same name
        starts a fresh history. Untracked legacy directories are
        simply removed."""
        table = table.lower()
        mf = self._manifest_files(table)
        if mf is None:
            if self.exists(table):  # legacy untracked layout
                shutil.rmtree(self._path(table), ignore_errors=True)
                return
            if if_exists:
                return
            raise FileNotFoundError(
                f"drop_table: table {table!r} does not exist")
        txn = self.begin()
        try:
            txn.enforce_constraints = False  # metadata-only commit
            txn.drop_tables = [table]
            txn.commit()
        except BaseException:
            if not txn._done:
                txn.abort()
            raise
        # the catalog no longer references the table: reclaim its
        # directory (data files, dv sidecars, hive dirs) wholesale
        shutil.rmtree(self._path(table), ignore_errors=True)

    def count_rows(self, table: str, at: int | None = None) -> int:
        """COUNT(*) from manifest metadata (the Delta/Iceberg
        count-from-stats fast path): commit entries record each file's
        parquet-footer row count (``__rows``), so counting a 100 TB
        table is a driver-side sum over the replayed stats — zero Spark
        jobs, zero data reads. Falls back to the exact scan for the
        slivers metadata cannot vouch for: adopted legacy files with no
        recorded stats (counted with one column-less Spark scan over
        just those files), tables carrying live deletion vectors (the
        dv anti-join's multiset semantics are the read path's business,
        not arithmetic's), and untracked legacy layouts."""
        table = table.lower()
        mf = self._manifest_files(table, at=at) if at is not None \
            else self._manifest_files(table)
        if mf is None:  # legacy layout: no manifest to trust
            return self.read(table).count()
        if self._dv_state(table, at=at):
            # live merge-on-read deletes: let the dv-aware reader decide
            df = self.read_at(table, at) if at is not None \
                else self.read(table)
            return df.count()
        stats = self._manifest_stats(table, at=at)
        total, unknown = 0, []
        for rel in mf:
            n = (stats.get(rel) or {}).get("__rows")
            if n is None:
                unknown.append(rel)
            else:
                total += int(n)
        if unknown:
            total += self._tracked_read(table, unknown, at=at).count()
        return total

    def set_bloom_filter(self, table: str, cols: list[str],
                         m: int = 8192, k: int = 6) -> None:
        """Configure per-file Bloom bitsets for ``cols`` (the Delta
        bloom-filter-index analog): every write from this commit on
        records, beside each new file's min/max stats, an ``m``-bit /
        ``k``-hash bitset of the column's values — and equality probes
        (``prune={col: (v, v)}``, which ``derive_prune_bounds`` emits
        for ``col = v`` DML/read predicates) skip files whose bitset
        provably lacks the value. Sharper than min/max on
        high-cardinality identifiers where every file's range overlaps
        every probe. EXISTING files carry no bitset and are always
        kept; run ``compact()``/``OPTIMIZE`` to backfill. Sizing: fpp
        ~= (1 - e^(-k*n/m))^k for n distinct values per file — the
        8192/6 default holds ~1% fpp to n~1000 and degrades gracefully
        (false positives only cost a read, never rows). Cost: one
        column-pruned Spark job per write over just-staged files;
        ~m/8 bytes of commit-entry JSON per file per column."""
        table = table.lower()
        if m % 8 or m <= 0 or k <= 0:
            raise ValueError("m must be a positive multiple of 8, k > 0")
        # merge_schema: the column may exist only in newer footers
        # (additive evolution on an undeclared table) — one footer's
        # schema would wrongly reject it
        schema = {f.name: f.dataType.simpleString()
                  for f in self.read(table, merge_schema=True)
                  .schema.fields}
        missing = [c for c in cols if c not in schema]
        if missing:
            raise ValueError(
                f"set_bloom_filter: {missing} not columns of {table!r}")
        nested = [c for c in cols if schema[c].startswith(
            ("struct<", "array<", "map<", "binary"))]
        if nested:
            raise ValueError(
                f"set_bloom_filter: {nested} are nested/binary columns "
                "— bloom bitsets index atomic scalar columns only "
                "(probe literals must cast cleanly to the hashed type)")
        _, physmap, _ = self._schema_meta(table)
        mapped = [c for c in cols
                  if physmap.get(c.lower(), c).lower() != c.lower()]
        if mapped:
            raise ValueError(
                f"set_bloom_filter: {mapped} carry a physical-name "
                f"mapping (renamed / re-added after drop) — bitsets "
                "are keyed by physical name; bloom-index such columns "
                "before renaming, not after")
        prev = self._replay_state().get("bloom_cols", {}).get(table)
        if prev and (int(prev["m"]) != int(m) or int(prev["k"]) != int(k)):
            # existing files' bitsets were built under (prev m, prev k);
            # probing them with a different geometry would crash (larger
            # m) or silently false-prune (smaller m / different k). The
            # blob-size guard in _file_may_match catches m changes, but
            # a same-m k change is undetectable per blob — refuse the
            # reconfig; compact() (fresh bitsets everywhere) first.
            raise ValueError(
                f"set_bloom_filter: {table!r} already has a bloom config "
                f"with m={prev['m']} k={prev['k']}; existing per-file "
                "bitsets were built under it. Keep m/k (column changes "
                "are fine), or compact() the table after reconfiguring "
                "to rebuild every bitset"
            )
        txn = self.begin()
        try:
            txn.enforce_constraints = False  # metadata-only commit
            txn.bloom_cols = {table: {
                "cols": list(cols), "m": int(m), "k": int(k),
                # the column types pin the probe-side canonicalization:
                # a probe value is cast to the COLUMN's type, then to
                # string, exactly like the written column was
                "types": {c: schema[c] for c in cols},
                # timestamp canonicalization marker: new configs hash
                # timestamps tz-stably (unix_micros); a table whose
                # legacy config predates the marker keeps the legacy
                # cast(string) form its existing bitsets used
                "ts": prev.get("ts", "legacy") if prev else "micros",
            }}
            txn.commit()
        except BaseException:
            if not txn._done:
                txn.abort()
            raise

    def table_bloom_filter(self, table: str) -> dict | None:
        """The table's bloom-filter config, or None."""
        cfg = self._replay_state().get("bloom_cols", {}).get(table.lower())
        return dict(cfg) if cfg else None

    def _bloom_positions(self, table: str, prune: dict | None) -> dict:
        """For each EQUALITY prune bound (``lo == hi``) on a configured
        bloom column: ``(m, the k bit positions)`` of the probe value,
        computed with the same Spark expressions the writer hashed with
        (one local 1-row job — no cross-language hash reimplementation
        to drift). A probe that does not CAST cleanly to the column's
        type contributes nothing (the file set is kept)."""
        cfg = self._replay_state().get("bloom_cols", {}).get(table.lower())
        if not cfg or not prune:
            return {}
        m, kk = int(cfg["m"]), int(cfg["k"])
        types = cfg.get("types", {})
        ts_micros = cfg.get("ts") == "micros"
        exprs, keys = [], []
        for col, (lo, hi) in prune.items():
            if col not in cfg["cols"] or lo is None or lo != hi:
                continue
            base = _bloom_canonical(F.lit(lo), types.get(col), ts_micros)
            exprs.append(base.isNull().alias(f"n{len(keys)}"))
            for i in range(kk):
                exprs.append(
                    F.pmod(F.xxhash64(F.lit(f"{col}#{i}"), base),
                           F.lit(m)).cast("int").alias(
                               f"p{len(keys)}_{i}"))
            keys.append(col)
        if not keys:
            return {}
        row = self.spark.range(1).select(*exprs).collect()[0]
        out = {}
        for j, col in enumerate(keys):
            if row[f"n{j}"]:
                continue  # un-castable probe: no bloom pruning
            out[col] = (m, [row[f"p{j}_{i}"] for i in range(kk)])
        return out

    def tables(self) -> list[str]:
        """Sorted names of every commit-log tracked table (the SHOW
        TABLES surface). Legacy directories not yet adopted into the
        log are not listed — they have no transactional metadata."""
        return sorted(self._replay_state()["tables"].keys())

    def table_constraints(self, table: str) -> dict[str, str]:
        """The table's live CHECK constraints ``{name: check_sql}`` —
        commit-log metadata (Delta's ``delta.constraints.*`` analog),
        surviving compact/cluster/DML/restore rewrites and replayed
        identically by every reader process."""
        return dict(self._replay_state().get(
            "constraints", {}).get(table.lower(), {}))

    def add_constraint(self, table: str, name: str, check_sql: str,
                       validate: bool = True) -> None:
        """``ALTER TABLE ADD CONSTRAINT name CHECK (check_sql)``: record
        a CHECK constraint in the commit log; every subsequent write to
        the table (append / DML rewrite / MERGE / streaming sink — they
        all funnel through ``Transaction.append``) enforces it INSIDE
        the write job via ``assert_true`` — zero extra Spark jobs — and
        a violating write raises :class:`ConstraintViolation` with
        nothing committed. SQL semantics: NULL passes, only FALSE
        violates.

        ``validate=True`` (Delta's contract) first proves the EXISTING
        rows satisfy the check (one count over the dv-aware read) so
        later rewrites can assume validity; ``validate=False`` skips
        that scan — callers accept that a pre-existing violating row
        will fail the next maintenance rewrite of its file. A legacy
        (pre-commit-log) table is adopted into the log by this call,
        exactly like a first transactional append."""
        table, name = table.lower(), name.lower()
        # syntax-check now (parse only — no analysis, no data touched)
        # so a typo fails THIS call, not some later write
        self.spark._jsparkSession.sessionState().sqlParser() \
            .parseExpression(check_sql)
        if validate and (self._manifest_files(table) is not None
                         or _data_files(self._path(table))):
            ok = F.coalesce(F.expr(check_sql).cast("boolean"), F.lit(True))
            n = self.read(table).where(~ok).count()
            if n:
                raise ConstraintViolation(
                    f"cannot add CHECK constraint {name} to {table!r}: "
                    f"{n} existing row(s) violate ({check_sql})"
                )
        txn = self.begin()
        try:
            txn.enforce_constraints = False  # metadata-only commit
            if self._manifest_files(table) is None:
                # adopt a legacy table's current files so the flip to
                # commit-log reads loses nothing (same contract as the
                # first transactional append)
                txn.pending[table] = _data_files(self._path(table))
            txn.constraints = {table: {"add": {name: check_sql}}}
            txn.commit()
        except BaseException:
            if not txn._done:
                txn.abort()
            raise

    def drop_constraint(self, table: str, name: str) -> None:
        """``ALTER TABLE DROP CONSTRAINT name`` — metadata-only commit;
        raises ``KeyError`` for an unknown constraint name."""
        table, name = table.lower(), name.lower()
        if name not in self.table_constraints(table):
            raise KeyError(
                f"table {table!r} has no constraint named {name!r}")
        txn = self.begin()
        try:
            txn.enforce_constraints = False
            txn.constraints = {table: {"drop": [name]}}
            txn.commit()
        except BaseException:
            if not txn._done:
                txn.abort()
            raise

    def _rewrite_part_cols(self, table: str, df: DataFrame) -> list[str]:
        """Partition columns a maintenance rewrite of ``table`` must
        write with: the recorded spec, restricted to entries whose
        column — the BASE column, for transform entries — the rewritten
        frame actually carries (a spec column absent from the data
        would otherwise crash the write). Matching is CASE-
        INSENSITIVE, identity entries returned in the FRAME's spelling
        — mirroring ``Transaction.append``'s spec resolution, so a
        spec recorded in a different case than the frame still takes
        the per-partition repartitioned sizing path instead of
        silently coalescing (advisor r12)."""
        by_lower = {c.lower(): c for c in df.columns}
        out = []
        for entry in self.table_partition_by(table):
            kind, _prm, base, _drv = _parse_spec_entry(entry)
            have = by_lower.get(base.lower())
            if have is not None:
                out.append(have if kind == "identity" else entry)
        return out

    @staticmethod
    def _spec_partition_exprs(df: DataFrame, entries: list[str]) -> list:
        """Column expressions maintenance rewrites repartition/sort by
        for a (possibly transform-carrying) spec — identical to the
        values the write lays directories out by, so file sizing and
        layout always agree."""
        return [
            F.col(base) if kind == "identity"
            else _spec_transform_expr(df, kind, prm, base)
            for kind, prm, base, _drv in map(_parse_spec_entry, entries)
        ]

    def snapshots(self) -> list[dict]:
        """The commit history: one row per committed transaction —
        sequence number (pass to ``read_at``), txn id, op, tables and
        file counts. A caveat for time travel: ``compact()``'s replace
        entry rewrites the file SET and deletes the old files, so
        snapshots older than the latest replace may reference vacuumed
        files (``read_at`` raises the typed ``SnapshotVacuumed`` there —
        same retention contract as Delta/Iceberg VACUUM)."""
        out = []
        for seq in self._list_log()[0]:
            entry = self._load_entry(seq)
            if entry is None:
                continue
            t = self._entry_time(seq, entry=entry)
            if t is None:
                # folded by a concurrent expire_log between the log
                # listing and the mtime stat — expired, skip the row
                continue
            out.append({
                "seq": seq,
                "txn": entry.get("txn"),
                "op": entry.get("op"),
                "committed_at": datetime.datetime.fromtimestamp(
                    t, tz=datetime.timezone.utc
                ).isoformat(),
                "tables": {
                    t: len(files) for t, files in entry.get("tables", {}).items()
                },
            })
        return out

    def _entry_time(self, seq: int, entry: dict | None = None) -> float | None:
        """Commit wall time (epoch seconds): the ``ts`` the entry
        recorded at commit, falling back to the entry FILE's mtime for
        logs written before ``ts`` existed — the same source Delta's
        TIMESTAMP AS OF resolves against (and the same caveat: a
        copied/restored log directory carries fresh mtimes, recorded
        ``ts`` values survive the copy). ``None`` when the entry was
        folded by a concurrent ``expire_log`` between the caller's log
        listing and this stat — callers treat it as expired/skip."""
        if entry is None:
            entry = self._load_entry(seq)
        if entry and "ts" in entry:
            return float(entry["ts"])
        path = os.path.join(self._manifest_dir(), f"{seq:09d}.json")
        try:
            return os.path.getmtime(path)
        except OSError:
            return None

    def read_at_timestamp(self, table: str, ts,
                          schema: T.StructType | None = None) -> DataFrame:
        """Time travel by WALL CLOCK (the Delta ``TIMESTAMP AS OF``
        analog): read the table as of the newest commit at or before
        ``ts`` — a datetime (naive = UTC) or ISO-8601 string. Commit
        times are monotone in practice (sequence claims serialize
        writers on one filesystem) but only as trustworthy as the
        writers' clocks — exactly Delta's contract. Raises
        ``SnapshotExpired`` when ``ts`` predates the retained log and
        ``ValueError`` when it predates the table entirely."""
        best, ts = self._seq_at_timestamp(ts)
        if best is None:
            horizon = self.expire_horizon()
            if horizon > 0:
                raise SnapshotExpired(
                    f"timestamp {ts.isoformat()} predates the oldest "
                    f"retained commit (expire horizon {horizon}): the "
                    "covering entries were folded by expire_log"
                )
            raise ValueError(
                f"timestamp {ts.isoformat()} predates every commit of "
                f"this warehouse"
            )
        return self.read_at(table, best, schema=schema)

    def _seq_at_timestamp(self, ts) -> tuple[int | None, "datetime.datetime"]:
        """(newest seq committed at-or-before ``ts``, parsed ts).
        The comparison carries a one-microsecond tolerance: commit
        entries store epoch floats with sub-microsecond precision, but
        ``snapshots()``' ``committed_at`` ISO strings are quantized to
        the microsecond ``datetime`` keeps — without the tolerance, a
        round-tripped committed_at can parse a hair EARLIER than the
        float it came from and resolve to the previous commit (or to
        nothing, for the first). Commits are serialized filesystem
        operations milliseconds apart, so the tolerance can never
        conflate two of them."""
        if isinstance(ts, str):
            ts = datetime.datetime.fromisoformat(ts)
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=datetime.timezone.utc)
        epoch = ts.timestamp() + 1e-6
        entry_seqs, _ = self._list_log()
        best = None
        for seq in entry_seqs:
            # no early break: writer clock skew can make times locally
            # non-monotone; "newest commit at or before ts" = max seq.
            # None = entry folded by a concurrent expire_log: exclude.
            t = self._entry_time(seq)
            if t is not None and t <= epoch:
                best = seq
        return best, ts

    def read_at(self, table: str, seq: int,
                schema: T.StructType | None = None) -> DataFrame:
        """Time-travel read: the table exactly as of commit ``seq``
        (inclusive). Raises ``ValueError`` for tables not tracked by the
        commit log (legacy layouts have no history to travel) and
        ``SnapshotVacuumed`` for snapshots behind the retention boundary
        a later compact/cluster established by deleting files."""
        p = self._path(table)
        horizon = self.expire_horizon()
        if seq < horizon:
            raise SnapshotExpired(
                f"snapshot {seq} predates the expire horizon {horizon}: "
                f"expire_log removed its commit entries; oldest replayable "
                f"snapshot is {horizon}"
            )
        boundary = self.min_readable_seq(table)
        if seq < boundary:
            raise SnapshotVacuumed(
                f"snapshot {seq} of {table} predates the retention "
                f"boundary: a compact/cluster at commit {boundary} deleted "
                f"the files it referenced; oldest readable snapshot is "
                f"{boundary}"
            )
        mf = self._manifest_files(table, at=seq)
        if mf is None:
            raise ValueError(
                f"{table} has no commit-log history (legacy layout or "
                f"never written as of seq {seq})"
            )
        if not mf:
            decl = self._declared_schema(table, at=seq)
            if schema is None and decl is None:
                raise FileNotFoundError(
                    f"table {table} empty as of seq {seq} and no schema given"
                )
            df = _empty_df(self.spark, schema or decl)
            if schema is not None:
                df = df.select(*[f.name for f in schema.fields])
            return df
        def _build(rs: list[str]) -> DataFrame:
            # schema as declared AT that snapshot: time travel below an
            # ADD COLUMNS commit replays the pre-evolution schema
            return self._tracked_read(table, rs, at=seq)

        dv_map = self._dv_state(table, at=seq)
        if dv_map:
            df = self._dv_split_read(_build, table, dv_map, mf)
        else:
            df = _build(mf)
        if schema is not None:
            df = df.select(*[f.name for f in schema.fields])
        return df

    def _diff_file_sets(self, table: str, seq_a: int,
                        seq_b: int) -> tuple[list[str], list[str]]:
        """File relpaths unique to each snapshot's manifest. Parquet
        data files are immutable once committed, so files common to
        both manifests contribute identical rows to both snapshots and
        cancel out of any row-level diff — only the symmetric
        difference needs reading."""
        a = self._manifest_files(table, at=seq_a)
        b = self._manifest_files(table, at=seq_b)
        if a is None or b is None:
            raise ValueError(
                f"{table} has no commit-log history at one of the "
                f"snapshots ({seq_a}, {seq_b}) — untracked tables have "
                f"no manifests to diff"
            )
        sa, sb = set(a), set(b)
        return sorted(sa - sb), sorted(sb - sa)

    def table_diff(self, table: str, seq_a: int, seq_b: int,
                   key_cols: list[str]) -> DataFrame:
        """Row-level changelog between two snapshots — the Delta/Iceberg
        change-data-feed derivation, computed from manifests instead of
        a stored CDF: rows in snapshot ``seq_b`` but not ``seq_a`` are
        inserts, the reverse are deletes, and keys appearing on both
        sides are update pre/post images.

        Output: the table's columns plus ``_change_type`` in
        {'insert', 'delete', 'update_preimage', 'update_postimage'}.

        Scale shape: snapshots share almost all their files day-over-day,
        and ``_diff_file_sets`` cancels the common ones BEFORE any read —
        the scan and every stage of the row diff (``operators.cdc.
        snapshot_diff``: one full-row aggregate + one key window) are
        O(changed files), never O(table). (A full compact between the
        two snapshots degrades gracefully: every file differs, the diff
        is still correct, just table-sized.) Rows that merely moved
        between files (partial rewrites, clustering) cancel in the
        full-row aggregate and are not reported as changes.
        """
        if seq_b < seq_a:
            raise ValueError(f"seq_b ({seq_b}) must be >= seq_a ({seq_a})")
        horizon = self.expire_horizon()
        boundary = self.min_readable_seq(table)
        for seq in (seq_a, seq_b):
            if seq < horizon:
                raise SnapshotExpired(
                    f"snapshot {seq} predates the expire horizon {horizon}"
                )
            if seq < boundary:
                raise SnapshotVacuumed(
                    f"snapshot {seq} of {table} predates the retention "
                    f"boundary {boundary} (files vacuumed by a later "
                    f"compact/cluster)"
                )
        only_a, only_b = self._diff_file_sets(table, seq_a, seq_b)
        dv_a = self._dv_state(table, at=seq_a)
        dv_b = self._dv_state(table, at=seq_b)
        if dv_a or dv_b:
            # merge-on-read deletes change rows WITHOUT changing the
            # file set: add the files whose covering-dv set differs
            # between the snapshots to the per-side scan (per-file dv
            # coverage keeps this O(changed files), not O(table))
            def _cover(dv):
                m: dict = {}
                for dv_rel, cov in dv.items():
                    for r in cov:
                        m.setdefault(r, set()).add(dv_rel)
                return m

            ca, cb = _cover(dv_a), _cover(dv_b)
            mf_a = set(self._manifest_files(table, at=seq_a) or [])
            mf_b = set(self._manifest_files(table, at=seq_b) or [])
            changed = {r for r in (mf_a | mf_b)
                       if ca.get(r, set()) != cb.get(r, set())}
            only_a = sorted(set(only_a) | (changed & mf_a))
            only_b = sorted(set(only_b) | (changed & mf_b))
        p = self._path(table)
        all_rels = only_a + only_b
        if not all_rels:
            raise FileNotFoundError(
                f"{table} empty (or unchanged with zero files) at both "
                f"snapshots — nothing to diff"
            )
        # both sides read with the NEWER snapshot's declared schema so a
        # column added between the two diffs as NULL-vs-value, not as a
        # schema mismatch
        at_new = max(seq_a, seq_b)
        probe = self._tracked_read(table, all_rels, at=at_new).limit(0)

        def _side(rels: list[str], dv_map: dict) -> DataFrame:
            if not rels:
                return probe

            def _build(rs: list[str]) -> DataFrame:
                return self._tracked_read(
                    table, rs, at=at_new).select(*probe.columns)

            if dv_map:
                return self._dv_split_read(_build, table, dv_map, rels)
            return _build(rels)

        from ..operators.cdc import snapshot_diff

        return snapshot_diff(
            _side(only_a, self._dv_state(table, at=seq_a)),
            _side(only_b, self._dv_state(table, at=seq_b)),
            key_cols,
            change_col="_change_type",
        )

    def _pending_files(self, table: str) -> list[str]:
        t = self._active_txn
        if t is None or t._done:
            return []
        return t.pending.get(table.lower(), [])

    def _visible_files(self, table: str
                       ) -> tuple[list[str] | None, list[str]]:
        """(committed relpaths, or None for a table the log does not
        track; the open transaction's pending relpaths), as a read on
        this warehouse sees them. A table the open transaction replaces
        shows no committed files: its pending files are its whole file
        set."""
        t = self._active_txn
        if t is not None and not t._done and table.lower() in t.replaced:
            return [], self._pending_files(table)
        return self._manifest_files(table), self._pending_files(table)

    def table_files(self, table: str) -> DataFrame:
        """Iceberg ``db.table$files``-style METADATA relation: one row
        per live manifest file — relpath, hive partition values (JSON),
        footer row count and bloom presence from the manifest stats,
        on-disk size, whether a live deletion vector covers it, and the
        per-column [min, max] footer bounds the manifest holds
        (``column_stats``: LOGICAL column name -> [lo, hi] as strings,
        struct leaves under dotted paths — r12 verdict item #7: the
        clustering-quality / skew-before-compact inspections want the
        ranges, not just row counts). Pure control-plane (commit-log
        replay + one ``stat`` per file, no data read, no Spark job
        besides the local frame); the operational queries this answers
        — small-file skew before a compact, dv coverage before a fold,
        partition spread after a spec evolution, range overlap after a
        cluster/zorder — are exactly Iceberg's files-table use cases.
        SQL surface: ``table_files('t')`` anywhere a relation goes."""
        table = table.lower()
        mf = self._manifest_files(table)
        if mf is None:
            if not self.exists(table):
                raise ValueError(
                    f"table_files: {table} does not exist")
            # legacy (untracked) table: the directory listing IS the
            # file set, exactly like legacy reads; no manifest stats
            mf = _data_files(self._path(table))
        stats = self._manifest_stats(table)
        dv_map = self._dv_state(table)
        covered = {r for cov in dv_map.values() for r in cov}
        # stats record PHYSICAL column names (column-mapping slots);
        # surface the LOGICAL names users query by
        _, phys, _ = self._schema_meta(table)
        to_logical = {v.lower(): k for k, v in (phys or {}).items()}

        def _logical(c: str) -> str:
            head, dot, rest = c.partition(".")
            return to_logical.get(head.lower(), head) + dot + rest

        p = self._path(table)
        rows = []
        for rel in mf:
            st = stats.get(rel) or {}
            try:
                size = os.path.getsize(os.path.join(p, rel))
            except OSError:
                size = None
            parts = dict(_partition_pairs_of(rel))
            cstats = {
                _logical(c): [None if v is None else str(v) for v in b]
                for c, b in st.items()
                if not c.startswith("__") and isinstance(b, (list, tuple))
                and len(b) == 2
            }
            rows.append((
                rel,
                json.dumps(parts, sort_keys=True) if parts else None,
                st.get("__rows"),
                size,
                bool(st.get("__bloom")),
                rel in covered,
                cstats or None,
            ))
        schema = ("file string, partition_values string, "
                  "row_count long, size_bytes long, "
                  "has_bloom boolean, dv_covered boolean, "
                  "column_stats map<string,array<string>>")
        return _local_rows_df(self.spark, rows, schema)

    def clone_table(self, src: str, dst: str) -> int:
        """Zero-copy SHALLOW CLONE (the Delta ``CREATE TABLE dst
        SHALLOW CLONE src`` analog): ``dst`` is born with ONE commit
        referencing the source head snapshot's data. Files are
        HARD-LINKED into the clone's directory (same inode, no bytes
        moved), which makes vacuum safety structural instead of
        policy: either side's DML/compact/vacuum unlinks only its OWN
        directory entry, and the shared inode lives until both sides
        drop it — no cross-table reference tracking, no retention
        pinning. Cross-device roots degrade to a byte copy per file.

        Table metadata carries: partition spec, declared schema +
        column mapping, CHECK constraints, bloom config, live deletion
        vectors (sidecars linked too), and per-file stats (folded into
        a checkpoint sidecar right away, so the one O(table) clone
        entry never burdens later replays). The clone's history starts
        at this commit — time travel into the source's past happens on
        the source. Returns the number of files linked."""
        src, dst = src.lower(), dst.lower()
        self._invalidate_state()
        # ONE snapshot for everything below: file list, stats, dv map,
        # spec, constraints, schema are all derived from the state at
        # base_seq, so a concurrent commit landing mid-clone can't
        # produce mixed-snapshot metadata (e.g. a dv referencing a data
        # file this clone didn't link) — advisor r12
        base_seq = self._latest_seq()
        state = self._replay_state(base_seq) if base_seq else \
            self._replay_state()
        mf = state["tables"].get(src)
        if mf is None:
            raise ValueError(
                f"clone_table: {src} is not commit-log tracked")
        mf = list(mf)
        if state["tables"].get(dst) is not None or _data_files(
                self._path(dst)):
            raise ValueError(f"clone_table: {dst} already exists")
        src_dir, dst_dir = self._path(src), self._path(dst)
        dv_map = state["dv"].get(src, {})
        linked = 0
        try:
            for rel in list(mf) + sorted(dv_map):
                s = os.path.join(src_dir, rel)
                d = os.path.join(dst_dir, rel)
                os.makedirs(os.path.dirname(d), exist_ok=True)
                try:
                    os.link(s, d)
                except FileExistsError:
                    # a concurrent clone already linked this name: let
                    # the commit-time claim below decide the winner —
                    # never fall through to a copy that would overwrite
                    raise ValueError(
                        f"clone_table: {dst} is being cloned "
                        "concurrently") from None
                except OSError as e:
                    if e.errno != errno.EXDEV:
                        raise
                    shutil.copy2(s, d)  # cross-device: correct, not 0-copy
                linked += 1
        except BaseException:
            shutil.rmtree(dst_dir, ignore_errors=True)
            raise
        txn = Transaction(self)
        try:
            txn.enforce_constraints = False
            # commit as a REPLACE with the pre-link base snapshot: a
            # concurrent clone (or any other commit birthing dst)
            # between our existence check and the commit raises
            # CommitConflict instead of double-appending every relpath
            txn.replaced = {dst}
            txn.base_seq = base_seq
            txn.pending[dst] = list(mf)
            st = self._manifest_stats(src, at=base_seq or None)
            if st:
                txn.stats[dst] = {r: dict(v) for r, v in st.items()}
            pb = state["partition_by"].get(src)
            if pb:
                txn.partition_by[dst] = list(pb)
            if dv_map:
                txn.dv[dst] = {k: list(v) for k, v in dv_map.items()}
                rows = state["dv_rows"].get(src)
                if rows:
                    txn.dv_rows[dst] = dict(rows)
            cons = state["constraints"].get(src)
            if cons:
                txn.constraints = {dst: {"add": dict(cons)}}
            sj = state["schema"].get(src)
            if sj:
                txn.schema_updates = {dst: sj}
            fs = state["file_schema"].get(src)
            if fs is not None:
                txn.file_schemas[dst] = list(fs)
            bc = state["bloom_cols"].get(src)
            if bc:
                txn.bloom_cols = {dst: dict(bc)}
            txn.commit()
        except BaseException:
            if not txn._done:
                txn.abort()
            shutil.rmtree(dst_dir, ignore_errors=True)
            raise
        with contextlib.suppress(Exception):
            # fold the clone entry's inline stats into a columnar
            # checkpoint sidecar immediately: later replays stay
            # O(suffix) JSON even for a million-file clone
            self.write_checkpoint()
        return linked

    def vacuum_orphans(self, table: str,
                       retain_hours: float | None = None) -> int:
        """Delete data files a crashed (uncommitted) transaction left in
        a tracked table's directory. Returns files removed.

        Kept: files referenced by ANY still-readable snapshot — the
        manifest at the readable boundary (``max(min_readable_seq,
        expire_horizon)``) plus every file a retained entry added after
        it — and the live transaction's pending files. A logical replace
        (``merge_table``) promises pre-merge snapshots stay readable via
        ``read_at``, so its superseded files are NOT orphans; only
        ``compact``/``cluster`` (which delete files themselves and
        advance the retention boundary) ever strand history. Cost is
        O(retained entries) control-plane JSON, no data reads.

        ``retain_hours`` additionally keeps any unreferenced file whose
        mtime is younger than the cutoff (the Delta VACUUM retention
        window): a writer mid-stage on another machine may have created
        files this process cannot yet see a commit for."""
        cutoff = (time.time() - retain_hours * 3600.0
                  if retain_hours is not None else None)

        def _young(fp: str) -> bool:
            if cutoff is None:
                return False
            try:
                return os.path.getmtime(fp) >= cutoff
            except OSError:
                return True  # racing writer: keep
        mf = self._manifest_files(table)
        if mf is None:
            return 0  # untracked: legacy layout owns every file
        t = table.lower()
        base = max(self.min_readable_seq(t), self.expire_horizon())
        keep = set(mf) | set(self._pending_files(table))
        keep |= set(self._manifest_files(t, at=base) or [])
        for seq in self._list_log()[0]:
            if seq > base:
                entry = self._load_entry(seq)
                if entry is not None:
                    keep.update(entry.get("tables", {}).get(t, []))
        table_dir = self._path(table)
        removed = 0
        for dirpath, dirnames, fnames in os.walk(table_dir):
            dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
            for fn in fnames:
                if not fn.endswith(".parquet") or fn.startswith((".", "_")):
                    continue
                rel_dir = os.path.relpath(dirpath, table_dir)
                rel = os.path.join(rel_dir, fn) if rel_dir != "." else fn
                if rel not in keep and not _young(
                        os.path.join(dirpath, fn)):
                    with contextlib.suppress(OSError):
                        os.remove(os.path.join(dirpath, fn))
                        removed += 1
        # deletion-vector sidecars: keep every dv file ANY still-readable
        # snapshot's dv map references (state at the readable base, plus
        # each retained entry's recorded map — same window as above);
        # a dv file staged by a crashed commit is never referenced
        keep_dv = set(self._replay_state(at=base)["dv"].get(t, {})) \
            if base else set()
        keep_dv |= set(self._dv_state(t))
        for seq in self._list_log()[0]:
            if seq > base:
                entry = self._load_entry(seq)
                if entry is not None:
                    keep_dv.update(entry.get("dv", {}).get(t, {}))
        dv_dir = os.path.join(table_dir, "_dv")
        if os.path.isdir(dv_dir):
            now = time.time()
            for fn in os.listdir(dv_dir):
                if not fn.endswith(".parquet"):
                    continue
                fp = os.path.join(dv_dir, fn)
                if fn.startswith((".", "_")):
                    # dot-staged sidecar of an IN-FLIGHT DML (published
                    # by rename at its commit) — invisible to the sweep;
                    # only a crashed writer's stage older than an hour
                    # is reclaimed (no live commit can still adopt it)
                    with contextlib.suppress(OSError):
                        if now - os.path.getmtime(fp) > 3600:
                            os.remove(fp)
                            removed += 1
                    continue
                if os.path.join("_dv", fn) not in keep_dv \
                        and not _young(fp):
                    with contextlib.suppress(OSError):
                        os.remove(fp)
                        removed += 1
        return removed

    def exists(self, table: str) -> bool:
        """True iff the table holds actual DATA files.

        A tracked table counts the files the log commits plus the open
        transaction's pending ones (only the pending ones when that
        transaction replaces the table). An untracked directory counts
        its data files: a partitioned append of an EMPTY DataFrame
        writes only a _SUCCESS marker (no partition dirs, no part
        files) and Spark then fails schema inference on the read, so
        marker/hidden files don't count; one level of subdirectories
        covers a hive-partitioned layout."""
        mf, pend = self._visible_files(table)
        if mf is not None or pend:
            return bool(mf) or bool(pend)
        p = self._path(table)
        if not os.path.isdir(p):
            return False
        for entry in os.scandir(p):
            if entry.name.startswith(("_", ".")):
                continue
            if entry.is_file():
                # txn- files without a commit-log row are a crashed
                # transaction's orphans — invisible
                return not entry.name.startswith("txn-")
            for sub in os.scandir(entry.path):
                if not sub.name.startswith(("_", ".", "txn-")):
                    return True
        return False

    # -- append tables ------------------------------------------------------

    def append(self, df: DataFrame, table: str, partition_by: list[str] | None = None) -> None:
        if self._active_txn is not None and not self._active_txn._done:
            self._active_txn.append(df, table, partition_by)
            return
        if self._manifest_files(table.lower()) is not None:
            # the table is commit-log tracked: a raw directory append
            # would write files no manifest references (invisible to
            # every read) — route through a one-entry transaction
            # instead, which also enforces the table's CHECK
            # constraints inside the write job
            with self.transaction() as txn:
                txn.append(df, table, partition_by)
            return
        # legacy (untracked) directory append: materialize transform
        # entries' hidden partition columns exactly like the
        # transactional path, so the first-ever write to a table lays
        # out under the same derived keys later tracked appends will
        write_cols: list[str] = []
        for entry in partition_by or []:
            kind, prm, base, derived = _parse_spec_entry(entry)
            if kind == "identity":
                write_cols.append(entry)
                continue
            have = next((c for c in df.columns
                         if c.lower() == derived.lower()), None)
            if have is not None:
                # derived values are DEFINED as T(base): recompute,
                # never trust a same-named rider column
                df = df.drop(have)
            df = df.withColumn(
                derived, _spec_transform_expr(df, kind, prm, base))
            write_cols.append(derived)
        w = df.write.mode("append")
        if write_cols:
            w = w.partitionBy(*write_cols)
        w.parquet(self._path(table))

    def read(self, table: str, schema: T.StructType | None = None,
             merge_schema: bool = False,
             prune: dict | None = None) -> DataFrame:
        """Read a table; an absent table reads as an empty typed DataFrame.

        With ``schema`` given, the result is projected to exactly the
        schema's columns (in order): hive partition columns like ``dt``
        that the writer added for pruning are physical layout, not part
        of the logical table.

        A commit-log tracked table plans against the schema the log
        holds — declared, or the data-file schemas its commits recorded
        — so building the frame opens no footer and runs no Spark job.
        A table whose appends added columns reads as the union, older
        files NULL in the newer columns (Delta's additive evolution).
        Recorded types that cannot merge raise, as Spark's
        ``mergeSchema`` does. ``merge_schema=True`` matters only on an
        untracked legacy table, where it is Spark's footer
        ``mergeSchema``."""
        return self._read_impl(table, schema, merge_schema, prune)

    def _read_impl(self, table, schema, merge_schema, prune) -> DataFrame:
        if not self.exists(table):
            decl = self._declared_schema(table)
            if decl is not None:
                # CREATE TABLE'd (or fully-purged) declared table with
                # zero files: empty typed frame from the declaration
                df = _empty_df(self.spark, decl)
                if schema is not None:
                    df = df.select(*[f.name for f in schema.fields])
                return df
            if schema is None:
                raise FileNotFoundError(f"table {table} absent and no schema given")
            return _empty_df(self.spark, schema)
        mf, pend = self._visible_files(table)
        if mf is not None or pend:
            # tracked table: read exactly the committed (+ own-txn
            # pending) files by name; basePath keeps hive partition
            # columns (dt=...) parsing and pruning
            rels = (mf or []) + pend
            if prune and mf is not None and rels:
                # manifest-stats + hive-partition file skipping: drop a
                # file only when it provably holds no row in bounds;
                # files with no stats are always kept, and the caller
                # still applies its own row filter — pruning is a
                # strict superset contract, never a row filter
                stats = self._manifest_stats(table)
                pprune = self._prune_physical(table, prune)
                bpos = self._bloom_positions(table, pprune)
                rels = [
                    rel for rel in rels
                    if _file_may_match(rel, stats.get(rel), pprune, bpos)
                ]
                if not rels:
                    # every file skipped: empty frame with the table's
                    # schema (evolved columns included) from the log.
                    if schema is not None:
                        return _empty_df(self.spark, schema)
                    return self._tracked_read(
                        table, (mf or []) + pend).limit(0)

            def _build(rs: list[str]) -> DataFrame:
                return self._tracked_read(table, rs)

            dv_map = self._dv_state(table)
            if dv_map:
                # merge-on-read deletes: anti-join the deletion-vector
                # rows covering the files actually read (broadcast) —
                # per-file: files no dv covers scan without the join
                df = self._dv_split_read(_build, table, dv_map, rels)
            else:
                df = _build(rels)
        else:
            # untracked directory: Spark's footer inference
            reader = self.spark.read
            if merge_schema:
                reader = reader.option("mergeSchema", "true")
            df = reader.parquet(self._path(table))
        if schema is not None:
            df = df.select(*[f.name for f in schema.fields])
        return df

    def read_where(self, table: str, condition,
                   schema: T.StructType | None = None,
                   merge_schema: bool = False) -> DataFrame:
        """``read`` + row filter with file skipping derived from the
        predicate: conjunctive ``col op literal`` / BETWEEN / IN terms
        become ``prune`` bounds automatically (``derive_prune_bounds``,
        the same pass DML uses), so a selective read opens only the
        files whose footer stats / partition values might match —
        no hand-written bounds, and correctness never depends on the
        derivation (the row filter always applies)."""
        prune = derive_prune_bounds(
            self.spark, condition,
            struct_cols=self._struct_cols(table)) or None
        cond = F.expr(condition) if isinstance(condition, str) else condition
        return self.read(table, schema=schema, merge_schema=merge_schema,
                         prune=prune).where(cond)

    def _struct_cols(self, table: str) -> set:
        """Top-level STRUCT column names (lowercased) — the set that
        lets ``derive_prune_bounds`` accept dotted leaf terms
        (``meta.score = 5`` → bounds on the leaf's footer stats)
        without mistaking a table-alias-qualified reference for one."""
        try:
            schema = self._read_schema(table)[0]
        except (FileNotFoundError, ValueError):  # no schema: no structs
            return set()
        return {f.name.lower() for f in schema.fields
                if isinstance(f.dataType, T.StructType)}

    # -- replace writes -----------------------------------------------------

    def rewrite(self, df: DataFrame, table: str,
                partition_by: list[str] | None = None) -> None:
        """Replace the table's whole file set with ``df`` (the SCD2
        dimension's daily union-rewrite, SQL ``INSERT OVERWRITE``).
        Inside an open transaction the replace rides that transaction's
        one entry, so it commits or vanishes with everything else in
        it; otherwise it commits as a one-entry transaction of its own.
        Either way, a commit touching the table between this call and
        the commit raises ``CommitConflict``. ``partition_by`` is
        ``append``'s.

        A logical replace, like ``merge_table``: the superseded files
        stay on disk and ``read_at`` still reads them; ``expire_log``
        then ``vacuum_orphans`` reclaims them once no retained snapshot
        refers to them."""
        table = table.lower()
        txn = self._active_txn
        scope = (contextlib.nullcontext(txn)
                 if txn is not None and not txn._done
                 else self.transaction())
        with scope as txn:
            if txn.base_seq is None:
                txn.base_seq = self._latest_seq()
            # what this transaction staged for the table before is
            # replaced too (its files are orphans for vacuum_orphans)
            for staged in (txn.pending, txn.stats, txn.partition_by,
                           txn._own_schemas):
                staged.pop(table, None)
            txn.replaced.add(table)
            txn.append(df, table, partition_by)

    def compact(self, table: str, target_files_per_partition: int = 1,
                where: dict | None = None) -> None:
        """Rewrite an append table to coalesce small files.

        Daily appends accumulate one file-set per batch; at 100 TB the
        resulting small-files problem degrades scan parallelism and
        NameNode/listing pressure. Periodic compaction rewrites each
        hive partition into `target_files_per_partition` files.

        ``where`` scopes the rewrite to matching HIVE PARTITIONS only
        (``{"dt": "2021-03-02"}`` or ``{"dt": [..., ...]}``): untouched
        partitions' files are carried into the new replace entry
        verbatim — relpaths AND their recorded stats, so file skipping
        keeps working — and only the superseded files are deleted. This
        is the 100 TB maintenance shape (the Delta ``OPTIMIZE ...
        WHERE`` analog): you compact yesterday's partition after the
        last append, not the table. Requires a commit-log tracked
        table (the manifest is what makes a partial rewrite safe).

        An untracked table is compacted by a two-rename directory swap:
        atomic enough for a local/HDFS filesystem but NOT for object
        stores (no atomic rename); on S3-class storage route compaction
        through Delta/Iceberg OPTIMIZE instead.
        """
        mf = self._manifest_files(table)
        if mf is not None:
            # commit-log table: write the compacted file set as a new
            # transaction and publish it as ONE `replace` entry — the
            # snapshot that also stops the log needing unbounded replay.
            # Readers switch atomically at the entry link; the old files
            # are deleted after (in-flight readers holding the old list
            # finish off the already-open file handles). The replace
            # carries its base snapshot seq: a concurrent append to the
            # same table between read and publish raises CommitConflict
            # (first writer wins) and compaction re-reads and retries —
            # without this the replace would silently drop the racing
            # append's files (lost update).
            def _match(rel: str) -> bool:
                pairs = dict(_partition_pairs_of(rel))
                for k, v in (where or {}).items():
                    allowed = v if isinstance(v, (list, tuple, set)) else [v]
                    if pairs.get(k) not in {str(a) for a in allowed}:
                        return False
                return True

            for attempt in range(3):
                self._invalidate_state()
                base_seq = self._latest_seq()
                old = list(self._manifest_files(table) or [])
                selected = [r for r in old if _match(r)] if where else old
                if not selected:
                    # distinguish "no partition matches" (a fine no-op:
                    # e.g. compacting a day that saw no appends) from a
                    # where-key that is not a partition key of this
                    # table at all — that is always a caller bug and
                    # silently no-opping would hide it forever
                    keys = {k for r in old for k, _ in _partition_pairs_of(r)}
                    unknown = [k for k in (where or {}) if k not in keys]
                    if unknown:
                        raise ValueError(
                            f"compact(where=...): {unknown} are not hive "
                            f"partition keys of {table} "
                            f"(has: {sorted(keys) or 'none'})"
                        )
                    return  # nothing matches: no-op, no commit
                untouched = [r for r in old if r not in set(selected)]
                p = self._path(table)

                def _build(rs: list[str]) -> DataFrame:
                    return self._tracked_read(table, rs)

                df = _build(selected)
                dv_map = self._dv_state(table)
                if dv_map:
                    # fold merge-on-read deletes physically: the
                    # rewrite keeps only live rows, so the folded dv
                    # entries leave the map (and their files go below);
                    # per-file split — uncovered files skip the join
                    df = self._dv_split_read(_build, table, dv_map,
                                             selected)
                part_cols = self._rewrite_part_cols(table, df)
                txn = Transaction(self)
                txn.replaced = {table.lower()}
                txn.base_seq = base_seq
                # compaction rewrites the files SELECTED at base_seq:
                # files a concurrent append adds are disjoint by
                # construction, so commit absorbs them (carries them
                # forward) instead of livelocking maintenance under
                # streaming append rates (r12 verdict item #1)
                txn.absorb_appends = {table}
                txn.vacuum = True  # old files deleted below: retention moves
                if part_cols:
                    txn.append(
                        df.repartition(
                            target_files_per_partition,
                            *self._spec_partition_exprs(df, part_cols)),
                        table, partition_by=part_cols,
                    )
                else:
                    txn.append(df.coalesce(target_files_per_partition), table)
                if untouched:
                    # carry the unrewritten partitions into the new
                    # manifest: files verbatim — their stats carry
                    # FORWARD in replay (append-only stats channel),
                    # the entry never restates them
                    txn.pending[table] = untouched + txn.pending[table]
                survivors = self._dv_survivors(dv_map, set(selected))
                if survivors:
                    txn.dv[table] = survivors
                    self._carry_dv_rows(table, txn, survivors)
                try:
                    txn.commit()
                except CommitConflict:
                    if attempt == 2:
                        raise
                    self.vacuum_orphans(table)  # drop the stale staged files
                    continue
                table_dir = self._path(table)
                for rel in selected:
                    with contextlib.suppress(OSError):
                        os.remove(os.path.join(table_dir, rel))
                # folded dv files: compaction is a vacuum op (retention
                # advanced past every snapshot that referenced them)
                for dv_rel in set(dv_map) - set(survivors):
                    with contextlib.suppress(OSError):
                        os.remove(os.path.join(table_dir, dv_rel))
                # natural checkpoint moment: state was just folded to one
                # replace entry, so the snapshot is at its smallest
                with contextlib.suppress(Exception):
                    self.write_checkpoint()
                return
            return
        if where is not None:
            raise ValueError(
                "partition-scoped compact (where=...) needs a commit-log "
                f"tracked table; {table} has no manifest to carry the "
                "untouched partitions through"
            )
        df = self.spark.read.parquet(self._path(table))
        # legacy (untracked) table: preserve whatever hive layout the
        # directory shows — identity dt and hidden-transform keys alike
        disk_keys = {e.split("=", 1)[0]
                     for e in os.listdir(self._path(table)) if "=" in e}
        part_cols = [c for c in df.columns if c in disk_keys]
        if part_cols:
            out = df.repartition(target_files_per_partition, *part_cols)
            tmp = self._path(table) + ".compact"
            out.write.mode("overwrite").partitionBy(*part_cols).parquet(tmp)
        else:
            out = df.coalesce(target_files_per_partition)
            tmp = self._path(table) + ".compact"
            out.write.mode("overwrite").parquet(tmp)
        final = self._path(table)
        trash = final + ".old"
        os.rename(final, trash)
        os.rename(tmp, final)
        shutil.rmtree(trash, ignore_errors=True)

    def cluster_table(self, table: str, col: str, n_files: int = 8) -> None:
        """OPTIMIZE-style clustering: rewrite a tracked table
        range-partitioned and sorted by ``col`` so each file covers a
        narrow value range, making the manifest min/max stats sharp —
        a selective ``read(..., prune={col: (lo, hi)})`` then skips
        most files outside the band (the Delta ZORDER/Iceberg
        sort-order analog for a single key).

        A ``dt``-hive-partitioned table keeps its layout: files are
        clustered by ``col`` WITHIN each dt directory (``n_files`` value
        ranges per partition), so partition pruning and file skipping
        compose — without this, clustering would materialize ``dt`` as a
        physical column in flat files and the next partitioned append
        would mix dt-as-directory with dt-as-data under one basePath.

        Publishes one optimistic-concurrency ``replace`` commit (same
        conflict/retry contract as ``compact``); old files are deleted
        — clustering is file maintenance, so it advances the time-travel
        retention horizon exactly like compaction does."""
        self._cluster_rewrite(table, n_files, lambda df: [F.col(col)],
                              op="cluster_table")

    def zorder_table(self, table: str, cols: list[str],
                     n_files: int = 8, bits: int = 8) -> None:
        """Multi-column OPTIMIZE ZORDER: rewrite a tracked table
        range-partitioned along the Morton curve over ``cols`` so each
        file's manifest min/max stats are narrow in EVERY interleaved
        column — ``read(..., prune={c: (lo, hi)})`` then skips files
        for a selective band on ANY of them, where single-column
        ``cluster_table`` sharpens only its one key.

        Each column maps to an ORDER-PRESERVING numeric curve position
        by type — numerics as-is, date/timestamp via epoch arithmetic,
        strings by stripping the table-wide common prefix (known from
        the same stats row) and reading the next 8 bytes as a
        big-endian integer (the Iceberg truncate-transform analog;
        lexicographic byte order == numeric order on the fixed-width
        slice, so lex-adjacent strings get adjacent curve positions and
        each file's RAW-string manifest min/max stays narrow — a hash
        would scatter neighbors and leave every file's stats spanning
        the whole domain) — then min-max scaled into ``bits`` bits via
        ONE control-plane stats row and bit-interleaved
        (``operators.scale.zorder_key``): scan-local codegen, no extra
        shuffle beyond the rewrite's range partition. Same
        replace-commit / conflict-retry / vacuum-horizon contract as
        ``cluster_table``; dt-hive layout is preserved (curve within
        each dt directory)."""
        if len(cols) < 2:
            raise ValueError("zorder_table needs >= 2 columns; use "
                             "cluster_table for one")

        def _base_expr(field: T.StructField):
            """Stats-pass expression: the curve position for non-string
            types (order-preserving by construction), the RAW column
            for strings (min/max strings are needed to pick the common
            prefix before the byte-slice transform exists)."""
            c = F.col(field.name)
            dt = field.dataType
            if isinstance(dt, T.DateType):
                return F.datediff(c, F.lit("1970-01-01")), False
            if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
                return F.unix_timestamp(c), False
            if isinstance(dt, T.StringType):
                return c, True
            if isinstance(dt, (T.NumericType, T.BooleanType)):
                return c.cast("double"), False
            raise ValueError(
                f"zorder_table: column {field.name!r} has unsupported "
                f"type {dt.simpleString()}"
            )

        def _zcol(df: DataFrame):
            by_name = {f.name: f for f in df.schema.fields}
            missing = [c for c in cols if c not in by_name]
            if missing:
                raise ValueError(f"zorder_table: missing columns {missing}")
            base = [_base_expr(by_name[c]) for c in cols]
            stats = df.agg(*[
                f(b).alias(f"{w}_{i}")
                for i, (b, _) in enumerate(base)
                for w, f in (("lo", F.min), ("hi", F.max))
            ]).collect()[0]
            from ..operators.scale import (
                str_curve,
                zorder_key,
                zorder_scale,
                zorder_scale_col,
            )
            # dt-partitioned tables scale each dimension against its
            # PER-PARTITION min/max (window bounds): the curve is laid
            # out within each dt dir, and global scaling would spread
            # the 2**bits resolution across the whole history — at 365
            # days a timestamp dimension gets <1 bucket/day and the
            # midnight-band skip dies. Costs one extra exchange (by dt)
            # during the maintenance rewrite only.
            # the per-partition scaling key: the recorded spec's value
            # expression (identity column or hidden-transform derived
            # value — the r13 days() fact layout), else the legacy dt
            # column when present
            pexprs = self._spec_partition_exprs(
                df, self._rewrite_part_cols(table, df))
            per_dt = bool(pexprs) or "dt" in df.columns
            if per_dt:
                from pyspark.sql.window import Window
                w = Window.partitionBy(*(pexprs or [F.col("dt")]))
            scaled = []
            for i, (c, (b, is_str)) in enumerate(zip(cols, base)):
                lo, hi = stats[f"lo_{i}"], stats[f"hi_{i}"]
                if is_str:
                    # global stats still pick the prefix (common to all
                    # partitions by definition of global min/max); the
                    # numeric expr is order-preserving, so window
                    # min/max of it == transform of per-dt min/max
                    lo, hi, b = str_curve(F.col(c), lo, hi)
                if per_dt:
                    scaled.append(zorder_scale_col(
                        b, F.min(b).over(w), F.max(b).over(w), bits))
                else:
                    scaled.append(zorder_scale(b, lo, hi, bits))
            return [zorder_key(scaled, bits)]

        self._cluster_rewrite(table, n_files, _zcol, op="zorder_table")

    def _cluster_rewrite(self, table: str, n_files: int, key_cols_fn,
                         op: str = "cluster_table") -> None:
        """Shared replace-rewrite loop for file-clustering maintenance:
        ``key_cols_fn(df)`` returns the ordering expression(s); rows are
        range-partitioned and sorted by (dt?, *keys), committed as one
        optimistic-concurrency vacuum replace, superseded files deleted,
        checkpoint refreshed."""
        if self._manifest_files(table) is None:
            raise ValueError(f"{op}: {table} is not commit-log tracked")
        for attempt in range(3):
            self._invalidate_state()
            base_seq = self._latest_seq()
            old = list(self._manifest_files(table) or [])
            dv_map = self._dv_state(table)
            df = self.read(table)  # dv-applied: the rewrite folds them
            keys = key_cols_fn(df)
            part_cols = self._rewrite_part_cols(table, df)
            # materialize the ordering expressions once: evaluated a
            # single time instead of once in repartitionByRange and
            # again in the sort, and window-backed keys (per-partition
            # z-order bounds) are legal as columns where they are
            # rejected as raw repartition expressions
            kc = [f"_ck_{i}" for i in range(len(keys))]
            aug = df.select(
                "*", *[k.alias(n) for n, k in zip(kc, keys)]
            )
            txn = Transaction(self)
            txn.replaced = {table.lower()}
            txn.base_seq = base_seq
            # same file-disjointness argument as compact(): the
            # clustering rewrite absorbs concurrent appends at commit
            txn.absorb_appends = {table}
            txn.vacuum = True
            if part_cols:
                # n_files ranges over (dt, *keys); partitionBy then
                # peels dt into directories, so each written file covers
                # a narrow key band inside its dt dir (transform spec
                # entries range over their derived VALUE expression)
                pexprs = self._spec_partition_exprs(aug, part_cols)
                clustered = aug.repartitionByRange(
                    max(n_files, 1), *pexprs, *kc
                ).sortWithinPartitions(*pexprs, *kc).drop(*kc)
                txn.append(clustered, table, partition_by=part_cols)
            else:
                clustered = aug.repartitionByRange(
                    n_files, *kc
                ).sortWithinPartitions(*kc).drop(*kc)
                txn.append(clustered, table)
            try:
                txn.commit()
            except CommitConflict:
                if attempt == 2:
                    raise
                self.vacuum_orphans(table)
                continue
            table_dir = self._path(table)
            for rel in old:
                with contextlib.suppress(OSError):
                    os.remove(os.path.join(table_dir, rel))
            for dv_rel in dv_map:  # folded by the dv-applied full read
                with contextlib.suppress(OSError):
                    os.remove(os.path.join(table_dir, dv_rel))
            with contextlib.suppress(Exception):
                self.write_checkpoint()
            return

    def read_changes(self, table: str, since_seq: int,
                     cdf_table: str | None = None) -> DataFrame:
        """Batch read of a table's CDF sidecar SINCE a commit: exactly
        the feed files committed after ``since_seq`` (manifest set diff
        — no data read to decide; the fast path needs no row filter
        because feed files are immutable and append-only). The batch
        sibling of tailing the sidecar with ``stream_table``; pass the
        head seq you processed last (e.g. from ``snapshots()``).

        Raises ``SnapshotExpired`` when ``since_seq`` predates the
        expire horizon (the replay there would yield an EMPTY before-set
        and silently re-deliver the whole feed — same contract as
        ``read_at``/``restore``, and reachable in normal operation once
        ``expire_keep`` auto-expiry is on).

        A ``compact()`` of the sidecar inside ``(since_seq, head]``
        rewrites the feed's file SET, so the manifest diff alone would
        re-emit already-delivered rows. Detected from the log (a replace
        entry touching the sidecar outside its ``append_tables``), the
        read switches to the exact slow path: scan the compacted feed
        and keep only rows whose ``_txn`` belongs to a commit after
        ``since_seq`` — every such commit's entry is still in the log
        (all are above the horizon), so the filter list is complete."""
        sidecar = (cdf_table or f"{table}__cdf").lower()
        horizon = self.expire_horizon()
        if 0 < since_seq < horizon:
            raise SnapshotExpired(
                f"read_changes since {since_seq} predates the expire "
                f"horizon {horizon}: the commits that delimit the feed "
                f"were folded by expire_log, so the diff would silently "
                f"re-deliver the entire feed; oldest usable since_seq "
                f"is {horizon}"
            )
        after = self._manifest_files(sidecar)
        if after is None:
            raise ValueError(
                f"{sidecar} does not exist: no cdf=True merge has run "
                f"for {table}"
            )
        rewritten, range_txns = False, []
        if since_seq > 0:
            for seq in self._list_log()[0]:
                if seq <= since_seq:
                    continue
                entry = self._load_entry(seq)
                if entry is None or sidecar not in entry.get("tables", {}):
                    continue
                range_txns.append(entry.get("txn"))
                if entry.get("op") == "replace" and \
                        sidecar not in entry.get("append_tables", []):
                    rewritten = True
        if rewritten:
            # exact slow path: compacted files mix old and new rows, so
            # file identity no longer partitions the feed — filter by
            # the merge transaction ids committed after since_seq (a
            # short driver-side literal list, O(commits in range))
            return self._tracked_read(sidecar, after).where(
                F.col("_txn").isin([t for t in range_txns if t])
            )
        before = set(self._manifest_files(sidecar, at=since_seq) or [])
        new = [f for f in after if f not in before]
        if not new:
            return self._tracked_read(sidecar, after).limit(0)
        return self._tracked_read(sidecar, new)

    def restore(self, table: str, seq: int) -> None:
        """RESTORE the table to its state at commit ``seq`` (the Delta
        ``RESTORE TABLE ... TO VERSION`` analog) as one new ``replace``
        commit — metadata-only: the old snapshot's files are RELINKED
        into a fresh entry (with their recorded stats), nothing is
        rewritten or copied, so restoring a 100 TB table costs one JSON
        write. History is preserved: the rolled-back commits stay
        readable via ``read_at`` (a restore is a new commit, not an
        erasure — same contract as Delta RESTORE). Raises
        ``SnapshotExpired`` / ``SnapshotVacuumed`` when ``seq`` is
        behind the expire horizon or a compact/cluster vacuum (the
        files no longer exist), and ``ValueError`` for untracked
        tables. Optimistic concurrency: the replace carries the current
        head as its base, so a racing commit raises ``CommitConflict``
        instead of being silently rolled back."""
        table = table.lower()
        horizon = self.expire_horizon()
        if seq < horizon:
            raise SnapshotExpired(
                f"cannot restore {table} to snapshot {seq}: it predates "
                f"the expire horizon {horizon}"
            )
        boundary = self.min_readable_seq(table)
        if seq < boundary:
            raise SnapshotVacuumed(
                f"cannot restore {table} to snapshot {seq}: a "
                f"compact/cluster at commit {boundary} deleted its files; "
                f"oldest restorable snapshot is {boundary}"
            )
        files = self._manifest_files(table, at=seq)
        if files is None:
            raise ValueError(
                f"{table} has no commit-log history as of seq {seq}"
            )
        stats = self._manifest_stats(table, at=seq)
        state_at = self._replay_state(at=seq)
        txn = Transaction(self)
        txn.replaced = {table}
        txn.base_seq = self._latest_seq()
        txn.pending = {table: list(files)}
        if stats:
            txn.stats = {table: dict(stats)}
        # a restore relinks the old snapshot wholesale: its partition
        # layout and deletion-vector map come back with it
        pb = state_at["partition_by"].get(table)
        if pb:
            txn.partition_by[table] = list(pb)
        dv = state_at["dv"].get(table)
        if dv:
            txn.dv[table] = {k: list(v) for k, v in dv.items()}
            dvr = state_at.get("dv_rows", {}).get(table)
            if dvr:
                txn.dv_rows[table] = dict(dvr)
        # the snapshot's own schema list (footer-read when it predates the
        # channel), never the head's: the relinked files are not this
        # txn's, so the commit would otherwise keep the head's list
        txn.file_schemas[table] = list(
            self._recorded_file_schemas(table, at=seq))
        txn.commit()

    def merge_table(self, table: str, changes: DataFrame, key: str,
                    version_cols, payload_cols, op_col: str = "op",
                    cdf: bool = False, cdf_table: str | None = None) -> None:
        """MERGE a CDC changelog into a table as ONE atomic commit.

        Applies ``operators.cdc.apply_changelog`` (latest-change-per-key
        upsert with tombstone deletes) to the table's current snapshot
        and publishes the result as a commit-log ``replace`` entry — the
        same optimistic-concurrency shape as ``compact()``: the replace
        carries its base snapshot seq, a concurrent append to the same
        table raises ``CommitConflict`` and the merge re-reads and
        retries, so a racing append is merged rather than lost. Readers
        switch atomically at the manifest link; pre-merge snapshots stay
        readable via ``read_at`` (old files are NOT deleted — merge is a
        logical change, not file maintenance; ``compact()`` remains the
        reclaim path).

        ``cdf=True`` is CDF-ON-WRITE (the Delta Change Data Feed shape):
        the merge ALSO appends the row-level changes it causes —
        ``operators.cdc.snapshot_diff(current, merged)``: insert /
        delete / update_preimage / update_postimage rows, tagged with
        the merge's transaction id — to an append-only sidecar table
        (default ``<table>__cdf``) in the SAME transaction, so the
        table state and its change feed can never disagree. Because the
        sidecar is append-only, ``streaming.table_stream.stream_table``
        tails it directly: downstream consumers get a row-level change
        STREAM without ever diffing snapshots (table_diff remains the
        derive-after-the-fact path for tables that didn't opt in).
        The sidecar is a normal tracked table: ``compact()`` /
        ``expire_log`` bound its file count and log history, but a
        compaction is a replace entry — tailing consumers must pass
        ``on_replace=reemit`` (and dedup by ``_txn``) or compact in
        maintenance windows between stream runs. ``read_changes`` is
        the batch read of the feed since a given commit.
        """
        from ..operators import cdc

        if not self.exists(table):
            raise ValueError(f"merge_table: unknown table {table}")
        sidecar = (cdf_table or f"{table}__cdf").lower() if cdf else None
        for attempt in range(3):
            self._invalidate_state()
            base_seq = self._latest_seq()
            current = self.read(table)
            merged = cdc.apply_changelog(
                current, changes, key=key, version_cols=version_cols,
                payload_cols=payload_cols, op_col=op_col,
            )
            part_cols = self._rewrite_part_cols(table, current)
            txn = Transaction(self)
            txn.replaced = {table.lower()}
            txn.base_seq = base_seq
            txn.append(merged, table, partition_by=part_cols or None)
            if sidecar:
                feed = cdc.snapshot_diff(current, merged, [key]).withColumn(
                    "_txn", F.lit(txn.txnid)
                )
                txn.append(feed, sidecar)
            try:
                txn.commit()
                return
            except CommitConflict:
                if attempt == 2:
                    raise
                self.vacuum_orphans(table)
                if sidecar:
                    self.vacuum_orphans(sidecar)

    def merge_when(self, table: str, source: DataFrame, on: list[str], *,
                   matched: list[dict] | None = None,
                   not_matched: list[dict] | None = None,
                   not_matched_by_source: list[dict] | None = None,
                   cdf: bool = False,
                   cdf_table: str | None = None,
                   target_alias: str = "target",
                   source_alias: str = "source",
                   mode: str = "rewrite",
                   dv_max_rows: int | None = 100_000,
                   schema_evolution: bool = False) -> dict:
        """Conditional multi-clause MERGE INTO ``table`` USING
        ``source`` ON equality of the ``on`` columns — the Delta
        ``WHEN MATCHED [AND cond] THEN UPDATE SET …/DELETE, WHEN NOT
        MATCHED [AND cond] THEN INSERT, WHEN NOT MATCHED BY SOURCE
        [AND cond] THEN UPDATE/DELETE`` statement as ONE atomic replace
        commit. Clause dicts come from ``operators.merge`` (or its
        ``when_*`` helpers); conditions/SET/VALUES see the pair as
        ``target.<col>`` / ``source.<col>``. The reference's SCD2
        close-then-insert (incr_loading.py:79-101) is the two-clause
        instance of this statement.

        File-level, like ``delete_where``, in two passes (the Delta
        Lake shape): candidate files are pruned by the SOURCE's ON-key
        min/max (necessary bounds — a matching target row must share a
        key with some source row). ONE tagged pass then runs
        ``operators.merge.MergePlan``'s full-outer join over the
        candidates' live rows and collects, per (file, clause tag), the
        row counts, whether the file holds a matched pair, and the
        cardinality guard. ONE write follows: the files holding matched
        pairs are rewritten (one CASE projection), every other file
        carries verbatim with its stats. A small candidate set with a
        small source runs as one slice, and the write reads the cached
        tagged frame back; otherwise the tagged pass reads only the
        key and condition columns of the target rows whose key the
        source holds, and the write joins again over the files holding
        matched pairs. A source Spark cannot size as small is cached at
        its first scan.
        ``NOT MATCHED BY SOURCE`` clauses can touch any
        target row, so their presence makes every file a candidate
        (the Delta posture; narrow such merges with selective
        conditions at the caller if needed). Deletion vectors covering
        rewritten files fold into the rewrite; vectors on untouched
        files survive.

        Guards: duplicate ON-keys in the source that match target rows
        raise (the SQL MERGE cardinality violation — one target row
        updated by two source rows is nondeterministic); a ``_src``-
        style reserved-name clash cannot occur here (the merge join
        uses alias-qualified columns only). ``cdf=True`` appends the
        row-level changes (insert / delete / update_preimage /
        update_postimage, tagged ``_txn``) to the table's CDF sidecar
        in the SAME commit — ``delete_where``'s feed shape, so
        CDF-driven rollups absorb the merge exactly.

        ``mode="dv"`` is the MERGE-ON-READ merge (the same lever
        ``delete_where``/``update_where`` have): touched files are NOT
        rewritten — updated/deleted rows' preimages land in a
        deletion-vector sidecar, update postimages and inserts are
        APPENDED in the same commit, reads see old−pre+post+new. A
        scattered-key merge over a 100 TB table writes one sidecar +
        the new rows instead of rewriting every touched file;
        ``compact()`` folds later. ``dv_max_rows`` bounds the sidecar
        exactly as in ``delete_where`` (over the cap: eager rewrite +
        warning; None disables).

        ``schema_evolution=True`` (the Delta ``withSchemaEvolution()``
        analog): source columns the target lacks are DECLARED onto the
        table in the SAME commit as the merged data — existing files
        surface them as typed NULLs, clause outputs carry them
        physically. A shared column whose source type conflicts with
        the target's raises (cast the source explicitly); re-added
        previously-dropped names bind fresh physical slots exactly as
        ``add_columns`` does.

        Returns ``{"updated": n, "deleted": n, "inserted": n}``
        (all zero = no commit)."""
        from ..operators import merge as M

        matched = list(matched or [])
        not_matched = list(not_matched or [])
        nmbs = list(not_matched_by_source or [])
        if mode not in ("rewrite", "dv"):
            raise ValueError("mode must be 'rewrite' or 'dv'")
        if not (matched or not_matched or nmbs):
            raise ValueError("merge_when: no clauses given")
        mf0 = self._manifest_files(table)
        if mf0 is None:
            raise ValueError(
                f"merge_when: {table} is not commit-log tracked (no "
                "manifest to carry untouched files through)"
            )
        if not mf0:
            raise ValueError(
                f"merge_when: {table} has no committed files — append "
                "the initial data instead of merging into nothing"
            )
        sidecar = (cdf_table or f"{table}__cdf").lower() if cdf else None

        def _compute_evolution() -> tuple[str | None, list]:
            """Evolved-schema payload from the CURRENT replayed schema.
            Called inside the retry loop: the schema channel is whole-
            value replace, so a conflict retry must fold in any columns
            a concurrent add_columns/evolving commit declared — a stale
            payload would silently drop them from the declaration."""
            if not schema_evolution:
                return None, []
            decl, physmap, retired = self._schema_meta(table)
            if decl is None:
                # first evolution declares the table (footer-union
                # baseline, same contract as add_columns)
                decl = self.read(table, merge_schema=True).schema
                physmap, retired = {}, set()
            declared = {f.name.lower(): f.dataType for f in decl.fields}
            conflicts = []
            new_fields = []
            for f in source.schema.fields:
                want = declared.get(f.name.lower())
                if want is None:
                    if not f.name.startswith(("_", ".")):
                        new_fields.append(f)
                elif want != f.dataType:
                    conflicts.append(
                        f"{f.name}: source {f.dataType.simpleString()} "
                        f"vs target {want.simpleString()}")
            if conflicts:
                raise ValueError(
                    "merge_when(schema_evolution=True): shared-column "
                    f"type conflict(s) {conflicts} — cast the source "
                    "explicitly; evolution only ADDS columns")
            if not new_fields:
                return None, []
            physmap = dict(physmap)
            used_phys = {physmap.get(f.name.lower(),
                                     f.name).lower()
                         for f in decl.fields} | set(retired)
            for f in new_fields:
                if f.name.lower() in used_phys:
                    pname = f"{f.name}__r{uuid.uuid4().hex[:6]}"
                    physmap[f.name.lower()] = pname
                    used_phys.add(pname.lower())
                else:
                    used_phys.add(f.name.lower())
            evolved = T.StructType(
                list(decl.fields) + [
                    T.StructField(f.name, f.dataType, True)
                    for f in new_fields])
            return (self._schema_meta_json(evolved, physmap,
                                           set(retired)),
                    [(f.name, f.dataType) for f in new_fields])
        # A source Spark cannot size as small (a Python RDD, a scan of a
        # large table) is cached at its first scan, the bounds below:
        # the tagged pass and the write then read it back.
        src_small = self._small_plan(source)
        if not src_small:
            source = source.persist()
        try:
            # source ON-key bounds: a NECESSARY prune (any matched target
            # row shares its key with a source row, so it lies in bounds)
            aggs = [F.count(F.lit(1)).alias("__n")]
            for k in on:
                aggs += [F.min(k).alias(f"__lo_{k}"),
                         F.max(k).alias(f"__hi_{k}")]
            row = source.agg(*aggs).first()

            def _iso(v):
                return v.isoformat() if isinstance(
                    v, (datetime.date, datetime.datetime)) else v

            prune = {}
            for k in on:
                lo, hi = _iso(row[f"__lo_{k}"]), _iso(row[f"__hi_{k}"])
                if lo is not None and hi is not None and all(
                        isinstance(v, (int, float, str)) and
                        not isinstance(v, bool) for v in (lo, hi)):
                    prune[k] = (lo, hi)
            # insert-only merges never rewrite target files: matched rows
            # ride untouched in place, only the unmatched source rows land
            # (as appended files inside the replace) — Delta's insert-only
            # optimization, and it makes duplicate source keys benign there
            # (both copies are simply "matched", neither inserts twice a
            # target rewrite could duplicate)
            rewrite_needed = bool(matched or nmbs)
            from pyspark.sql.window import Window

            dupcol = "__merge_dupn"
            while dupcol in source.columns:
                dupcol = "_" + dupcol
            for attempt in range(3):
                self._invalidate_state()
                base_seq = self._latest_seq()
                evolved_json, new_target_cols = _compute_evolution()
                mf = list(self._manifest_files(table) or [])
                stats = self._manifest_stats(table)
                dv_map = self._dv_state(table)

                def _build(rs: list[str]) -> DataFrame:
                    return self._tracked_read(table, rs)

                pprune = self._prune_physical(table, prune)
                bpos = self._bloom_positions(table, pprune)
                cand = mf if nmbs or not prune else [
                    r for r in mf
                    if _file_may_match(r, stats.get(r), pprune, bpos)]
                newest = _build(mf[-1:])
                self._dml_reserved(table, newest.columns, "merge_when")
                # one slice only when the source is small too: a coalesce
                # narrows its whole upstream stage into the one task
                one_slice = src_small and self._one_slice(
                    stats, cand, row["__n"])
                src = source.coalesce(1) if one_slice else source
                # Duplicate-ON-key guard folded into the tagged pass: a
                # per-key source count rides the join as a window column —
                # the ON-key window partitions exactly like the merge
                # join's source side, so it costs no job of its own.
                # Insert-only merges skip it.
                src_m = src.withColumn(
                    dupcol, F.count(F.lit(1)).over(Window.partitionBy(*on))
                ) if rewrite_needed else src

                def _plan(files: list[str], keyed: bool = False
                          ) -> "M.MergePlan":
                    """MergePlan's full-outer join of ``files``' live rows
                    (their source file in _src) with the source.
                    ``keyed`` keeps only target rows whose ON key the
                    source holds (a semi-join Spark can broadcast): the
                    pairs, the inserts and the guard are unchanged, and
                    without NOT MATCHED BY SOURCE clauses no other
                    target row gets a tag that counts."""
                    if files:
                        target_df = self._dv_split_read(
                            _build, table, dv_map, files, keep_file_col="_src")
                        if keyed:
                            target_df = target_df.join(
                                src.select(*on), list(on), "left_semi")
                    else:
                        # no file can hold a matching key: matched/nmbs
                        # clauses are vacuous, only inserts can land — an
                        # empty, correctly-typed target side (newest file's
                        # schema)
                        target_df = newest.limit(0).withColumn(
                            "_src", _basename_col())
                    for name, dtype in new_target_cols:
                        # schema evolution: the target side surfaces the new
                        # columns as typed NULLs so every clause can
                        # reference target.<col> and the projection carries
                        # them
                        target_df = target_df.withColumn(
                            name, F.lit(None).cast(dtype))
                    if one_slice:
                        target_df = target_df.coalesce(1)
                    return M.MergePlan(target_df, src_m, list(on), matched,
                                       not_matched, nmbs,
                                       target_alias=target_alias,
                                       source_alias=source_alias,
                                       exclude_cols=("_src",))

                plan = _plan(cand, keyed=not (one_slice or nmbs))
                # One slice: the tagged frame is cached, and the write reads
                # it back. Otherwise the tagged pass reads only the columns
                # the tags need (the key and clause-condition columns) of
                # the rows the source keys reach, and the write joins
                # again over the files holding matched pairs: caching
                # every candidate row at full width costs more than that
                # second join once the candidate set is large.
                cached = plan.tagged.coalesce(1).persist() if one_slice \
                    else None
                tagged = cached if one_slice else plan.tagged
                try:
                    t_src = F.col(f"{target_alias}._src")
                    pair = F.col(f"{target_alias}.{M._T_FLAG}").isNotNull() \
                        & F.col(f"{source_alias}.{M._S_FLAG}").isNotNull()
                    aggs = [F.count(F.lit(1)).alias("n"),
                            F.max(pair.cast("int")).alias("__pair")]
                    if rewrite_needed:
                        # the cardinality guard: ANY matched pair whose
                        # source key has >1 source rows
                        aggs.append(F.max(F.when(
                            pair & (F.col(f"{source_alias}.{dupcol}") > 1),
                            1).otherwise(0)).alias("__dup"))
                    # THE tagged pass: per (target file, clause tag) counts,
                    # which files hold matched pairs, and the guard — one
                    # collect, bounded by files x tags
                    tag_rows = tagged.groupBy(t_src.alias("__f"), M._ACT) \
                        .agg(*aggs).collect()
                    if rewrite_needed and any(r["__dup"] for r in tag_rows):
                        raise ValueError(
                            "merge_when cardinality violation: multiple "
                            "source rows share an ON key that matches a "
                            f"{table} row — deduplicate the source (SQL "
                            "MERGE would nondeterministically apply one of "
                            "them)"
                        )
                    by_tag: dict[str, int] = {}
                    for r in tag_rows:
                        by_tag[r[M._ACT]] = by_tag.get(r[M._ACT], 0) + r["n"]
                    n_upd = sum(by_tag.get(t, 0) for t in plan.update_tags)
                    n_del = sum(by_tag.get(t, 0) for t in plan.delete_tags)
                    n_ins = sum(by_tag.get(t, 0) for t in plan.insert_tags)
                    if n_upd == n_del == n_ins == 0:
                        return {"updated": 0, "deleted": 0, "inserted": 0}
                    # files holding matched pairs (with NOT MATCHED BY
                    # SOURCE clauses, every candidate): the rewrite replaces
                    # them, the rest carry verbatim
                    hit = {r["__f"] for r in tag_rows if r["__pair"]}
                    paired = sorted(cand) if nmbs else sorted(
                        r for r in cand if os.path.basename(r) in hit)
                    touched = paired if rewrite_needed else []
                    if not one_slice:
                        # every row the write needs, and every match an
                        # insert must not repeat, lies in these files
                        plan = _plan(paired)
                        tagged = plan.tagged
                    changed = {r["__f"] for r in tag_rows if r[M._ACT] in
                               plan.update_tags + plan.delete_tags}
                    eff_mode = mode
                    if mode == "dv" and rewrite_needed and \
                            dv_max_rows is not None and \
                            (n_upd + n_del) > dv_max_rows:
                        warnings.warn(
                            f"merge_when(mode='dv') on {table} changed "
                            f"{n_upd + n_del} rows > dv_max_rows="
                            f"{dv_max_rows}; falling back to eager rewrite "
                            "so reads don't broadcast an oversized deletion "
                            "vector (raise dv_max_rows or pass None to "
                            "override)",
                            stacklevel=2,
                        )
                        eff_mode = "rewrite"
                    act = F.col(M._ACT)
                    if not rewrite_needed:
                        out = plan.project(tagged.where(
                            act.isin(plan.insert_tags)))
                    elif eff_mode == "dv":
                        # merge-on-read: only NEW rows land as files —
                        # update postimages + inserts; keeps stay in place
                        out = plan.project(tagged.where(act.isin(
                            plan.update_tags + plan.insert_tags)))
                    else:
                        # the rewritten files' rows plus the source rows
                        out = plan.project(tagged.where(
                            t_src.isNull() | t_src.isin(
                                [os.path.basename(r) for r in touched])))
                    part_cols = self._rewrite_part_cols(table, newest)
                    txn = Transaction(self)
                    txn.replaced = {table.lower()}
                    txn.base_seq = base_seq
                    if evolved_json is not None:
                        # declare the evolved schema IN THIS commit: the
                        # append below validates against it (pending
                        # schema), and readers see declaration + data move
                        # atomically (Delta withSchemaEvolution)
                        txn.schema_updates = {table: evolved_json}
                    txn.append(out, table, partition_by=part_cols or None)
                    if eff_mode == "dv" and rewrite_needed:
                        # nothing rewritten: EVERY existing file carries
                        # verbatim (stats carry forward in replay — the
                        # entry stays O(files touched)), preimages of
                        # changed rows go to a dv sidecar covering exactly
                        # the files they came from; existing dv entries
                        # survive
                        txn.pending[table] = list(mf) + txn.pending[table]
                        pb = self.table_partition_by(table)
                        if pb:
                            txn.partition_by[table] = pb
                        new_dv = {k: list(v) for k, v in dv_map.items()}
                        new_dv_rows = None
                        if n_upd + n_del:
                            pre_src = tagged.where(act.isin(
                                plan.update_tags + plan.delete_tags)).select(
                                *[F.col(f"{target_alias}.{f.name}")
                                  .cast(f.dataType).alias(f.name)
                                  for f in plan.fields],
                                t_src.alias("_src"))
                            dv_rel = self._write_dv_file(table, pre_src, txn)
                            new_dv[dv_rel] = sorted(
                                r for r in cand
                                if os.path.basename(r) in changed)
                            new_dv_rows = {dv_rel: n_upd + n_del}
                        if new_dv:
                            txn.dv[table] = new_dv
                            self._carry_dv_rows(table, txn, new_dv,
                                                new_dv_rows)
                    else:
                        untouched = [r for r in mf if r not in set(touched)]
                        if untouched:
                            txn.pending[table] = untouched + txn.pending[table]
                        survivors = self._dv_survivors(dv_map, set(touched))
                        if survivors:
                            txn.dv[table] = survivors
                            self._carry_dv_rows(table, txn, survivors)
                    if sidecar:
                        feeds = []
                        if plan.update_tags:
                            upd = tagged.where(act.isin(plan.update_tags))
                            feeds.append(plan.target_rows(upd).withColumn(
                                "change_type", F.lit("update_preimage")))
                            feeds.append(plan.project(upd).withColumn(
                                "change_type", F.lit("update_postimage")))
                        if plan.delete_tags:
                            feeds.append(plan.target_rows(
                                tagged.where(act.isin(plan.delete_tags))
                            ).withColumn("change_type", F.lit("delete")))
                        if plan.insert_tags:
                            feeds.append(plan.project(
                                tagged.where(act.isin(plan.insert_tags))
                            ).withColumn("change_type", F.lit("insert")))
                        feed = feeds[0]
                        for f_ in feeds[1:]:
                            feed = feed.unionByName(f_)
                        txn.append(feed.withColumn("_txn", F.lit(txn.txnid)),
                                   sidecar)
                    try:
                        txn.commit()
                        if eff_mode == "dv":
                            self._maybe_fold_dv(table)
                        return {"updated": n_upd, "deleted": n_del,
                                "inserted": n_ins}
                    except CommitConflict:
                        if attempt == 2:
                            raise
                        self.vacuum_orphans(table)
                        if sidecar:
                            self.vacuum_orphans(sidecar)
                finally:
                    if cached is not None:
                        cached.unpersist()
            return {"updated": 0, "deleted": 0, "inserted": 0}
        finally:
            if not src_small:
                source.unpersist()

    def _dml_hits(self, build, table: str, dv_map: dict,
                  cand: list[str], matches, one_slice: bool
                  ) -> dict[str, int]:
        """The tagged pass of DELETE/UPDATE (Delta's find-touched-files
        pass, folded with the affected count): ``{file basename:
        matching LIVE rows}`` over the candidate files in ONE collect.
        Deletion vectors apply, so a row already deleted merge-on-read
        can neither re-trigger a rewrite nor a duplicate CDF delete.
        Bounded output, one row per touched file; Catalyst prunes the
        scan to the predicate's columns. Matching is by file BASENAME:
        txn file names carry the writing transaction's uuid, so they
        are unique per table (a false collision could only ADD a file
        to the rewrite set, never lose one). ``one_slice`` reads the
        candidates as one slice, so the pass is one job."""
        live = self._dv_split_read(build, table, dv_map, cand,
                                   keep_file_col="_src")
        if one_slice:
            live = live.coalesce(1)
        return {str(r[0]): int(r[1]) for r in
                live.where(matches).groupBy("_src").count().collect()}

    @staticmethod
    def _one_slice(stats: dict, rels: list[str], extra_rows: int = 0
                   ) -> bool:
        """True when ``rels`` (plus ``extra_rows``) hold at most
        ``_ONE_SLICE_ROWS`` rows by their recorded footer counts; a
        file without a recorded count makes it False."""
        n = extra_rows
        for r in rels:
            k = (stats.get(r) or {}).get("__rows")
            if k is None:
                return False
            n += k
        return n <= _ONE_SLICE_ROWS

    @staticmethod
    def _small_plan(df: DataFrame) -> bool:
        """True when Spark's size estimate of ``df``'s optimized plan is
        within the broadcast-join threshold, the size Spark itself ships
        whole to every task. A file scan is estimated by its files'
        size (a filter does not shrink it) and a Python RDD by the
        unbounded default, so neither counts as small."""
        conf = df.sparkSession._jsparkSession.sessionState().conf()
        size = df._jdf.queryExecution().optimizedPlan().stats() \
            .sizeInBytes()
        return int(size) <= conf.autoBroadcastJoinThreshold()

    @staticmethod
    def _dml_reserved(table: str, columns: list[str], op: str) -> None:
        if "_src" in columns:
            raise ValueError(
                f"table {table} has a column named '_src', which "
                "DML reserves for the row-provenance file column "
                "(deletion-vector sidecars persist it); rename the "
                f"column before running {op}"
            )

    @staticmethod
    def _dv_survivors(dv_map: dict, rewritten: set) -> dict:
        """The dv entries still needed after ``rewritten`` data files
        leave the manifest: coverage shrinks to the files that remain
        (their rows were folded into the rewrite); entries with no
        remaining coverage drop out of the map (the dv FILE stays on
        disk for time travel until a vacuum op reclaims it)."""
        out = {}
        for dv_rel, cov in dv_map.items():
            left = [r for r in cov if r not in rewritten]
            if left:
                out[dv_rel] = left
        return out

    def delete_where(self, table: str, condition, *,
                     prune: dict | None = None, cdf: bool = False,
                     cdf_table: str | None = None,
                     mode: str = "rewrite",
                     dv_max_rows: int | None = 100_000) -> int:
        """DELETE FROM ``table`` WHERE ``condition`` as ONE atomic
        replace commit (the Delta ``DELETE`` analog) — file-level:
        only files that ACTUALLY hold matching rows are touched
        (stats/partition pruning first), every other file is carried
        into the new manifest verbatim with its recorded stats, so a
        selective delete on a 100 TB table touches a sliver, not the
        table. Two passes: ONE tagged pass over the candidate files
        collects the matching live rows per file (the touched files and
        the affected count at once), then ONE write reads back only the
        touched files.

        ``mode="rewrite"`` (default) rewrites the touched files without
        the matching rows. ``mode="dv"`` is MERGE-ON-READ (the Delta
        deletion-vector analog): no data file is rewritten at all — the
        matched rows are recorded in a per-file deletion-vector sidecar
        referenced by the commit entry, and every read path
        (``read`` / ``read_at`` / ``table_diff``) anti-joins them out;
        the next ``compact()`` / ``cluster_table()`` (or an eager DML
        rewrite of the covered files) folds them physically. Scattered
        single-row deletes across a 100 TB table cost one tiny sidecar
        write instead of rewriting every touched file.

        ``dv_max_rows`` keeps "tiny by design" TRUE by construction:
        every read anti-joins the covering dv rows as a BROADCAST (and
        the sidecar is written through one task), so a broad-predicate
        merge-on-read delete would otherwise build a driver-OOM-sized
        broadcast on every subsequent read. Past the cap (matched rows,
        counted anyway for the return value) the delete falls back to
        the eager rewrite with a warning — a large delete rewrites its
        files once instead of taxing every future read (Delta's DV size
        heuristic). ``None`` disables the guard (caller owns the risk).

        ``condition`` is a Column (or SQL string) evaluated per row;
        NULL counts as not-matching (SQL DELETE semantics). ``prune``
        is the optional ``{col: (lo, hi)}`` file-skipping bounds used
        to bound the find-touched-files SCAN (manifest footer stats +
        hive partition values, same contract as ``read(prune=...)``);
        it MUST be implied by the condition — a NECESSARY condition,
        not a sufficient one — because a matching row inside a skipped
        file would silently survive. Simple conjunctive conditions
        derive it automatically (see ``derive_prune_bounds``); omit it
        to scan every file the derived bounds keep.

        Logical replace, like ``merge_table``: superseded files stay
        readable via ``read_at`` (``compact()`` remains the reclaim
        path), a racing append raises ``CommitConflict`` and the
        delete re-reads and retries. ``cdf=True`` appends the deleted
        rows — ``change_type='delete'``, tagged with the transaction
        id — to the table's CDF sidecar in the SAME commit, so
        CDF-driven rollups absorb the delete exactly (both modes).
        Returns the number of rows deleted (0 = no commit)."""
        if mode not in ("rewrite", "dv"):
            raise ValueError("mode must be 'rewrite' or 'dv'")
        if prune is None:
            prune = derive_prune_bounds(
                self.spark, condition,
                struct_cols=self._struct_cols(table)) or None
        if isinstance(condition, str):
            condition = F.expr(condition)
        if self._manifest_files(table) is None:
            raise ValueError(
                f"delete_where: {table} is not commit-log tracked (no "
                "manifest to carry untouched files through)"
            )
        sidecar = (cdf_table or f"{table}__cdf").lower() if cdf else None
        matches = F.coalesce(condition.cast("boolean"), F.lit(False))
        for attempt in range(3):
            self._invalidate_state()
            base_seq = self._latest_seq()
            mf = list(self._manifest_files(table) or [])
            stats = self._manifest_stats(table)
            dv_map = self._dv_state(table)
            if prune:
                pprune = self._prune_physical(table, prune)
                bpos = self._bloom_positions(table, pprune)
                cand = [r for r in mf
                        if _file_may_match(r, stats.get(r), pprune, bpos)]
            else:
                cand = mf
            if not cand:
                return 0

            def _build(rs: list[str]) -> DataFrame:
                return self._tracked_read(table, rs)

            self._dml_reserved(table, _build(cand[:1]).columns,
                               "delete_where/update_where")
            hits = self._dml_hits(_build, table, dv_map, cand, matches,
                                  self._one_slice(stats, cand))
            if not hits:
                return 0  # no file holds a matching live row: no commit
            n = sum(hits.values())
            touched = [r for r in cand if os.path.basename(r) in hits]
            untouched = [r for r in mf if r not in set(touched)]
            live = self._dv_split_read(_build, table, dv_map, touched,
                                       keep_file_col="_src")
            doomed = live.where(matches)
            eff_mode = mode
            if mode == "dv" and dv_max_rows is not None \
                    and n > dv_max_rows:
                warnings.warn(
                    f"delete_where(mode='dv') on {table} matched "
                    f"{n} rows > dv_max_rows={dv_max_rows}; falling "
                    "back to eager rewrite so reads don't broadcast "
                    "an oversized deletion vector (raise dv_max_rows "
                    "or pass None to override)",
                    stacklevel=2,
                )
                eff_mode = "rewrite"
            txn = Transaction(self)
            txn.replaced = {table.lower()}
            txn.base_seq = base_seq
            if eff_mode == "dv":
                dv_rel = self._write_dv_file(table, doomed, txn)
                txn.pending[table] = list(mf)
                pb = self.table_partition_by(table)
                if pb:
                    txn.partition_by[table] = pb
                new_dv = {k: list(v) for k, v in dv_map.items()}
                new_dv[dv_rel] = sorted(touched)
                txn.dv[table] = new_dv
                self._carry_dv_rows(table, txn, new_dv, {dv_rel: n})
            else:
                kept = live.where(~matches).drop("_src")
                part_cols = self._rewrite_part_cols(table, kept)
                txn.append(kept, table, partition_by=part_cols or None)
                if untouched:
                    txn.pending[table] = untouched + txn.pending[table]
                survivors = self._dv_survivors(dv_map, set(touched))
                if survivors:
                    txn.dv[table] = survivors
                    self._carry_dv_rows(table, txn, survivors)
            if sidecar:
                feed = doomed.drop("_src").withColumn(
                    "change_type", F.lit("delete")
                ).withColumn("_txn", F.lit(txn.txnid))
                txn.append(feed, sidecar)
            try:
                txn.commit()
                if eff_mode == "dv":
                    self._maybe_fold_dv(table)
                return n
            except CommitConflict:
                if attempt == 2:
                    raise
                self.vacuum_orphans(table)
                if sidecar:
                    self.vacuum_orphans(sidecar)
        return 0

    def update_where(self, table: str, condition, assignments: dict, *,
                     prune: dict | None = None, cdf: bool = False,
                     cdf_table: str | None = None,
                     mode: str = "rewrite",
                     dv_max_rows: int | None = 100_000) -> int:
        """UPDATE ``table`` SET ``assignments`` WHERE ``condition`` as
        ONE atomic replace commit (the Delta ``UPDATE`` analog), with
        the same file-level shape as ``delete_where``: only files that
        actually hold matching live rows are touched (derived prune +
        the one tagged pass), untouched files carry verbatim with their
        stats, superseded files stay readable (logical replace), racing
        appends conflict and retry. The eager rewrite is one projection
        over the touched files: SET where the row matches, the row
        unchanged elsewhere.

        ``mode="dv"`` is the merge-on-read UPDATE: the preimages are
        recorded in a deletion-vector sidecar (no data file rewritten)
        and the postimages are APPENDED as new data files in the same
        commit — reads see old-minus-pre plus post, exactly the update.
        ``dv_max_rows`` bounds the sidecar exactly as in
        ``delete_where``: past the cap the update falls back to the
        eager rewrite with a warning, keeping the per-read dv broadcast
        tiny by construction (None disables).

        ``assignments`` maps column name -> Column or SQL string,
        evaluated against the PRE-update row (standard UPDATE: all SET
        expressions see the old values). Assigned values are cast back
        to the column's existing type — an UPDATE never changes the
        schema. ``cdf=True`` appends update_preimage/update_postimage
        row pairs, tagged with the transaction id, to the CDF sidecar
        in the SAME commit (``merge_table``'s feed shape, so CDF
        rollups absorb the update as -pre +post exactly). Returns rows
        updated (0 = no commit)."""
        if mode not in ("rewrite", "dv"):
            raise ValueError("mode must be 'rewrite' or 'dv'")
        if prune is None:
            prune = derive_prune_bounds(
                self.spark, condition,
                struct_cols=self._struct_cols(table)) or None
        if isinstance(condition, str):
            condition = F.expr(condition)
        mf0 = self._manifest_files(table)
        if mf0 is None:
            raise ValueError(
                f"update_where: {table} is not commit-log tracked (no "
                "manifest to carry untouched files through)"
            )
        sidecar = (cdf_table or f"{table}__cdf").lower() if cdf else None
        matches = F.coalesce(condition.cast("boolean"), F.lit(False))
        for attempt in range(3):
            self._invalidate_state()
            base_seq = self._latest_seq()
            mf = list(self._manifest_files(table) or [])
            stats = self._manifest_stats(table)
            dv_map = self._dv_state(table)
            pprune = self._prune_physical(table, prune)
            bpos = self._bloom_positions(table, pprune) if prune else {}
            cand = [r for r in mf
                    if _file_may_match(r, stats.get(r), pprune, bpos)
                    ] if prune else mf
            if not cand:
                return 0

            def _build(rs: list[str]) -> DataFrame:
                return self._tracked_read(table, rs)

            cols = _build(cand[:1]).schema
            self._dml_reserved(table, cols.names,
                               "delete_where/update_where")
            bad = [c for c in assignments if c not in cols.names]
            if bad:
                raise ValueError(
                    f"update_where: {bad} are not columns of {table} "
                    "(UPDATE never adds columns)"
                )
            sets = {
                c: (F.expr(v) if isinstance(v, str) else v)
                .cast(cols[c].dataType)
                for c, v in assignments.items()
            }
            hits = self._dml_hits(_build, table, dv_map, cand, matches,
                                  self._one_slice(stats, cand))
            if not hits:
                return 0  # no file holds a matching live row: no commit
            n = sum(hits.values())
            touched = [r for r in cand if os.path.basename(r) in hits]
            untouched = [r for r in mf if r not in set(touched)]
            live = self._dv_split_read(_build, table, dv_map, touched,
                                       keep_file_col="_src")
            pre = live.where(matches)
            post = pre.withColumns(sets)
            eff_mode = mode
            if mode == "dv" and dv_max_rows is not None \
                    and n > dv_max_rows:
                warnings.warn(
                    f"update_where(mode='dv') on {table} matched "
                    f"{n} rows > dv_max_rows={dv_max_rows}; falling "
                    "back to eager rewrite so reads don't broadcast "
                    "an oversized deletion vector (raise dv_max_rows "
                    "or pass None to override)",
                    stacklevel=2,
                )
                eff_mode = "rewrite"
            part_cols = self._rewrite_part_cols(table, live)
            txn = Transaction(self)
            txn.replaced = {table.lower()}
            txn.base_seq = base_seq
            if eff_mode == "dv":
                dv_rel = self._write_dv_file(table, pre, txn)
                txn.append(post.drop("_src"), table,
                           partition_by=part_cols or None)
                # new postimage files JOIN the untouched manifest
                # (whose stats carry forward in replay)
                txn.pending[table] = list(mf) + txn.pending[table]
                pb = self.table_partition_by(table)
                if pb:
                    txn.partition_by[table] = pb
                new_dv = {k: list(v) for k, v in dv_map.items()}
                new_dv[dv_rel] = sorted(touched)
                txn.dv[table] = new_dv
                self._carry_dv_rows(table, txn, new_dv, {dv_rel: n})
            else:
                # one projection over the touched files: SET applies
                # where the row matches (every expression sees the
                # pre-update row), the rest ride through unchanged
                new_rows = live.withColumns({
                    c: F.when(matches, e).otherwise(F.col(c))
                    for c, e in sets.items()}).drop("_src")
                txn.append(new_rows, table,
                           partition_by=part_cols or None)
                if untouched:
                    txn.pending[table] = untouched + txn.pending[table]
                survivors = self._dv_survivors(dv_map, set(touched))
                if survivors:
                    txn.dv[table] = survivors
                    self._carry_dv_rows(table, txn, survivors)
            if sidecar:
                feed = pre.drop("_src").withColumn(
                    "change_type", F.lit("update_preimage")
                ).unionByName(
                    post.drop("_src").withColumn(
                        "change_type", F.lit("update_postimage"))
                ).withColumn("_txn", F.lit(txn.txnid))
                txn.append(feed, sidecar)
            try:
                txn.commit()
                if eff_mode == "dv":
                    self._maybe_fold_dv(table)
                return n
            except CommitConflict:
                if attempt == 2:
                    raise
                self.vacuum_orphans(table)
                if sidecar:
                    self.vacuum_orphans(sidecar)
        return 0

    # -- transactions fact convenience ---------------------------------------

    def append_transactions(self, df: DataFrame, table: str = "dwh_fact_transactions") -> None:
        """Fact append under HIDDEN partitioning: ``days(
        transaction_date)`` — the engine derives the day path key itself
        (Iceberg ``days()`` transform) instead of the caller
        materializing a ``dt`` column, and ``read_transactions``'s
        since/until band prunes the derived directories through the
        base-column bounds."""
        self.append(df, table, partition_by=["days(transaction_date)"])

    # -- fraud-mart convenience ----------------------------------------------

    def append_mart(self, df: DataFrame, table: str = "rep_fraud") -> None:
        """Mart append, partitioned by event day (``days(event_dt)``).

        The mart grows with every day's hits; the rules' NOT-EXISTS
        dedup joins on ``event_dt`` EQUALITY, so a day's dedup only ever
        needs the mart rows whose event day falls in that day's rule
        band. The day partition turns that into a pruned read
        (``read_mart(since, until)``) — the dedup stays O(band), not
        O(all historical hits), at 100 TB."""
        self.append(df, table, partition_by=["days(event_dt)"])

    def read_mart(self, table: str = "rep_fraud",
                  since: "datetime.date | None" = None,
                  until: "datetime.date | None" = None) -> DataFrame:
        """Mart read; `since`/`until` prune the ``days(event_dt)``
        directories through the base-column band (same mechanics as
        ``read_transactions``)."""
        from .. import schemas

        if not self.exists(table):
            return _empty_df(self.spark, schemas.REP_FRAUD)
        df = self.read(table, prune=_day_band_prune(
            "event_dt", since, until))
        # band on the hidden day key when the (undeclared) read
        # surfaces it, so Catalyst turns it into PartitionFilters; else
        # the base column
        band = (F.col("event_dt_day") if "event_dt_day" in df.columns
                else F.to_date("event_dt"))
        if since is not None:
            df = df.where(band >= F.lit(since))
        if until is not None:
            df = df.where(band <= F.lit(until))
        return df.select(*[f.name for f in schemas.REP_FRAUD.fields])

    def read_transactions(self, table: str = "dwh_fact_transactions",
                          since: "datetime.date | None" = None,
                          until: "datetime.date | None" = None,
                          prune: dict | None = None) -> DataFrame:
        """Fact read; `since`/`until` prune to the matching
        ``days(transaction_date)`` directories through the base-column
        band that ``_prune_physical`` expands to the derived
        ``transaction_date_day`` path key, so the read stays O(days
        requested), not O(history), at 100 TB.

        ``prune`` forwards extra bounds to ``read``'s manifest-stats
        file skipping (commit-log-tracked tables only; a no-op
        elsewhere): after ``cluster_table(..., 'transaction_date')``
        each file covers a narrow time band per day directory, so a
        band read like the fraud rules' midnight-straddle lookback
        skips the ~23/24 of yesterday's files that provably end before
        the band. Timestamp bounds are passed as
        ``datetime.isoformat()`` strings (how the manifest records
        them). Strict superset contract: pruning only drops files
        proven irrelevant — callers still apply their row filters."""
        from .. import schemas

        if not self.exists(table):
            return _empty_df(self.spark, schemas.TRANSACTIONS)
        eff = _day_band_prune("transaction_date", since, until)
        if prune:
            eff = {**(eff or {}), **prune}
        df = self.read(table, prune=eff)
        # partition column first (PartitionFilters at the scan), base
        # column only when the layout column does not surface
        band = (F.col("transaction_date_day")
                if "transaction_date_day" in df.columns
                else F.to_date("transaction_date"))
        if since is not None:
            df = df.where(band >= F.lit(since))
        if until is not None:
            df = df.where(band <= F.lit(until))
        # the hidden day key (surfaced only on undeclared reads) is
        # physical layout, not a logical column
        return df.drop("transaction_date_day")


def _day_band_prune(ts_col: str, since, until) -> dict | None:
    """Manifest prune bounds for a day band over a timestamp column:
    the base-column bound (footer stats, plus ``_prune_physical``'s
    expansion to the hidden ``days()`` path key). Necessary by
    construction for the ``to_date(ts_col)`` band row filter the
    callers apply: the day band [since, until] equals the timestamp
    band [since 00:00, until end-of-day] at Spark's microsecond
    precision."""
    if since is None and until is None:
        return None
    return {
        ts_col: (since.isoformat() if since is not None else None,
                 until.isoformat() + "T23:59:59.999999"
                 if until is not None else None),
    }
