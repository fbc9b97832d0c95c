"""SQL door for warehouse DML and time travel.

``warehouse_sql(wh, stmt)`` accepts the statements a Delta/Iceberg user
types and routes them through the engine's transactional API — closing
the gap where ``sql_views`` offered read-only views but
DELETE/UPDATE/MERGE/time travel required Python calls:

- ``DELETE FROM t [WHERE …]``            → ``Warehouse.delete_where``
- ``UPDATE t SET a = …, b = … [WHERE …]``→ ``Warehouse.update_where``
- ``MERGE INTO t [AS x] USING src [AS y] ON x.k = y.k WHEN …``
                                          → ``Warehouse.merge_when``
- ``INSERT INTO t <query>``               → transactional append
- ``INSERT OVERWRITE [TABLE] t <query>``  → atomic full-replace commit
- ``SELECT … FROM t VERSION AS OF n`` /
  ``TIMESTAMP AS OF '…'``                 → ``read_at`` /
                                            ``read_at_timestamp`` view
- ``ALTER TABLE t ADD CONSTRAINT n CHECK (…)`` / ``DROP CONSTRAINT n``
  / ``ALTER COLUMN c SET|DROP NOT NULL``  → ``add_constraint`` /
                                            ``drop_constraint``
- ``ALTER TABLE t ADD COLUMNS (c TYPE, …)`` → ``add_columns``
  (declared-schema evolution; metadata-only)
- ``ALTER TABLE t DROP COLUMN [IF EXISTS] c`` /
  ``RENAME COLUMN a TO b``                 → ``drop_column`` /
  ``rename_column`` (metadata-only column mapping)
- ``CREATE TABLE [IF NOT EXISTS] t (cols) [PARTITIONED BY (…)]`` →
  ``create_table`` (empty declared-schema table)
- ``DROP TABLE [IF EXISTS] t``             → ``drop_table``
- ``SHOW TABLES`` / ``DESCRIBE [TABLE] t`` /
  ``DESCRIBE DETAIL t``                   → catalog metadata frames
- ``OPTIMIZE t [ZORDER BY (a, b)]`` /
  ``VACUUM t [RETAIN n HOURS]`` / ``DESCRIBE HISTORY t`` /
  ``RESTORE TABLE t TO VERSION AS OF n`` /
  ``CREATE TABLE dst SHALLOW CLONE src`` /
  ``ALTER TABLE t SET PARTITION SPEC (a, b)`` → maintenance API
- ``table_changes('t', since)`` in any SELECT → ``read_changes`` view
  (Delta's CDF table function; tag column surfaces as _change_type)
- ``table_files('t')`` in any SELECT → files-metadata relation
  (the Iceberg ``$files`` table: per-file partition values, row
  counts, sizes, bloom presence, dv coverage)
- anything else                           → ``spark.sql`` over
                                            auto-registered read views

Parsing is NOT regex-driven: statements go through Spark's own SQL
parser (``sessionState().sqlParser().parsePlan``) and the unresolved
logical plan is introspected — DeleteFromTable / UpdateTable /
MergeIntoTable / InsertIntoStatement nodes carry the table, the
condition expression, the assignment list, and every merge clause with
its condition, which round-trip to the Python API via Catalyst's own
``Expression.sql`` rendering. The one textual rewrite is the
``VERSION/TIMESTAMP AS OF`` clause (Spark parses it into
``RelationTimeTravel``, which cannot resolve against parquet views):
it is substituted with a registered snapshot view BEFORE parsing.

Referenced tables that are commit-log tracked auto-register as temp
views (existing temp views of the same name are left alone), so plain
``SELECT``s work with zero setup. MERGE ON must be equi-key
(``x.k = y.k [AND …]``) — the engine's merge narrowing depends on it.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.localframe import local_rows_df
from .sources.warehouse import Warehouse


def _seq(jseq) -> list:
    out, it = [], jseq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _opt(jopt):
    """Scala Option → value or None; raw (non-Option) values pass
    through (Spark 4's DeleteFromTable.condition is a bare
    Expression, UpdateTable's is an Option)."""
    cn = jopt.getClass().getSimpleName()
    if cn == "None$":
        return None
    if cn == "Some":
        return jopt.get()
    return jopt


def _ident(rel) -> str:
    parts = [str(x) for x in _seq(rel.multipartIdentifier())]
    if len(parts) != 1:
        raise ValueError(
            f"warehouse tables are single-part names; got {'.'.join(parts)}"
        )
    return parts[0]


def _cls(node) -> str:
    return node.getClass().getSimpleName()


def _unalias(plan) -> tuple[str | None, object]:
    """(alias, child) for a SubqueryAlias node, (None, plan) otherwise."""
    if _cls(plan) == "SubqueryAlias":
        return str(plan.alias()), plan.child()
    return None, plan


# temp views are SESSION-global and a view over a warehouse read pins
# the file list at creation: the door records which views IT created so
# it can refresh them to the current snapshot on every statement (DML
# moves the head; a second warehouse in the same session takes a name
# over). Views the door did not create are never clobbered.
_DOOR_VIEWS: dict[str, str] = {}  # view name -> warehouse root


def _register_relations(wh: Warehouse, spark, plan) -> None:
    """Auto-register every referenced tracked table as a temp view —
    leaves of the unresolved plan are UnresolvedRelation nodes —
    refreshing door-owned views to the table's CURRENT snapshot."""
    for leaf in _seq(plan.collectLeaves()):
        if _cls(leaf) != "UnresolvedRelation":
            continue
        parts = [str(x) for x in _seq(leaf.multipartIdentifier())]
        if len(parts) != 1:
            continue
        name = parts[0]
        if name not in _DOOR_VIEWS:
            try:
                if spark.catalog.tableExists(name):
                    continue  # user-made view: theirs
            except Exception:  # noqa: BLE001 — registration is best-effort
                pass
        if wh._manifest_files(name) is not None or wh.exists(name):
            # a torn log or unreadable table must surface as ITS error,
            # not as a later TABLE_OR_VIEW_NOT_FOUND
            wh.read(name).createOrReplaceTempView(name)
            _DOOR_VIEWS[name] = wh.root


_TT = re.compile(
    r"\b(FROM|JOIN)\s+([A-Za-z_]\w*)\s+"
    r"(VERSION\s+AS\s+OF\s+(\d+)|TIMESTAMP\s+AS\s+OF\s+'([^']+)')",
    re.IGNORECASE,
)


def _literal_spans(stmt: str) -> list[tuple[int, int]]:
    """[start, end) index ranges of single-quoted SQL string literals
    (with ``''`` escaping). The textual rewrites below must never fire
    on text INSIDE a literal — ``WHERE note = 'VERSION AS OF 3'`` is
    data, not a time-travel clause."""
    spans, i, n = [], 0, len(stmt)
    while i < n:
        if stmt[i] == "'":
            j = i + 1
            while j < n:
                if stmt[j] == "'":
                    if j + 1 < n and stmt[j + 1] == "'":  # '' escape
                        j += 2
                        continue
                    break
                j += 1
            spans.append((i, min(j + 1, n)))
            i = j + 1
        else:
            i += 1
    return spans


def _sub_outside_literals(pattern: re.Pattern, repl, stmt: str) -> str:
    """``pattern.sub(repl, stmt)`` skipping matches that START inside a
    string literal (a match may CONSUME a literal — the TIMESTAMP AS OF
    '<ts>' clause does — but one beginning inside quoted data is data)."""
    spans = _literal_spans(stmt)

    def _guarded(m: re.Match):
        p = m.start()
        if any(s <= p < e for s, e in spans):
            return m.group(0)
        return repl(m)

    return pattern.sub(_guarded, stmt)


def _rewrite_time_travel(wh: Warehouse, spark, stmt: str) -> str:
    """Replace ``FROM t VERSION AS OF n`` / ``TIMESTAMP AS OF 'ts'``
    with a registered snapshot view (``read_at`` /
    ``read_at_timestamp`` under a deterministic name). Matches inside
    string literals pass through untouched."""
    def _sub(m: re.Match) -> str:
        kw, table = m.group(1), m.group(2)
        if m.group(4) is not None:
            seq = int(m.group(4))
            view = f"{table}__v{seq}"
            wh.read_at(table, seq).createOrReplaceTempView(view)
        else:
            ts = m.group(5)
            view = f"{table}__ts_{re.sub(r'[^0-9A-Za-z]', '_', ts)}"
            wh.read_at_timestamp(table, ts).createOrReplaceTempView(view)
        return f"{kw} {view}"

    return _sub_outside_literals(_TT, _sub, stmt)


def _on_keys(expr) -> list[str]:
    """Equi-key column names from a MERGE ON expression: a conjunction
    of ``x.k = y.k`` attribute equalities whose last name parts agree.
    Anything else is rejected — the engine's merge narrowing (source
    key bounds + find-touched-files) is keyed on these columns."""
    kind = _cls(expr)
    if kind == "And":
        l, r = _seq(expr.children())
        return _on_keys(l) + _on_keys(r)
    if kind == "EqualTo":
        l, r = _seq(expr.children())
        if _cls(l) == "UnresolvedAttribute" and \
                _cls(r) == "UnresolvedAttribute":
            lk = str(_seq(l.nameParts())[-1])
            rk = str(_seq(r.nameParts())[-1])
            if lk.lower() == rk.lower():
                return [lk]
    raise ValueError(
        "MERGE ON must be an equi-key condition over same-named "
        "columns (x.k = y.k [AND …]); got: " + str(expr.sql())
    )


def _assignments(action) -> dict[str, str]:
    return {
        str(_seq(a.key().nameParts())[-1]) if _cls(a.key())
        == "UnresolvedAttribute" else str(a.key().sql()).split(".")[-1]:
        str(a.value().sql())
        for a in _seq(action.assignments())
    }


def _merge_actions(actions) -> list[dict]:
    from .operators import merge as M

    out = []
    for a in actions:
        kind = _cls(a)
        cond = _opt(a.condition())
        cond_sql = str(cond.sql()) if cond is not None else None
        if kind == "UpdateAction":
            out.append(M.when_matched_update(_assignments(a), cond_sql))
        elif kind == "UpdateStarAction":
            out.append(M.when_matched_update(None, cond_sql))
        elif kind == "DeleteAction":
            out.append(M.when_matched_delete(cond_sql))
        elif kind == "InsertAction":
            out.append(M.when_not_matched_insert(_assignments(a), cond_sql))
        elif kind == "InsertStarAction":
            out.append(M.when_not_matched_insert(None, cond_sql))
        else:
            raise ValueError(f"unsupported MERGE action {kind}")
    return out


def _of_rows(spark, plan) -> DataFrame:
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, plan)
    return DataFrame(jdf, spark)


# Delta-dialect maintenance statements Spark's grammar lacks — handled
# before the parser, exactly the statements a Delta user would type
_MAINT = re.compile(
    r"^\s*(DESCRIBE\s+HISTORY|VACUUM|OPTIMIZE)\s+([A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)
_RESTORE = re.compile(
    r"^\s*RESTORE\s+(?:TABLE\s+)?([A-Za-z_]\w*)\s+TO\s+VERSION\s+AS\s+OF"
    r"\s+(\d+)\s*;?\s*$",
    re.IGNORECASE,
)
# VACUUM t RETAIN n HOURS — Delta's age-based retention window
_VACUUM_RETAIN = re.compile(
    r"^\s*VACUUM\s+([A-Za-z_]\w*)\s+RETAIN\s+(\d+(?:\.\d+)?)\s+HOURS"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
# CREATE TABLE dst SHALLOW CLONE src — Delta's zero-copy table branch
_SHALLOW_CLONE = re.compile(
    r"^\s*CREATE\s+TABLE\s+([A-Za-z_]\w*)\s+SHALLOW\s+CLONE\s+"
    r"([A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)
# ALTER TABLE t SET PARTITION SPEC (a, b) — Iceberg-style metadata-only
# spec evolution (empty parens evolve back to unpartitioned writes)
_SET_SPEC = re.compile(
    r"^\s*ALTER\s+TABLE\s+([A-Za-z_]\w*)\s+SET\s+PARTITION\s+SPEC\s*"
    r"\(\s*([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)?\s*\)\s*;?\s*$",
    re.IGNORECASE,
)
# OPTIMIZE t ZORDER BY (a, b)  — Delta's multi-dimensional clustering
_ZORDER = re.compile(
    r"^\s*OPTIMIZE\s+([A-Za-z_]\w*)\s+ZORDER\s+BY\s*"
    r"\(?\s*([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s*\)?\s*;?\s*$",
    re.IGNORECASE,
)
# DESCRIBE DETAIL t — Delta's table-metadata one-rower (Spark's own
# grammar reads this as DESCRIBE <column 'detail'>, so pre-parse it)
_DETAIL = re.compile(
    r"^\s*DESCRIBE\s+DETAIL\s+([A-Za-z_]\w*)\s*;?\s*$", re.IGNORECASE)
# table_changes('t', since_seq) inside any SELECT — Delta's CDF
# table-valued function; rewritten to a temp view of read_changes()
# SHOW CREATE TABLE t — DDL from commit-log metadata (declared schema,
# partition spec, constraints, bloom config); Spark's own handler
# would want a catalog table, so pre-parse
_SHOW_CREATE = re.compile(
    r"^\s*SHOW\s+CREATE\s+TABLE\s+([A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE)
_TABLE_CHANGES = re.compile(
    r"table_changes\s*\(\s*'([A-Za-z_]\w*)'\s*,\s*(\d+)\s*\)",
    re.IGNORECASE,
)
# table_files('t') — the Iceberg $files metadata relation as a TVF
_TABLE_FILES = re.compile(
    r"table_files\s*\(\s*'([A-Za-z_]\w*)'\s*\)",
    re.IGNORECASE,
)


def _rewrite_table_changes(wh: Warehouse, spark, stmt: str) -> str:
    """Replace every ``table_changes('t', n)`` call with a registered
    temp view of ``wh.read_changes('t', n)`` — the Delta CDF
    table-valued function, usable anywhere a relation is (joins,
    CTEs, aggregates over the change feed). Matches inside string
    literals pass through untouched."""
    def _sub(m: re.Match) -> str:
        table, since = m.group(1).lower(), int(m.group(2))
        view = f"__changes_{table}_{since}"
        df = wh.read_changes(table, since)
        # Delta's SQL surface names the tag column _change_type; the
        # stored sidecar calls it change_type — rename for SQL users
        if "change_type" in df.columns and \
                "_change_type" not in df.columns:
            df = df.withColumnRenamed("change_type", "_change_type")
        df.createOrReplaceTempView(view)
        return view

    return _sub_outside_literals(_TABLE_CHANGES, _sub, stmt)


def _rewrite_table_files(wh: Warehouse, spark, stmt: str) -> str:
    """Replace every ``table_files('t')`` call with a temp view of the
    table's files-metadata relation (``Warehouse.table_files``) — the
    Iceberg ``$files`` table as a TVF, usable anywhere a relation is.
    Matches inside string literals pass through untouched."""
    def _sub(m: re.Match) -> str:
        table = m.group(1).lower()
        view = f"__files_{table}"
        wh.table_files(table).createOrReplaceTempView(view)
        return view

    return _sub_outside_literals(_TABLE_FILES, _sub, stmt)


def _maintenance(wh: Warehouse, stmt: str):
    """(handled, result) — handled False means 'not a maintenance
    statement, keep parsing'."""
    r = _RESTORE.match(stmt)
    if r:  # RESTORE [TABLE] t TO VERSION AS OF n (Delta RESTORE)
        wh.restore(r.group(1), int(r.group(2)))
        return True, None
    vr = _VACUUM_RETAIN.match(stmt)
    if vr:  # VACUUM t RETAIN n HOURS
        return True, wh.vacuum_orphans(
            vr.group(1), retain_hours=float(vr.group(2)))
    cl = _SHALLOW_CLONE.match(stmt)
    if cl:  # CREATE TABLE dst SHALLOW CLONE src
        return True, wh.clone_table(cl.group(2), cl.group(1))
    sp = _SET_SPEC.match(stmt)
    if sp:  # ALTER TABLE t SET PARTITION SPEC (a, b)
        cols = [c.strip() for c in sp.group(2).split(",")] \
            if sp.group(2) else []
        wh.set_partition_spec(sp.group(1), cols)
        return True, None
    z = _ZORDER.match(stmt)
    if z:  # OPTIMIZE t ZORDER BY (a, b)
        cols = [c.strip() for c in z.group(2).split(",")]
        wh.zorder_table(z.group(1), cols)
        return True, None
    sc = _SHOW_CREATE.match(stmt)
    if sc:  # SHOW CREATE TABLE t — DDL reconstructed from metadata
        table = sc.group(1).lower()
        part = wh.table_partition_by(table)
        schema = wh.read(table).schema
        cols = ",\n".join(
            f"  {f.name} {f.dataType.simpleString().upper()}"
            for f in schema.fields)
        ddl = f"CREATE TABLE {table} (\n{cols}\n)\nUSING parquet"
        if part:
            ddl += f"\nPARTITIONED BY ({', '.join(part)})"
        for name, check in sorted(wh.table_constraints(table).items()):
            ddl += f"\nCONSTRAINT {name} CHECK ({check})"
        bloom = wh.table_bloom_filter(table)
        if bloom:
            ddl += ("\n-- bloom filter: cols="
                    f"{','.join(bloom['cols'])} m={bloom['m']} "
                    f"k={bloom['k']}")
        return True, local_rows_df(
            wh.spark, [(ddl,)], "createtab_stmt string")
    d = _DETAIL.match(stmt)
    if d:  # DESCRIBE DETAIL t — Delta's one-row table summary
        import json as _json

        table = d.group(1).lower()
        rels = wh._manifest_files(table) or []
        tdir = wh._path(table)
        size = 0
        for rel in rels:
            try:
                size += os.path.getsize(os.path.join(tdir, rel))
            except OSError:
                pass
        row = (
            table, tdir, "parquet",
            _json.dumps(wh.table_partition_by(table)),
            len(rels), size, wh.count_rows(table),
            _json.dumps(wh.table_constraints(table)),
            wh._latest_seq(),
        )
        return True, local_rows_df(
            wh.spark, [row],
            "name string, location string, format string, "
            "partition_columns string, num_files long, "
            "size_bytes long, num_rows long, constraints string, "
            "version long")
    m = _MAINT.match(stmt)
    if not m:
        return False, None
    op, table = m.group(1).upper().split()[0], m.group(2)
    if op == "DESCRIBE":  # DESCRIBE HISTORY t -> the table's commits
        import json as _json

        t = table.lower()
        rows = []
        for s in wh.snapshots():
            entry = wh._load_entry(s["seq"]) or {}
            touches = (set(entry.get("tables", {}))
                       | set(entry.get("constraints", {}))
                       | set(entry.get("schema", {}))
                       | set(entry.get("bloom_cols", {})))
            if t in touches:  # data AND metadata commits of THIS table
                rows.append(s)
        return True, local_rows_df(
            wh.spark, [(s["seq"], s.get("txn"), s.get("op"),
              s.get("committed_at"), _json.dumps(s.get("tables", {})))
             for s in rows],
            "version long, txn string, operation string, "
            "committed_at string, tables string")
    if op == "VACUUM":
        return True, wh.vacuum_orphans(table)
    wh.compact(table)  # OPTIMIZE t
    return True, None


def warehouse_sql(wh: Warehouse, stmt: str):
    """Execute one SQL statement against the warehouse (module
    docstring for the supported surface). Returns what the Python API
    returns: rows affected (DELETE/UPDATE), the
    updated/deleted/inserted counts dict (MERGE), None (INSERT /
    OPTIMIZE), files removed (VACUUM), or the result DataFrame
    (queries, DESCRIBE HISTORY)."""
    spark = wh.spark
    handled, maint = _maintenance(wh, stmt)
    if handled:
        return maint
    stmt = _rewrite_time_travel(wh, spark, stmt)
    stmt = _rewrite_table_changes(wh, spark, stmt)
    stmt = _rewrite_table_files(wh, spark, stmt)
    parser = spark._jsparkSession.sessionState().sqlParser()
    plan = parser.parsePlan(stmt)
    kind = _cls(plan)
    if kind == "AddCheckConstraint":
        # ALTER TABLE t ADD CONSTRAINT name CHECK (cond) — Spark 4's
        # own grammar; the node's child is Filter(UnresolvedRelation)
        # (the validation scan shape), the constraint carries its
        # original condition SQL verbatim
        cc = plan.checkConstraint()
        rel = plan.child()
        while _cls(rel) not in ("UnresolvedRelation", "UnresolvedTable"):
            rel = rel.child()
        wh.add_constraint(_ident(rel), str(cc.name()), str(cc.condition()))
        return None
    if kind == "AddColumns":
        # ALTER TABLE t ADD COLUMNS (x INT, ...) — metadata-only
        # declared-schema evolution; existing files read the new
        # columns as typed NULLs
        cols: dict[str, str] = {}
        for c in _seq(plan.columnsToAdd()):
            parts = [str(x) for x in _seq(c.name())]
            if len(parts) != 1:
                raise ValueError(
                    f"ADD COLUMNS: nested field {'.'.join(parts)!r} "
                    "not supported")
            cols[parts[0]] = str(c.dataType().simpleString())
        wh.add_columns(_ident(plan.table()), cols)
        return None
    if kind == "DropColumns":
        # ALTER TABLE t DROP COLUMN[S] [IF EXISTS] (a, b) — metadata-
        # only column-mapping evolution (reads project away; the
        # physical name is retired against re-binding)
        table = _ident(plan.table())
        if_exists = bool(plan.ifExists())
        for fld in _seq(plan.columnsToDrop()):
            parts = [str(x) for x in _seq(fld.name())]
            if len(parts) != 1:
                raise ValueError(
                    f"DROP COLUMN: nested field {'.'.join(parts)!r} "
                    "not supported")
            try:
                wh.drop_column(table, parts[0])
            except ValueError as e:
                if if_exists and "is not a column" in str(e):
                    continue
                raise
        return None
    if kind == "RenameColumn":
        # ALTER TABLE t RENAME COLUMN a TO b — metadata-only; the
        # physical parquet name never changes
        table = _ident(plan.table())
        parts = [str(x) for x in _seq(plan.column().name())]
        if len(parts) != 1:
            raise ValueError(
                f"RENAME COLUMN: nested field {'.'.join(parts)!r} "
                "not supported")
        wh.rename_column(table, parts[0], str(plan.newName()))
        return None
    if kind == "DropConstraint":
        wh.drop_constraint(_ident(plan.child()), str(plan.name()))
        return None
    if kind == "AlterColumns":
        # only the nullability form maps to warehouse semantics:
        # SET NOT NULL -> a named CHECK (col IS NOT NULL) constraint,
        # DROP NOT NULL -> drop it (the Delta NOT NULL invariant)
        table = _ident(plan.table())
        for spec in _seq(plan.specs()):
            parts = [str(x) for x in _seq(spec.column().name())]
            if len(parts) != 1:
                raise ValueError(
                    f"ALTER COLUMN: nested field {'.'.join(parts)!r} "
                    "not supported")
            col = parts[0]
            nb = spec.newNullability()
            if not nb.isDefined():
                raise ValueError(
                    "only ALTER COLUMN ... SET/DROP NOT NULL is "
                    "supported by the warehouse SQL door")
            if nb.get():  # DROP NOT NULL
                # Delta semantics: dropping a NOT NULL that was never
                # set (through the door or at all) is a no-op, not an
                # unknown-constraint error
                if f"nn__{col}" in wh.table_constraints(table):
                    wh.drop_constraint(table, f"nn__{col}")
            else:  # SET NOT NULL
                wh.add_constraint(table, f"nn__{col}",
                                  f"{col} IS NOT NULL")
        return None
    if kind == "ShowTables":
        rows = [(t, len(wh._manifest_files(t) or []),
                 ",".join(wh.table_partition_by(t)))
                for t in wh.tables()]
        return local_rows_df(
            spark, rows or [("", 0, "")],
            "table_name string, num_files int, partitioned_by string"
        ).where(F.col("table_name") != "")
    if kind == "DescribeRelation":
        # only intercept warehouse-tracked tables: DESCRIBE on a
        # registered temp view (or a multi-part name) falls through to
        # spark.sql, which handled it before the door existed
        parts = [str(x)
                 for x in _seq(plan.relation().multipartIdentifier())]
        if len(parts) == 1 and (
                wh._manifest_files(parts[0]) is not None
                or wh.exists(parts[0])):
            table = parts[0]
            part = set(wh.table_partition_by(table))
            schema = wh.read(table).schema
            return local_rows_df(
                spark, [(f.name, f.dataType.simpleString(),
                  "partition" if f.name in part else "")
                 for f in schema.fields],
                "col_name string, data_type string, comment string")
        return spark.sql(stmt)
    if kind == "DeleteFromTable":
        table = _ident(plan.table())
        cond = _opt(plan.condition())
        return wh.delete_where(
            table, str(cond.sql()) if cond is not None else "true")
    if kind == "UpdateTable":
        table = _ident(plan.table())
        cond = _opt(plan.condition())
        sets = _assignments(plan)
        return wh.update_where(
            table, str(cond.sql()) if cond is not None else "true", sets)
    if kind == "MergeIntoTable":
        t_alias, t_rel = _unalias(plan.targetTable())
        table = _ident(t_rel)
        s_alias, s_plan = _unalias(plan.sourceTable())
        if s_alias is None and _cls(s_plan) == "UnresolvedRelation":
            # bare `USING tbl`: the statement's expressions reference
            # the source by its table name — that IS the alias
            parts = [str(x) for x in _seq(s_plan.multipartIdentifier())]
            if len(parts) == 1:
                s_alias = parts[0]
        _register_relations(wh, spark, s_plan)
        source = _of_rows(spark, s_plan)
        on = _on_keys(plan.mergeCondition())
        clauses = _merge_actions(_seq(plan.matchedActions()))
        matched = [c for c in clauses]
        not_matched = _merge_actions(_seq(plan.notMatchedActions()))
        nmbs_raw = _merge_actions(_seq(plan.notMatchedBySourceActions()))
        # re-tag by-source actions (the parser reuses Update/Delete
        # action classes; _merge_actions tags them as matched forms)
        from .operators import merge as M

        nmbs = []
        for c in nmbs_raw:
            if c["action"] == "update":
                nmbs.append(M.when_not_matched_by_source_update(
                    c["set"], c["condition"]))
            else:
                nmbs.append(M.when_not_matched_by_source_delete(
                    c["condition"]))
        return wh.merge_when(
            table, source, on, matched=matched, not_matched=not_matched,
            not_matched_by_source=nmbs,
            target_alias=t_alias or table, source_alias=s_alias or "source",
            # MERGE WITH SCHEMA EVOLUTION INTO … (Spark 4 grammar)
            schema_evolution=bool(plan.withSchemaEvolution()))
    if kind == "InsertIntoStatement":
        table = _ident(plan.table())
        _register_relations(wh, spark, plan.query())
        df = _of_rows(spark, plan.query())
        # SQL INSERT coerces to the TARGET's column types (a literal
        # 77 is int32; writing it raw would poison an int64 column's
        # file set) — by name when the names line up, else by position
        try:
            tgt = wh.read(table).schema
        except FileNotFoundError:
            tgt = None  # first write: the query's schema becomes the table's
        if tgt is not None:
            if len(df.columns) != len(tgt.fields):
                raise ValueError(
                    f"INSERT INTO {table}: query has {len(df.columns)} "
                    f"columns, table has {len(tgt.fields)}"
                )
            by_name = {c.lower() for c in df.columns} == \
                {f.name.lower() for f in tgt.fields}
            lower = {c.lower(): c for c in df.columns}
            df = df.select(*[
                F.col(lower[f.name.lower()] if by_name
                      else df.columns[i]).cast(f.dataType).alias(f.name)
                for i, f in enumerate(tgt.fields)
            ])
        part_by = wh.table_partition_by(table) or None
        if plan.overwrite():
            wh.rewrite(df, table, partition_by=part_by)
            return None
        with wh.transaction():
            wh.append(df, table, partition_by=part_by)
        return None
    if kind == "DropTable":
        # DROP TABLE [IF EXISTS] t — one metadata commit + file reclaim
        # (the child is an UnresolvedIdentifier: nameParts, not
        # multipartIdentifier)
        parts = [str(x) for x in _seq(plan.child().nameParts())]
        if len(parts) != 1:
            raise ValueError(
                f"warehouse tables are single-part names; got "
                f"{'.'.join(parts)}")
        wh.drop_table(parts[0], if_exists=bool(plan.ifExists()))
        return None
    if kind == "CreateTable":
        # CREATE TABLE [IF NOT EXISTS] t (cols) [PARTITIONED BY (…)] —
        # empty declared-schema table (metadata-only commit)
        import json as _json

        from pyspark.sql import types as T

        parts = [str(x) for x in _seq(plan.name().nameParts())]
        if len(parts) != 1:
            raise ValueError(
                f"warehouse tables are single-part names; got "
                f"{'.'.join(parts)}")
        table = parts[0]
        if wh._manifest_files(table) is not None or wh.exists(table):
            if plan.ignoreIfExists():
                return None
            raise ValueError(f"CREATE TABLE: {table} already exists")
        schema = T.StructType.fromJson(
            _json.loads(plan.tableSchema().json()))
        part_by = []
        for t in _seq(plan.partitioning()):
            if _cls(t) != "IdentityTransform":
                raise ValueError(
                    "only PARTITIONED BY (col, …) identity partitioning "
                    f"is supported; got {_cls(t)}")
            part_by += [str(x) for x in t.ref().fieldNames()]
        wh.create_table(table, schema, partition_by=part_by or None)
        return None
    if kind == "CreateTableAsSelect":
        parts = [str(x) for x in _seq(plan.name().nameParts())]
        if len(parts) != 1:
            raise ValueError(
                f"warehouse tables are single-part names; got "
                f"{'.'.join(parts)}"
            )
        table = parts[0]
        if wh.exists(table):
            if plan.ignoreIfExists():  # CREATE TABLE IF NOT EXISTS
                return None
            raise ValueError(f"CREATE TABLE: {table} already exists")
        part_by = []
        for t in _seq(plan.partitioning()):
            if _cls(t) != "IdentityTransform":
                raise ValueError(
                    "only PARTITIONED BY (col, …) identity partitioning "
                    f"is supported; got {_cls(t)}"
                )
            part_by += [str(x) for x in t.ref().fieldNames()]
        _register_relations(wh, spark, plan.query())
        df = _of_rows(spark, plan.query())
        with wh.transaction():
            wh.append(df, table, partition_by=part_by or None)
        return None
    # plain query (or unsupported DDL — spark.sql reports it)
    _register_relations(wh, spark, plan)
    return spark.sql(stmt)
