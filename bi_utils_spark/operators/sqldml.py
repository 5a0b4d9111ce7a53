"""SQL DML front-end over manifest-log tx tables (r10 verdict task 2).

The reference drives its warehouse through SQL STRINGS — S1/S2 script
execution (`utils.py:265-290`, `utils.py:312-352`) renders a template
and ships it to the engine. `sources/sql_scripts.py` covers the
read/DDL side with Catalyst; this module completes the WRITE side for
tx tables: ``MERGE INTO`` / ``DELETE FROM`` / ``UPDATE`` / ``INSERT``
statements (plus ``VERSION AS OF`` / ``TIMESTAMP AS OF`` reads and the
maintenance verbs) parse against a name→path mapping and dispatch to
the existing `operators.txtable` verbs — the strings a reference user
already writes keep working, with the tx layer's ACID semantics
underneath.

Design choices, deliberately:

- **Parse, don't reimplement.** Spark's own parser reads every
  statement its grammar covers (``parsePlan``); the front-end
  dispatches on the class of the plan it returns and takes the
  statement SHAPE (which table, which predicate, which set-clauses)
  from that plan. Every expression and sub-query goes to the verbs as
  the exact text slice at its node's offsets — Catalyst parses
  predicates and set expressions (`F.expr`), and DML execution is the
  verbs' already-tested copy-on-write / merge-on-read machinery. No
  second SQL engine, no drift between the string path and the
  programmatic path.
- **Supported shapes are exact; everything else raises with
  guidance.** SQL MERGE is a large grammar; `merge_tx_table`
  implements the reference's M1 upsert semantics (`utils.py:237-296`)
  plus flagged deletes. The shapes below map onto that 1:1. A MERGE
  whose clauses mean something ELSE (partial-column updates,
  conditional inserts) gets a loud error naming the programmatic
  verb to use instead — never a silently-different semantic. A
  statement Spark cannot parse raises with the statement kind's guide
  plus Spark's own message (line and position).
- **String-literal safety.** Quoting, comments and ``;`` come from
  Spark's lexer and table references from Spark's parse, so a WHERE
  value like ``'DELETE FROM x'`` or ``"t VERSION AS OF 0"`` never
  confuses the dispatcher, a ``--`` inside a literal is not a comment,
  and time-travel rewriting touches only the offsets Spark reports
  for a table reference.

Supported statements (keywords case-insensitive; one statement per
call):

- ``SELECT ...`` — any Spark query; each mapped table binds to a
  snapshot temp view NAMED LIKE the table (so qualified references,
  self-joins, and same-named columns/aliases resolve by Spark's own
  rules; the view shadows a same-named session temp view for the
  statement and is dropped after analysis), and ``VERSION AS OF n``
  / ``TIMESTAMP AS OF 'ts'`` suffixed references rewrite to
  per-version views.
- ``INSERT INTO t [(cols)] VALUES (...), (...)`` /
  ``INSERT INTO t [(cols)] SELECT ...`` — positional, like SQL.
- ``INSERT OVERWRITE t SELECT ...`` — full snapshot swap.
- ``UPDATE t SET c = expr[, ...] [WHERE p]``
- ``DELETE FROM t [WHERE p]``
- ``MERGE INTO t [AS] a USING (src|view) [AS] b ON <pk equi-join>``
  with clauses (each at most once, order free; SQL-standard row
  semantics — see `_do_merge`):
  ``WHEN MATCHED [AND c] THEN UPDATE SET *`` or
  ``SET col = expr[, ...]`` (partial update — unlisted columns keep
  their target values; expressions may reference both aliases),
  ``WHEN MATCHED [AND c] THEN DELETE`` (matched rows ONLY — a
  flagged key absent from the target still inserts, per standard),
  ``WHEN NOT MATCHED [AND c] THEN INSERT *`` or ``INSERT (cols)
  VALUES (exprs)`` (unlisted columns fill NULL; source columns
  beyond the target schema are readable by every condition and
  projected away before landing — ``*`` lands exactly the target
  schema),
  ``WHEN NOT MATCHED BY SOURCE [AND c] THEN DELETE``.
- ``RESTORE TABLE t TO VERSION AS OF n`` (or ``TIMESTAMP AS OF``)
- ``DESCRIBE HISTORY t``
- ``VACUUM t [RETAIN n VERSIONS]``
- DDL (r12): ``CREATE TABLE [IF NOT EXISTS] t (col type, ...)
  [PARTITIONED BY (cols)]`` / ``CREATE TABLE t [PARTITIONED BY
  (cols)] AS SELECT ...``; ``ALTER TABLE t`` with ``ADD COLUMN c
  type``, ``RENAME COLUMN a TO b``, ``DROP COLUMN c``, ``ALTER
  COLUMN c TYPE wider``, ``ADD CONSTRAINT n CHECK (expr)``, ``DROP
  CONSTRAINT n``; ``OPTIMIZE t [ZORDER BY (cols)]`` (partition-scoped
  `compact_partitions` on partitioned tables, `compact_table`
  otherwise). Each dispatches to the corresponding txtable verb —
  the metadata-time ALTERs stay metadata-time.

``OPTIMIZE``, ``VACUUM``, ``RESTORE`` and ``DESCRIBE HISTORY`` are not
Spark grammar; they are matched by their head token and a small regex
over the comment-free statement.

Scale: identical to the verbs — the front-end adds one parse and a
few driver-side plan walks; plans, pruning, and commit protocol are
untouched.
"""

from __future__ import annotations

import json
import re

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from bi_utils_spark.operators import txtable as tx


class SqlDmlError(ValueError):
    """Malformed or unsupported statement — message carries guidance."""


# ---------------------------------------------------------------------------
# Spark's lexer and parse
# ---------------------------------------------------------------------------


def _seq(jseq) -> list:
    """A Scala Seq as a Python list."""
    return [jseq.apply(i) for i in range(jseq.size())]


def _tokens(text: str):
    """Spark's own lexer over ``text`` as a filled token stream.
    Whitespace and comments sit on the hidden channel, each quoted
    literal or identifier is one token, and ``;`` has its own type."""
    jvm = SparkSession.active()._jvm
    p = jvm.org.apache.spark.sql.catalyst.parser
    lexer = p.SqlBaseLexer(
        p.UpperCaseCharStream(jvm.org.antlr.v4.runtime.CharStreams.fromString(text))
    )
    stream = jvm.org.antlr.v4.runtime.CommonTokenStream(lexer)
    stream.fill()
    return stream


def _marks(stream) -> list[tuple[int, int, bool]]:
    """(start, stop, is_semicolon) of every ``;`` and comment token."""
    lex = SparkSession.active()._jvm.org.apache.spark.sql.catalyst.parser.SqlBaseLexer
    semi = lex.SEMICOLON
    toks = stream.getTokens(
        0, stream.size() - 1, {semi, lex.SIMPLE_COMMENT, lex.BRACKETED_COMMENT}
    )
    return [
        (t.getStartIndex(), t.getStopIndex(), t.getType() == semi)
        for t in (toks or [])
    ]


def _span(node) -> tuple[int, int] | None:
    """Offsets (inclusive) Spark's parser recorded for ``node``."""
    o = node.origin()
    start = o.startIndex()
    if start.isEmpty():
        return None
    return start.get(), o.stopIndex().get()


def _text(sql: str, node) -> str | None:
    span = _span(node)
    return sql[span[0] : span[1] + 1] if span else None


def _opt_text(sql: str, opt) -> str | None:
    return _text(sql, opt.get()) if opt.isDefined() else None


def _name(node) -> str:
    """Dotted name of a parsed table reference (quotes already gone)."""
    parts = (
        node.nameParts()
        if node.nodeName() == "UnresolvedIdentifier"
        else node.multipartIdentifier()
    )
    return ".".join(_seq(parts))


def _unalias(node):
    """(relation or query, alias or None). A MERGE ``SubqueryAlias``
    spans the whole statement, so callers read its child's span."""
    if node.nodeName() == "SubqueryAlias":
        return node.child(), node.alias()
    return node, None


def _walk(plan):
    """Table references of a parsed query — its ``UnresolvedRelation``
    and ``RelationTimeTravel`` nodes, through sub-queries and CTE
    bodies — and the text extent its nodes cover. A query's own node
    can span only its ORDER BY / LIMIT clause, so the extent is the
    union of every node's span."""
    refs, lo, hi = [], None, None
    stack = [plan]
    while stack:
        node = stack.pop()
        kind = node.nodeName()
        span = _span(node)
        if span:
            lo = span[0] if lo is None else min(lo, span[0])
            hi = span[1] if hi is None else max(hi, span[1])
        if kind in ("UnresolvedRelation", "RelationTimeTravel"):
            refs.append((kind, node))
        else:
            stack += _seq(node.children()) + _seq(node.innerChildren())
    return refs, lo, hi


# ---------------------------------------------------------------------------
# time-travel binding for reads
# ---------------------------------------------------------------------------


def _query(
    spark: SparkSession, sql: str, plan, tables: dict[str, str],
    lo: int | None = None, to_end: bool = False,
) -> DataFrame:
    """Run the query ``plan`` parsed from ``sql`` with every mapped
    table bound to a snapshot temp view. Its text starts at ``lo``
    (default: where its nodes start) and ends where its nodes end, or
    at the end of ``sql`` with ``to_end``.

    Plain references bind a temp view NAMED EXACTLY like the table
    and the SQL text is left untouched — so table-qualified column
    references (``SELECT t.x FROM t``), self-joins, and columns or
    aliases that merely share a mapped name all resolve by Spark's
    own scoping rules (r11 advice: per-occurrence view substitution
    broke every qualified reference). The view shadows any
    same-named session temp view for the statement's duration — by
    contract the mapping says what the name means here — and is
    dropped after analysis. AS OF references rewrite to one
    namespaced view per (table, version) since Spark cannot time
    travel a temp view; dotted table names (not legal temp-view
    names) rewrite to one stable substitute view for ALL plain
    references. Rewrites happen only at the offsets Spark reports for
    a table reference, so quoted text is never touched."""
    refs, first, last = _walk(plan)
    lo = first if lo is None else lo
    hi = len(sql) if to_end else last + 1
    mapped = {k.lower(): k for k in tables}
    views: list[str] = []
    plain: dict[str, None] = {}
    subst: dict[tuple, str] = {}
    edits = []

    def bind(path: str, view: str, version=None, ts=None) -> str:
        df = tx.read_table(spark, path, version=version, timestamp=ts)
        df.createOrReplaceTempView(view)
        views.append(view)
        return view

    try:
        for kind, node in refs:
            rel = node.relation() if kind == "RelationTimeTravel" else node
            name = mapped.get(_name(rel).lower())
            if name is None:
                continue
            if kind == "UnresolvedRelation" and "." not in name:
                plain[name] = None
                continue
            key = (
                (name, None, None) if kind == "UnresolvedRelation"
                else (name, *_as_of(sql, node))
            )
            if key not in subst:
                safe = "".join(c if c.isalnum() else "_" for c in name)
                subst[key] = bind(
                    tables[name], f"__tx_sql_{safe}_{len(views)}", *key[1:]
                )
            edits.append((_span(rel)[0], _span(node)[1], subst[key]))
        for name in plain:
            bind(tables[name], name)
        text = sql[lo:hi]
        for start, stop, view in sorted(edits, reverse=True):
            text = text[: start - lo] + view + text[stop + 1 - lo :]
        return spark.sql(text)
    finally:
        # statement-scoped views: analysis is eager, so the returned
        # DataFrame's plan is resolved and no longer needs them
        for v in views:
            try:
                spark.catalog.dropTempView(v)
            except Exception:  # noqa: BLE001 — cleanup is best-effort
                pass


def _as_of(sql: str, node) -> tuple[int | None, str | None]:
    """(version, timestamp) of a ``RelationTimeTravel`` node."""
    version, ts = node.version(), node.timestamp()
    if version.isDefined():
        return int(version.get()), None
    ts_sql = _text(sql, ts.get())
    if ts_sql[0] not in "'\"":
        raise SqlDmlError(
            f"tx_sql: TIMESTAMP AS OF takes a quoted timestamp, got {ts_sql!r}"
        )
    return None, ts_sql[1:-1]


# ---------------------------------------------------------------------------
# statement handlers
# ---------------------------------------------------------------------------


def _resolve(tables: dict[str, str], name: str, kind: str) -> str:
    if name not in tables:
        raise SqlDmlError(
            f"tx_sql: table {name!r} in {kind} statement is "
            f"not in the tables mapping (have {sorted(tables)}). Pass "
            f"tables={{name: table_path}} for every tx table the "
            f"statement touches."
        )
    return tables[name]


def _target(tables: dict[str, str], node, kind: str) -> str:
    """Path of an UPDATE / DELETE target; the verbs read predicates
    over the bare table, so an alias would not resolve."""
    if node.nodeName() == "SubqueryAlias":
        raise SqlDmlError(
            f"tx_sql {kind}: a target table alias is not supported — "
            f"write the predicate over unqualified column names"
        )
    return _resolve(tables, _name(node), kind)


def _assignments(sql: str, assignments, alias: str) -> dict[str, str]:
    """{column: expression text} of SET / INSERT assignments; a
    qualifier must name the target."""
    sets: dict[str, str] = {}
    for a in _seq(assignments):
        *qual, col = _seq(a.key().nameParts())
        if qual and ".".join(qual) != alias:
            raise SqlDmlError(
                f"tx_sql: SET target {'.'.join([*qual, col])!r} is not a "
                f"column name of the target {alias!r}"
            )
        if col in sets:
            raise SqlDmlError(f"tx_sql: column {col!r} SET twice.")
        sets[col] = _text(sql, a.value())
    return sets


def _do_insert(spark, sql, plan, tables) -> dict:
    path = _resolve(tables, _name(plan.table()), "INSERT")
    overwrite = plan.overwrite()
    if not plan.partitionSpec().isEmpty() or plan.byName():
        raise SqlDmlError(
            "tx_sql INSERT: PARTITION (...) and BY NAME are not "
            "supported — list the columns: INSERT INTO t (cols) ..."
        )
    explicit_cols = _seq(plan.userSpecifiedCols()) or None
    from pyspark.sql import functions as F

    schema = tx._fold(path).spark_schema()
    snap_cols = [f.name for f in schema.fields]
    types = {f.name: f.dataType for f in schema.fields}
    target_cols = explicit_cols or snap_cols
    unknown = [c for c in target_cols if c not in types]
    if unknown:
        raise SqlDmlError(
            f"tx_sql INSERT: column(s) {unknown} not in table schema "
            f"({snap_cols})"
        )
    # the statement's own span covers INSERT ... <table> [(cols)]; the
    # query (VALUES or SELECT) is the rest of the text
    df = _query(
        spark, sql, plan.query(), tables, lo=_span(plan)[1] + 1, to_end=True
    )
    if len(df.columns) != len(target_cols):
        raise SqlDmlError(
            f"tx_sql INSERT: source has {len(df.columns)} columns, "
            f"target expects {len(target_cols)} ({target_cols})"
        )
    df = df.toDF(*target_cols)
    # SQL INSERT semantics: positional assignment casts to the target
    # column types; unlisted columns fill with NULL.
    out = df.select(
        *[
            (
                F.col(c) if c in target_cols else F.lit(None)
            ).cast(types[c]).alias(c)
            for c in snap_cols
        ]
    )
    if overwrite:
        if explicit_cols:
            raise SqlDmlError(
                "tx_sql INSERT OVERWRITE: column lists are not "
                "supported — OVERWRITE replaces the full snapshot"
            )
        return {"op": "insert_overwrite", "version": tx.overwrite_table(out, path)}
    return {"op": "insert", "version": tx.append_table(out, path)}


def _do_delete(spark, sql, plan, tables, mode) -> dict:
    path = _target(tables, plan.table(), "DELETE")
    # no WHERE parses as an unplaced literal true
    cond_sql = _text(sql, plan.condition()) or "true"
    res = tx.delete_from_table(spark, path, cond_sql, mode=mode)
    return {"op": "delete", **res}


def _do_update(spark, sql, plan, tables, mode) -> dict:
    path = _target(tables, plan.table(), "UPDATE")
    sets = _assignments(sql, plan.assignments(), _name(plan.table()))
    cond_sql = _opt_text(sql, plan.condition()) or "true"
    res = tx.update_table(spark, path, cond_sql, sets, mode=mode)
    return {"op": "update", **res}


_MERGE_GUIDE = (
    "Supported MERGE shape: MERGE INTO t [AS] a USING (src|view) [AS] b "
    "ON a.pk = b.pk [AND ...] with clauses "
    "WHEN MATCHED [AND <cond>] THEN UPDATE SET * | SET c = expr[, ...], "
    "WHEN MATCHED [AND <cond>] THEN DELETE, "
    "WHEN NOT MATCHED [AND <cond over source>] THEN INSERT * | INSERT (cols) VALUES (exprs), "
    "WHEN NOT MATCHED BY SOURCE [AND <cond over target>] THEN DELETE "
    "(at most one of each kind; a MATCHED row satisfying the DELETE "
    "condition deletes regardless of clause order). For shapes beyond "
    "these call operators.txtable.merge_tx_table / update_table "
    "directly."
)


def _merge_clauses(sql: str, plan, t_alias: str) -> dict:
    """The WHEN clauses as at most one of each kind: ``upd`` {cond,
    sets ('*' or {col: expr})}, ``ins`` {cond, vals (None for ``*`` or
    {col: expr})}, ``mdel`` {cond}, ``nmbs`` {cond}; conditions and
    expressions are text. Spark's grammar already limits MATCHED to
    UPDATE / DELETE, NOT MATCHED to INSERT, and refuses a MERGE
    without clauses."""
    out: dict[str, dict] = {}

    def put(kind: str, label: str, val: dict) -> None:
        if kind in out:
            raise SqlDmlError(
                f"tx_sql MERGE: duplicate clause kind {label!r} — at "
                f"most one of each WHEN form. " + _MERGE_GUIDE
            )
        out[kind] = val

    for act in _seq(plan.matchedActions()):
        kind, cond = act.nodeName(), _opt_text(sql, act.condition())
        if kind == "DeleteAction":
            put("mdel", "WHEN MATCHED THEN DELETE", {"cond": cond})
        else:
            sets = (
                "*" if kind == "UpdateStarAction"
                else _assignments(sql, act.assignments(), t_alias)
            )
            put("upd", "WHEN MATCHED THEN UPDATE", {"cond": cond, "sets": sets})
    for act in _seq(plan.notMatchedActions()):
        vals = (
            None if act.nodeName() == "InsertStarAction"
            else _assignments(sql, act.assignments(), t_alias)
        )
        put(
            "ins", "WHEN NOT MATCHED",
            {"cond": _opt_text(sql, act.condition()), "vals": vals},
        )
    for act in _seq(plan.notMatchedBySourceActions()):
        if act.nodeName() != "DeleteAction":
            raise SqlDmlError(
                "tx_sql MERGE: WHEN NOT MATCHED BY SOURCE supports "
                "THEN DELETE only (an UPDATE of untouched target "
                "rows is update_table's job). " + _MERGE_GUIDE
            )
        put(
            "nmbs", "WHEN NOT MATCHED BY SOURCE",
            {"cond": _opt_text(sql, act.condition())},
        )
    return out


def _in_spark_clause_order(sql: str, stream) -> str:
    """Spark's grammar takes MERGE clauses as MATCHED*, NOT MATCHED*,
    NOT MATCHED BY SOURCE*, and only the last clause of each group may
    omit its condition; this front-end takes them in any order (a
    MATCHED DELETE wins over a MATCHED UPDATE whatever their order).
    Move the clause texts into Spark's order — conditional clauses
    first within a group — cutting at each WHEN no CASE encloses.
    A statement already in that order comes back unchanged."""
    lex = SparkSession.active()._jvm.org.apache.spark.sql.catalyst.parser.SqlBaseLexer
    when, case, end = lex.WHEN, lex.CASE, lex.END
    cuts, depth = [], 0
    for t in stream.getTokens(0, stream.size() - 1, {when, case, end}) or []:
        kind = t.getType()
        if kind == case:
            depth += 1
        elif kind == end:  # END is also a legal column name: never below 0
            depth = max(depth - 1, 0)
        elif depth == 0:
            cuts.append(t.getStartIndex())
    clauses = [sql[a:b] for a, b in zip(cuts, [*cuts[1:], len(sql)])]

    def rank(clause: str) -> tuple[int, bool]:
        w = [*clause.upper().split()[:6], "", "", "", "", ""]
        if w[1] == "MATCHED":
            return 0, w[2].startswith("THEN")
        if w[3] != "BY":
            return 1, w[3].startswith("THEN")
        return (2 if w[4] == "SOURCE" else 1), w[5].startswith("THEN")

    ordered = sorted(clauses, key=rank)
    if ordered == clauses:
        return sql
    # newline-joined, so a trailing -- comment ends with its clause
    return sql[: cuts[0]] + "\n".join(
        c.strip().rstrip(";").rstrip() for c in ordered
    )


def _merge_keys(on: str, t_alias: str, s_alias: str | None) -> list[str]:
    """The pk columns of an ON clause that is a conjunction of
    alias-qualified equalities, read through Spark's parse."""
    pks: list[str] = []
    stack = [tx._expr_tree(on)]
    while stack:
        node = stack.pop()
        if node[:2] == ("call", "and"):
            stack += reversed(node[2])
            continue
        if not (
            node[:2] == ("call", "=")
            and all(a[0] == "ident" and len(a[1]) > 1 for a in node[2])
        ):
            raise SqlDmlError(
                f"tx_sql MERGE: ON must be a conjunction of "
                f"t.col = s.col equalities, got {on!r}. " + _MERGE_GUIDE
            )
        (a1, c1), (a2, c2) = [(".".join(a[1][:-1]), a[1][-1]) for a in node[2]]
        term = f"{a1}.{c1} = {a2}.{c2}"
        sides = {a1: c1, a2: c2}
        if t_alias not in sides or (s_alias and s_alias not in sides):
            raise SqlDmlError(
                f"tx_sql MERGE: ON term {term!r} does not join "
                f"the target alias {t_alias!r} to the source. "
                + _MERGE_GUIDE
            )
        if c1 != c2:
            raise SqlDmlError(
                f"tx_sql MERGE: pk columns must match by name "
                f"({c1!r} vs {c2!r}) — merge_tx_table merges on shared "
                f"pk names. " + _MERGE_GUIDE
            )
        pks.append(c1)
    return pks


def _reads_alias(expr: str, alias: str) -> bool:
    """True when ``expr`` references a column qualified by ``alias``."""
    qual = alias.split(".")
    stack = [tx._expr_tree(expr)]
    while stack:
        node = stack.pop()
        if node[0] == "ident":
            if len(node[1]) > len(qual) and list(node[1][: len(qual)]) == qual:
                return True
        elif node[0] == "call":
            stack.extend(node[2])
    return False


def _do_merge(spark, sql, plan, tables) -> dict:
    """Lower a MERGE statement onto `merge_tx_table` with SQL-standard
    per-row semantics (r11 advice + verdict task 4):

    - a MATCHED source row satisfying the DELETE condition deletes
      the target row (delete wins over update for the same row — the
      net-effect convention, documented in the guide);
    - otherwise a MATCHED row satisfying the UPDATE condition
      updates (SET * replaces the row; SET c = expr rewrites listed
      columns, others keep their TARGET values — expressions may
      reference both aliases);
    - a MATCHED row satisfying neither condition leaves the target
      row UNTOUCHED;
    - a NOT MATCHED source row inserts iff the INSERT clause exists
      and its condition holds — in particular a delete-flagged row
      whose key is NOT in the target INSERTS (standard MERGE: the
      MATCHED DELETE clause only ever applies to matched rows; the
      pre-r12 lowering silently dropped such rows);
    - WHEN NOT MATCHED BY SOURCE THEN DELETE removes target rows no
      source key touches (condition over target columns).

    Everything lands in ONE merge commit: updates/inserts as the
    staged source, deletes as flagged tombstone rows through
    merge_tx_table's delete_col. The plain unconditional
    ``UPDATE SET * + INSERT *`` pair keeps the cheap path (no target
    join beyond the pk projection the DELETE clause needs);
    conditional/partial shapes join source to target on the pks —
    a column-pruned shuffle on the merge keys, the price of
    evaluating target-side expressions."""
    from pyspark.sql import functions as F

    t_rel, t_alias = _unalias(plan.targetTable())
    name = _name(t_rel)
    path = _resolve(tables, name, "MERGE")
    t_alias = t_alias or name
    s_node, s_alias = _unalias(plan.sourceTable())
    s_name = _name(s_node) if s_node.nodeName() == "UnresolvedRelation" else None
    s_alias = s_alias or s_name

    pks = _merge_keys(_text(sql, plan.mergeCondition()), t_alias, s_alias)
    clauses = _merge_clauses(sql, plan, t_alias)
    upd = clauses.get("upd")
    ins = clauses.get("ins")
    mdel = clauses.get("mdel")
    nmbs = clauses.get("nmbs")

    if s_name in tables:
        src = tx.read_table(spark, tables[s_name])
    elif s_name:
        src = spark.table(_text(sql, s_node))
    else:
        src = _query(spark, sql, s_node, tables)
    tgt_schema = tx._fold(path).spark_schema()
    target_cols = [f.name for f in tgt_schema.fields]
    dt_of = {f.name: f.dataType for f in tgt_schema.fields}

    def _require_full_source(star_kind: str) -> None:
        missing = [c for c in target_cols if c not in src.columns]
        if missing:
            raise SqlDmlError(
                f"tx_sql MERGE: source is missing target column(s) "
                f"{missing} — {star_kind} requires every target "
                f"column in the source"
            )

    def _cond(c):
        return F.expr(c) if c else F.lit(True)

    dcol = "__tx_sql_del"

    fast = (
        upd is not None
        and upd["cond"] is None
        and upd["sets"] == "*"
        and ins is not None
        and ins["cond"] is None
        and ins["vals"] is None
        and nmbs is None
    )
    if fast and mdel is not None and mdel["cond"] is not None:
        # the cheap path evaluates the DELETE condition on the bare
        # source; a target-column reference needs the join path
        fast = not _reads_alias(mdel["cond"], t_alias)

    if fast:
        _require_full_source("UPDATE SET * / INSERT *")
        flag = None
        if mdel is not None:
            # SQL standard: the MATCHED DELETE clause applies to
            # MATCHED rows only — restrict the flag to keys present
            # in the target, so a flagged-but-new key still INSERTS
            # (pk projection is column-pruned; the join shuffles on
            # the merge keys the merge shuffles on anyway)
            marker = (
                tx.read_table(spark, path)
                .select(*pks)
                .distinct()
                .withColumn("__tx_sql_m", F.lit(True))
            )
            flag = dcol
            # the condition reads the source under its own alias
            src = (
                (src.alias(s_alias) if s_alias else src)
                .withColumn("__tx_sql_raw", _cond(mdel["cond"]))
                .join(marker, pks, "left")
                .withColumn(
                    dcol,
                    F.coalesce(F.col("__tx_sql_raw"), F.lit(False))
                    & F.coalesce(F.col("__tx_sql_m"), F.lit(False)),
                )
                .drop("__tx_sql_raw", "__tx_sql_m")
            )
        src = src.select(*target_cols, *([flag] if flag else []))
        version = tx.merge_tx_table(spark, path, src, pks, delete_col=flag)
        return {"op": "merge", "version": version}

    # --- general path: conditional / partial / by-source shapes.
    # Build ONE effective source relation with per-row delete flags,
    # then a single merge commit applies it.
    if s_alias is None:
        s_alias = "__tx_sql_src"
    if s_alias == t_alias:
        raise SqlDmlError(
            f"tx_sql MERGE: target and source share the alias "
            f"{t_alias!r} — expressions could not disambiguate."
        )
    tgt = tx.read_table(spark, path)
    parts: list[DataFrame] = []
    need_flag = mdel is not None or nmbs is not None

    def _with_flag(df: DataFrame, value: bool) -> DataFrame:
        return (
            df.withColumn(dcol, F.lit(value)) if need_flag else df
        )

    if upd is not None or mdel is not None:
        joined = tgt.alias(t_alias).join(
            src.alias(s_alias),
            [
                F.col(f"{t_alias}.{k}") == F.col(f"{s_alias}.{k}")
                for k in pks
            ],
            "inner",
        )
        del_c = (
            F.coalesce(_cond(mdel["cond"]), F.lit(False))
            if mdel is not None
            else F.lit(False)
        )
        if mdel is not None:
            parts.append(
                _with_flag(
                    joined.where(del_c).select(
                        *[
                            F.col(f"{t_alias}.{c}").alias(c)
                            for c in target_cols
                        ]
                    ),
                    True,
                )
            )
        if upd is not None:
            upd_rows = joined.where(
                ~del_c & F.coalesce(_cond(upd["cond"]), F.lit(False))
            )
            if upd["sets"] == "*":
                _require_full_source("UPDATE SET *")
                proj = [
                    F.col(f"{s_alias}.{c}").alias(c) for c in target_cols
                ]
            else:
                sets = upd["sets"]
                unknown = [c for c in sets if c not in target_cols]
                if unknown:
                    raise SqlDmlError(
                        f"tx_sql MERGE: SET column(s) {unknown} not in "
                        f"the target schema ({target_cols})"
                    )
                bad_pk = [c for c in sets if c in pks]
                if bad_pk:
                    raise SqlDmlError(
                        f"tx_sql MERGE: SET may not assign merge key "
                        f"column(s) {bad_pk} — a key change is a "
                        f"delete+insert, spell it as such."
                    )
                proj = [
                    (
                        F.expr(sets[c])
                        if c in sets
                        else F.col(f"{t_alias}.{c}")
                    ).alias(c)
                    for c in target_cols
                ]
            parts.append(_with_flag(upd_rows.select(*proj), False))
    if ins is not None:
        unmatched = (
            src.alias(s_alias)
            .join(tgt.select(*pks).distinct(), pks, "left_anti")
            .where(_cond(ins["cond"]))
        )
        if ins["vals"] is None:
            _require_full_source("INSERT *")
            proj = [F.col(c) for c in target_cols]
        else:
            unknown = [c for c in ins["vals"] if c not in target_cols]
            if unknown:
                raise SqlDmlError(
                    f"tx_sql MERGE: INSERT column(s) {unknown} not in "
                    f"the target schema ({target_cols})"
                )
            missing_pks = [k for k in pks if k not in ins["vals"]]
            if missing_pks:
                raise SqlDmlError(
                    f"tx_sql MERGE: INSERT (cols) must list the merge "
                    f"key(s) {missing_pks} — a NULL-keyed insert can "
                    f"never be matched again."
                )
            val_of = ins["vals"]
            # unlisted columns fill NULL at the declared type — SQL
            # INSERT column-list semantics
            proj = [
                (
                    F.expr(val_of[c]) if c in val_of else F.lit(None)
                ).cast(dt_of[c]).alias(c)
                for c in target_cols
            ]
        parts.append(_with_flag(unmatched.select(*proj), False))
    if nmbs is not None:
        untouched = (
            tgt.alias(t_alias)
            .join(src.select(*pks).distinct(), pks, "left_anti")
            .where(_cond(nmbs["cond"]))
        )
        parts.append(_with_flag(untouched.select(*target_cols), True))
    effective = parts[0]
    for p in parts[1:]:
        effective = effective.unionByName(p)
    version = tx.merge_tx_table(
        spark, path, effective, pks,
        delete_col=dcol if need_flag else None,
    )
    return {"op": "merge", "version": version}


_CREATE_GUIDE = (
    "tx_sql CREATE TABLE: expected CREATE TABLE [IF NOT EXISTS] <table> "
    "(col type, ...) [PARTITIONED BY (cols)] or CREATE TABLE <table> "
    "[PARTITIONED BY (cols)] AS SELECT ... (a column list and AS SELECT "
    "are mutually exclusive — CTAS takes its schema from the query; no "
    "USING / LOCATION / COMMENT / TBLPROPERTIES: the mapping names the "
    "table's path)."
)


def _do_create(spark, sql, plan, tables) -> dict:
    path = _resolve(tables, _name(plan.name()), "CREATE")
    spec = plan.tableSpec()
    if any(
        not getattr(spec, f)().isEmpty()
        for f in ("properties", "provider", "location", "comment", "serde")
    ):
        raise SqlDmlError(_CREATE_GUIDE)
    pcols = []
    for t in _seq(plan.partitioning()):
        if t.name() != "identity":
            raise SqlDmlError(
                f"tx_sql CREATE TABLE: PARTITIONED BY takes column "
                f"names, got a {t.name()} transform. " + _CREATE_GUIDE
            )
        pcols.append(".".join(t.references()[0].fieldNames()))
    if plan.ignoreIfExists() and tx.latest_version(path) >= 0:
        return {
            "op": "create",
            "version": tx.latest_version(path),
            "skipped": True,
        }
    if plan.nodeName() == "CreateTableAsSelect":
        df = _query(spark, sql, plan.query(), tables, to_end=True)
    else:
        df = spark.createDataFrame(
            [], StructType.fromJson(json.loads(plan.tableSchema().json()))
        )
    return {
        "op": "create",
        "version": tx.create_table(df, path, partition_cols=pcols or None),
    }


_ALTER_GUIDE = (
    "Supported ALTER TABLE forms: ADD COLUMN c type | RENAME COLUMN "
    "a TO b | DROP COLUMN c | ALTER COLUMN c TYPE wider | ADD "
    "CONSTRAINT n CHECK (expr) | DROP CONSTRAINT n. Partition "
    "evolution is repartition_table (no standard SQL spelling)."
)


def _column(field) -> str:
    """The one top-level column a parsed field reference names."""
    parts = _seq(field.name())
    if len(parts) != 1:
        raise SqlDmlError(
            f"tx_sql ALTER TABLE: nested field {'.'.join(parts)!r} is not "
            f"supported. " + _ALTER_GUIDE
        )
    return parts[0]


def _only(items: list, what: str):
    if len(items) != 1:
        raise SqlDmlError(
            f"tx_sql ALTER TABLE: one {what} per statement. " + _ALTER_GUIDE
        )
    return items[0]


def _do_alter(spark, sql, plan, tables) -> dict:
    kind = plan.nodeName()
    if kind not in (
        "AddColumns", "RenameColumn", "DropColumns", "AlterColumns",
        "AddCheckConstraint", "DropConstraint",
    ):
        raise SqlDmlError(
            f"tx_sql ALTER TABLE: unsupported form {kind}. " + _ALTER_GUIDE
        )
    table = plan.children().apply(0)
    if kind == "AddCheckConstraint":  # the table sits under a Filter
        table = table.child()
    path = _resolve(tables, _name(table), "ALTER")
    if kind == "AddColumns":
        c = _only(_seq(plan.columnsToAdd()), "ADD COLUMN")
        if not c.nullable() or any(
            getattr(c, f)().isDefined() for f in ("path", "position", "default")
        ):
            raise SqlDmlError(
                "tx_sql ALTER TABLE: ADD COLUMN takes a nullable top-level "
                "column without FIRST/AFTER or DEFAULT. " + _ALTER_GUIDE
            )
        version = tx.add_column(path, c.colName(), c.dataType().catalogString())
    elif kind == "RenameColumn":
        version = tx.rename_column(path, _column(plan.column()), plan.newName())
    elif kind == "DropColumns":
        version = tx.drop_column(
            path, _column(_only(_seq(plan.columnsToDrop()), "DROP COLUMN"))
        )
    elif kind == "AlterColumns":
        spec = _only(_seq(plan.specs()), "ALTER COLUMN")
        if spec.newDataType().isEmpty() or spec.dropDefault() or any(
            getattr(spec, f)().isDefined()
            for f in ("newNullability", "newComment", "newPosition",
                      "newDefaultExpression")
        ):
            raise SqlDmlError(
                "tx_sql ALTER TABLE: ALTER COLUMN supports TYPE only. "
                + _ALTER_GUIDE
            )
        version = tx.widen_column_type(
            path, _column(spec.column()),
            spec.newDataType().get().catalogString(),
        )
    elif kind == "AddCheckConstraint":
        check = plan.checkConstraint()
        version = tx.add_check_constraint(
            spark, path, check.name(), _text(sql, check.child())
        )
    else:
        version = tx.drop_check_constraint(path, plan.name())
    return {"op": "alter", "version": version}


# ---------------------------------------------------------------------------
# the four verbs outside Spark's grammar
# ---------------------------------------------------------------------------

_VERBS = {
    "OPTIMIZE": (
        re.compile(
            r"^OPTIMIZE\s+(?P<tbl>[\w.`]+)"
            r"(?:\s+ZORDER\s+BY\s*\(\s*(?P<z>[^)]*?)\s*\))?$",
            re.IGNORECASE,
        ),
        "tx_sql: malformed OPTIMIZE — expected OPTIMIZE <table> "
        "[ZORDER BY (cols)]",
    ),
    "RESTORE": (
        re.compile(
            r"^RESTORE\s+TABLE\s+(?P<tbl>[\w.`]+)\s+TO\s+"
            r"(?:VERSION\s+AS\s+OF\s+(?P<v>\d+)"
            r"|TIMESTAMP\s+AS\s+OF\s+(?P<ts>'[^']*'|\"[^\"]*\"))$",
            re.IGNORECASE,
        ),
        "tx_sql: malformed RESTORE — expected RESTORE TABLE <table> TO "
        "VERSION AS OF <n> | TIMESTAMP AS OF '<ts>'",
    ),
    "DESCRIBE": (
        re.compile(r"^DESCRIBE\s+HISTORY\s+(?P<tbl>[\w.`]+)$", re.IGNORECASE),
        "tx_sql: only DESCRIBE HISTORY <table> is supported",
    ),
    "VACUUM": (
        re.compile(
            r"^VACUUM\s+(?P<tbl>[\w.`]+)"
            r"(?:\s+RETAIN\s+(?P<n>\d+)\s+VERSIONS)?$",
            re.IGNORECASE,
        ),
        "tx_sql: malformed VACUUM — expected VACUUM <table> "
        "[RETAIN <n> VERSIONS]",
    ),
}


def _do_verb(spark, head: str, body: str, tables):
    """OPTIMIZE / RESTORE / DESCRIBE HISTORY / VACUUM over the
    statement with comments and ``;`` blanked out."""
    pattern, guide = _VERBS[head]
    m = pattern.match(body)
    if not m:
        raise SqlDmlError(guide)
    path = _resolve(tables, m["tbl"].replace("`", ""), head)
    if head == "DESCRIBE":
        return tx.table_history(spark, path)
    if head == "RESTORE":
        version = tx.restore_table(
            spark, path,
            version=int(m["v"]) if m["v"] else None,
            timestamp=m["ts"][1:-1] if m["ts"] else None,
        )
        return {"op": "restore", "version": version}
    if head == "VACUUM":
        kw = {"retain_versions": int(m["n"])} if m["n"] else {}
        deleted = tx.vacuum_table(path, **kw)
        return {"op": "vacuum", "version": tx.latest_version(path),
                "files_deleted": len(deleted)}
    zorder = [c.strip() for c in m["z"].split(",")] if m["z"] else None
    if tx._fold(path).partition_cols:
        version = tx.compact_partitions(spark, path, zorder_by=zorder)
    else:
        version = tx.compact_table(spark, path, zorder_by=zorder)
    return {
        "op": "optimize",
        "version": (
            version if version is not None else tx.latest_version(path)
        ),
        "compacted": version is not None,
    }


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------

# per statement kind, the shape a parse error is measured against
_GUIDES = {
    "INSERT": "tx_sql INSERT: expected VALUES (...) or SELECT ... after "
    "INSERT INTO|OVERWRITE <table> [(cols)].",
    "DELETE": "tx_sql DELETE: expected DELETE FROM <table> "
    "[WHERE <predicate>].",
    "UPDATE": "tx_sql UPDATE: expected UPDATE <table> SET col = expr[, ...] "
    "[WHERE <predicate>]; a SET target that is not a column name does "
    "not parse.",
    "MERGE": "tx_sql MERGE: malformed statement, or an unsupported action "
    "or clause. " + _MERGE_GUIDE,
    "CREATE": _CREATE_GUIDE,
    "ALTER": "tx_sql ALTER TABLE: malformed statement. " + _ALTER_GUIDE,
}


def tx_sql(
    spark: SparkSession,
    statement: str,
    tables: dict[str, str],
    mode: str = "mor",
):
    """Execute ONE SQL statement against tx tables.

    ``tables`` maps statement table names to tx-table paths. Reads
    (SELECT / the USING source) may reference mapped names with
    ``VERSION AS OF n`` / ``TIMESTAMP AS OF 'ts'``. ``mode`` picks the
    DELETE/UPDATE execution strategy (``"mor"`` deletion vectors /
    ``"cow"`` rewrite), same default as the verbs.

    Returns a DataFrame for SELECT / DESCRIBE HISTORY, else a dict
    with at least ``op`` and ``version``.
    """
    stream = _tokens(statement)
    first = stream.LT(1)
    head = "" if first.getType() == -1 else first.getText().upper()
    if head in ("", ";"):
        raise SqlDmlError("tx_sql: empty statement")
    if head in _VERBS:
        body = list(statement)
        for start, stop, _ in _marks(stream):
            body[start : stop + 1] = " " * (stop - start + 1)
        return _do_verb(spark, head, "".join(body).strip(), tables)
    if head == "MERGE":
        statement = _in_spark_clause_order(statement, stream)
    try:
        plan = spark._jsparkSession.sessionState().sqlParser().parsePlan(
            statement
        )
    except AnalysisException as e:  # ParseException and parse-time checks
        guide = _GUIDES.get(head, "tx_sql: Spark cannot parse the statement.")
        raise SqlDmlError(f"{guide} Spark: {e}") from e
    kind = plan.nodeName()
    if kind == "InsertIntoStatement":
        return _do_insert(spark, statement, plan, tables)
    if kind == "DeleteFromTable":
        return _do_delete(spark, statement, plan, tables, mode)
    if kind == "UpdateTable":
        return _do_update(spark, statement, plan, tables, mode)
    if kind == "MergeIntoTable":
        return _do_merge(spark, statement, plan, tables)
    if kind in ("CreateTable", "CreateTableAsSelect"):
        return _do_create(spark, statement, plan, tables)
    if head == "ALTER":
        return _do_alter(spark, statement, plan, tables)
    command = spark._jvm.org.apache.spark.sql.catalyst.plans.logical.Command
    if command._java_lang_class.isInstance(plan):
        raise SqlDmlError(
            f"tx_sql: unsupported statement kind {head!r} — supported: "
            f"SELECT/WITH, INSERT, UPDATE, DELETE, MERGE, CREATE TABLE, "
            f"ALTER TABLE, OPTIMIZE, RESTORE TABLE, DESCRIBE HISTORY, "
            f"VACUUM. (DROP TABLE is deliberately absent — deleting a "
            f"table is a filesystem operation, not a commit.)"
        )
    return _query(spark, statement, plan, tables, lo=0, to_end=True)


def split_statements(script: str) -> list[str]:
    """Split a SQL script into statements at Spark's ``;`` tokens — a
    ``;`` inside a quoted literal or a comment never splits; comments
    and whitespace around a statement are trimmed, empty statements
    drop. Needs an active SparkSession (the lexer is Spark's)."""
    stream = _tokens(script)
    cuts, comments = [], {}
    for start, stop, semi in _marks(stream):
        if semi:
            cuts.append(start)
        else:
            comments[start] = stop
    ends = {stop: start for start, stop in comments.items()}
    out, lo = [], 0
    for hi in [*cuts, len(script)]:
        a, b = lo, hi
        while a < b and (script[a].isspace() or a in comments):
            a = comments[a] + 1 if a in comments else a + 1
        while b > a and (script[b - 1].isspace() or b - 1 in ends):
            b = ends[b - 1] if b - 1 in ends else b - 1
        if a < b:
            out.append(script[a:b])
        lo = hi + 1
    return out


def tx_sql_script(
    spark: SparkSession,
    filename: str,
    tables: dict[str, str],
    mode: str = "mor",
    **params,
) -> list:
    """Execute a ``.sql`` FILE of ``;``-separated DML statements
    against tx tables — the write-side twin of the reference's S2
    `execute_sql_script` (`utils.py:342-352`): the same ``{param}``
    templating (via `sources.sql_scripts.render_sql_script`), each
    statement dispatched through :func:`tx_sql` in order. Returns the
    per-statement results (dicts for DML; DataFrames are EXECUTED —
    a script is run for effect, matching the reference's contract —
    and returned lazily for inspection).

    Errors raise at the failing statement with its index; statements
    before it have committed (scripts are not transactions — same as
    shipping the script to a warehouse that auto-commits per
    statement)."""
    from bi_utils_spark.sources.sql_scripts import render_sql_script

    script = render_sql_script(filename, **params)
    results = []
    for i, stmt in enumerate(split_statements(script)):
        try:
            results.append(tx_sql(spark, stmt, tables, mode=mode))
        except Exception as e:
            raise SqlDmlError(
                f"tx_sql_script: statement {i + 1} failed "
                f"({stmt[:80]!r}...): {e}"
            ) from e
    return results
