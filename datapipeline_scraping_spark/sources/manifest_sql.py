"""SQL ``UPDATE`` / ``DELETE`` / ``MERGE INTO`` on the manifest ledger
(VERDICT r10 item 3; grammar hardened per VERDICT r11 item 2), and the
registered-table views those statements act on. :func:`register_table`
mints a temporary view of :meth:`ManifestTable.read` — a native
parquet scan, so a SELECT runs no Python worker — and :func:`sql`
routes the writes, ``INSERT INTO`` included. Direct ``CREATE ...
USING manifest`` relations (q171, q183's final read) stay on the
Python data source, which is read-only.

Spark's parser only accepts UPDATE/DELETE/MERGE for DataSource-V2
tables implementing the row-level-operation interfaces, which the
Python DataSource API does not expose — so the statements are accepted
HERE, by a thin statement router, and executed by the ledger's
existing transactional writers:

- ``UPDATE t SET c = expr[, ...] [WHERE pred]`` →
  :meth:`ManifestTable.update_where` (merge-on-read: hardlinked data
  files + ``_upd/`` post-image sidecar, O(matched rows) not O(table));
- ``DELETE FROM t [WHERE pred]`` → :meth:`ManifestTable.delete_where`
  (deletion-vector sidecar, same cost shape);
- ``MERGE INTO t [[AS] a] USING s [[AS] b] ON <key equalities> WHEN ...``
  → :func:`..operators.txn.merge_commit`, the planner and CAS retry
  loop ``merge_write`` runs (copy-on-write; ``UPDATE SET *`` plus
  ``INSERT *`` is the broadcast anti-join upsert, any other clause set
  :func:`..operators.merge.merge_into`'s full-outer join);
- ``ALTER TABLE t PARTITION BY (c1[, c2 ...])`` →
  :meth:`ManifestTable.evolve_partition` (r12 — metadata-only
  partition evolution; ``()`` evolves to unpartitioned);
- ``ALTER TABLE t RENAME COLUMN a TO b`` / ``ADD COLUMN c <type>`` /
  ``DROP COLUMN c`` → the metadata-only ALTER family
  (:meth:`rename_column` / :meth:`add_column` / :meth:`drop_column`);
- ``OPTIMIZE t [ZORDER BY (c1, c2)]`` → :func:`compact_table`
  (returns Delta-style metrics as a one-row DataFrame);
- ``VACUUM t [RETAIN n HOURS]`` → snapshot GC past the retention
  window (returns removed/kept counts);
- ``DESCRIBE HISTORY t`` → :meth:`ManifestTable.history` as a
  DataFrame (version / snapshot / ts / active partition spec /
  retained), Delta's table-history surface;
- ``DESCRIBE DETAIL t`` → one-row table detail (format, location,
  version, active spec, spec count + full spec HISTORY, bucket
  layout, declared write sort order, file count, bytes), Delta's
  ``DESCRIBE DETAIL`` with the Iceberg metadata the log tracks;
- ``INSERT INTO [TABLE] t [(c1, ...)] VALUES ... | <query>`` →
  :meth:`ManifestTable.append` of the rows Spark's own INSERT analysis
  shapes to the declared schema (ANSI store assignment, column lists,
  arity checks).

Everything else falls through to ``spark.sql`` untouched, so the
router composes with the whole read surface. Table-property contracts
(CHECK constraints, MoR key rules, change feed, optimistic retry) are
enforced by the writers themselves — the SQL path adds no bypass.
Every routed statement re-mints the name's view, which pins the version
it read, so the next SELECT sees the commit. Routing is PER SESSION:
the views the names resolve to are session-scoped TEMP views, so the
routing table is keyed by the SparkSession too — two sessions
registering the same name cannot cross-route each other's statements
(ADVICE r11).

Grammar subset (documented, mirrors what Delta's SQL accepts for the
same operations; unsupported shapes raise ``ValueError`` loudly
rather than mis-execute):

- assignments: ``SET [alias.]col = <sql expr>`` with top-level commas
  separating multiple assignments;
- predicates: any Spark SQL boolean expression over the table's
  columns;
- MERGE ``ON``: AND-ed same-column key equalities
  ``<target-alias>.k = <source-alias>.k [AND ...]`` — composite merge
  keys route as a multi-column pk (the reference's own upsert declares
  a single-column PK, ``src/storage.py:41-53``, but the engine's
  merge supports lists);
- MERGE clauses: ``WHEN MATCHED [AND cond] THEN UPDATE SET *``,
  ``WHEN MATCHED [AND cond] THEN UPDATE SET col = expr[, ...]``,
  ``WHEN MATCHED [AND cond] THEN DELETE``,
  ``WHEN NOT MATCHED [AND cond] THEN INSERT *``. ANY number of WHEN
  MATCHED clauses in declared order (r13 — VERDICT r12 item 4); ANSI
  evaluates the FIRST clause whose condition is TRUE per matched row
  (NULL does not fire), compiled as mutually-exclusive fired flags
  plus one per-column CASE for mixed ``SET`` maps. Delta's rule,
  generalized: every WHEN MATCHED clause except the last must carry a
  condition (later clauses are unreachable otherwise). At most one
  WHEN NOT MATCHED clause; without it, source-only rows do NOT
  insert (ANSI semantics).

Lexing is quote-aware throughout: alias rewriting, keyword splitting,
and the ``USING (subquery)`` extraction all skip string literals —
including backslash-escaped and doubled quotes inside them (Spark's
default ``escapedStringLiterals=false`` makes ``\\'`` a literal
quote) — and balance parentheses (ADVICE r11 lows — the old
sequential ``re.sub`` alias rewrite corrupted swapped aliases and
literals; the non-greedy source regex misparsed nested parens). One documented lexing limit:
clause boundaries split on top-level ``WHEN``/``THEN`` keywords, so a
``CASE WHEN ... THEN ... END`` embedded in a clause condition or SET
expression must be parenthesized — ``(CASE WHEN ... END)`` — to sit
below depth 0.

Reference anchor: the reference's sink IS hand-written SQL DML through
psycopg2 (``INSERT ... ON CONFLICT (pk) DO UPDATE``,
``src/storage.py:41-53``); this module is that statement surface on
the snapshot ledger.

Scale shape: UPDATE/DELETE route merge-on-read (churn-sized sidecars,
zero data-file rewrites — the only affordable DML at 100 TB);
MERGE is one keyed join (a broadcast anti join for the plain upsert,
a full outer join for conditional clauses) + CAS commit with bounded
optimistic retry, exactly Delta's rebase-and-retry.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import operator
import os
import re
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.sqltext import ident, string_lit
from ..operators.txn import ManifestTable, merge_commit
from .manifest_datasource import register as _register_format
from .manifest_log import resolve_version
from .skipping import column_types, conjunct, kept_files

#: per-session registered DML targets: lowercase name -> {"root",
#: "key_cols"}. WeakKey so a collected session's entries die with it.
_SESSIONS: "weakref.WeakKeyDictionary[SparkSession, dict[str, dict]]" = (
    weakref.WeakKeyDictionary()
)

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")

#: the ``USING manifest`` relation :func:`sql` analyzes a registered
#: table's ``INSERT INTO`` against (never executed); dropped after each
#: statement
_INSERT_TARGET = "_manifest_insert_target"


def _tables(spark: SparkSession) -> dict[str, dict]:
    return _SESSIONS.setdefault(spark, {})


def register_table(
    spark: SparkSession,
    name: str,
    root: str,
    *,
    key_cols: list[str] | None = None,
) -> None:
    """Expose the :class:`ManifestTable` at ``root`` to THIS session's
    SQL surface as ``name``: a temporary view of
    :meth:`ManifestTable.read` (a native parquet scan of the head
    version, pinned until the next statement :func:`sql` routes to
    ``name`` refreshes it), plus the session-scoped routing entry.
    ``INSERT INTO``, UPDATE, DELETE, MERGE and the rest of the grammar
    go through :func:`sql`; a plain ``spark.sql`` INSERT into the view
    is refused by Spark. ``key_cols`` is the primary-key declaration
    the merge-on-read writers require (the same contract the
    reference declares with its ``ON CONFLICT (pk)`` clause); omitted,
    it falls back to the live deletion-vector key set when one
    exists."""
    if not _IDENT.fullmatch(name):
        raise ValueError(f"invalid table name {name!r}")
    _tables(spark)[name.lower()] = {
        "root": root,
        "key_cols": list(key_cols or []),
    }
    _refresh_view(spark, name)


def predicate_view(
    spark: SparkSession,
    name: str,
    root: str,
    where: str,
    *,
    version: int | None = None,
    asof: float | None = None,
) -> None:
    """Mint a PRUNED temporary view over the manifest table at
    ``root`` — the SQL surface's one path to planning-time file
    skipping (r14, VERDICT r13 item 4). A bare ``USING manifest`` view
    scans O(table) under any plain ``WHERE`` (Spark 4.1's shared
    read-info slot makes filter-dependent ``partitions()`` unsound, see
    ``manifest_datasource``), so this helper picks the files itself:

        predicate_view(spark, "recent", root,
                       "ts >= TIMESTAMP '2024-06-01 00:00:00'")
        spark.sql("SELECT ... FROM recent")    -- O(window) files

    ``where`` is the :func:`parse_where` grammar (DNF — OR of
    conjunctions of comparisons, IN, BETWEEN, IS [NOT] NULL, LIKE;
    numeric/decimal/string/boolean/date/timestamp literals), coerced
    against the resolved version's committed schema by
    :func:`.skipping.conjunct`, so a typo fails here, not mid-query.
    The files come from :func:`.skipping.kept_files`
    (:func:`predicate_files` lists them without a view). The view is a
    NATIVE parquet scan of exactly those files through
    ``ManifestTable._scan`` plus ``_apply_dv`` (declared schema and
    column order, hive ``basePath``, spec groups, renames, the ``_dv``
    anti-join, the ``_upd`` union — what ``read_where`` runs), filtered
    by the same DNF as a Spark predicate (:func:`_where_column`):
    Catalyst and AQE plan a ``FileSourceScan`` and no Python worker
    runs. A scan's partition count is Spark's split packing, not the
    file count — assert files through ``DataFrame.inputFiles()``.
    Which predicate shape prunes through which skipping tier (and why
    ``!=``/``IS NULL``/float ``>`` are narrower) is tabulated in
    README.md under "Which predicate prunes through which tier".

    The view is read-only (``INSERT INTO`` a DataFrame view raises)
    and pins the resolved version's files and log entry: pass
    ``version``/``asof`` for time travel, and re-run the helper to
    pick up commits made after it."""
    if not _IDENT.fullmatch(name):
        raise ValueError(f"invalid view name {name!r}")
    if any(ch in where for ch in ("\\", "\n", "\r")):
        # Spark SQL reads a backslash in a string literal as an escape
        # ('a\tb' is a tab) while this grammar takes it literally, so
        # the same predicate text would select different rows here
        # and in a spark.sql WHERE — rejected rather than guessed. No
        # grammar literal needs a line break, so those go with it.
        raise ValueError(
            f"where {where!r} contains backslash/newline characters — "
            f"Spark SQL would read its escapes differently from the "
            f"predicate grammar"
        )
    entry, snap, disjuncts, kept, _total = _prune(root, where, version, asof)
    mt = ManifestTable(root)
    df = mt._apply_dv(spark, mt._scan(spark, snap, entry, kept), entry, snap)
    df.filter(
        _where_column(disjuncts, column_types(entry))
    ).createOrReplaceTempView(name)


def predicate_files(
    root: str, where: str, *, version: int | None = None
) -> tuple[list[str], int]:
    """``(kept, total)``: the data files :func:`predicate_view` scans
    for ``where`` (absolute paths, ``_dv``/``_upd`` sidecars aside) and
    the snapshot's data-file count — metadata only, no Spark job."""
    _entry, _snap, _disjuncts, kept, total = _prune(root, where, version, None)
    return kept, total


def _prune(root: str, where: str, version, asof):
    """``(entry, snap, disjuncts, kept, total)`` for ``where`` on the
    resolved version: :func:`parse_where`, :func:`.skipping.conjunct`
    per disjunct, then :func:`.skipping.kept_files`."""
    if version is not None and asof is not None:
        raise ValueError("version and asof are mutually exclusive")
    opts = {"root": root}
    if version is not None:
        opts["version"] = str(int(version))
    if asof is not None:
        opts["asof"] = str(float(asof))
    _root, _ver, entry = resolve_version(opts)
    if not entry.get("schema"):
        raise ValueError(f"{root}: no committed schema")
    disjuncts = [conjunct(conds, entry) for conds in parse_where(where)]
    snap = os.path.join(root, entry["snapshot"])
    kept, total = kept_files(snap, entry, disjuncts)
    return entry, snap, disjuncts, kept, total


#: predicate grammar: DNF — OR of conjunctions of comparisons (r15).
#:   expr    := disjunct (OR disjunct)*
#:   disjunct:= conj | '(' conj ')'
#:   conj    := term (AND term)*
#:   term    := col op literal | col [NOT] IN ( lit, ... )
#:            | col BETWEEN lit AND lit | col IS [NOT] NULL
#:            | col [NOT] LIKE 'pattern'
#:   op      := = | == | != | <> | > | >= | < | <=
#:   literal := number | 'string' ('' escapes a quote) | TRUE | FALSE
#:            | DATE 'yyyy-mm-dd' | TIMESTAMP 'iso-8601'
#:   col     := identifier | `identifier`
#: AND binds tighter than OR (SQL precedence); parentheses may wrap
#: the WHOLE expression or a whole conjunction — arbitrary nesting is
#: outside the grammar and fails loudly like everything else. NOT IN
#: desugars to a conjunction of != terms (same null semantics: a null
#: never satisfies either form); NOT LIKE row-filters exactly but
#: never prunes; NOT BETWEEN is rejected (its expansion is a
#: disjunction — write the two comparisons with OR). LIKE (r15,
#: VERDICT r14 item 3) takes SQL wildcards % (any run) and _ (one
#: char) on STRING columns; backslashes are rejected at parse (an
#: escaped wildcard would mislead the prefix pruning). A pattern's
#: literal PREFIX before the first wildcard prunes files against the
#: string min/max envelopes; %inner% shapes row-filter exactly but
#: cannot prune.
#: Temporal predicates (r14): DATE/TIMESTAMP typed literals, bare
#: ISO-8601 strings, and epoch-second numerics all compare against
#: date/timestamp/timestamp_ntz columns; literals are coerced ONCE at
#: parse (fail-loudly on malformed input). A zone-offset literal on a
#: TIMESTAMP (session-tz) column is interpreted as UTC instant; the
#: engine's convention for zoned tables is a UTC session timezone.
_WHERE_TOKEN = re.compile(
    r"\s*(?:"
    r"(?P<str>'(?:[^']|'')*')"
    r"|(?P<num>-?\d+(?:\.\d+)?)"
    r"|(?P<op><=|>=|==|!=|<>|=|<|>)"
    r"|(?P<punct>[(),])"
    r"|`(?P<qid>[^`]+)`"
    r"|(?P<word>[A-Za-z_][A-Za-z0-9_.]*)"
    r")"
)


def _temporal_literal(word: str, raw: str):
    """A ``DATE '...'`` / ``TIMESTAMP '...'`` typed literal, parsed at
    grammar level (column types are not known yet). Zone-offset
    timestamps normalize to their UTC instant, carried as a naive
    datetime — the same canonical form
    :func:`.skipping._coerce_literal` gives bare ISO strings, so every
    later tier compares one representation."""
    try:
        if word == "DATE":
            return dt.date.fromisoformat(raw)
        val = dt.datetime.fromisoformat(raw)
    except ValueError:
        raise ValueError(
            f"where: malformed {word} literal {raw!r} (ISO-8601 required)"
        ) from None
    if val.tzinfo is not None:
        val = val.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return val


def _lit_kind(v) -> str:
    if isinstance(v, bool):
        return "b"
    if isinstance(v, dt.datetime):
        return "t"
    if isinstance(v, dt.date):
        return "d"
    if isinstance(v, str):
        return "s"
    return "n"


def parse_where(s: str) -> list[list[tuple]]:
    """Parse a :func:`predicate_view` predicate into DISJUNCTS — a list
    of conjunctions, each a list of conditions ``("cmp", col, op,
    value)`` / ``("in", col, values)`` / ``("null", col, not_null)`` /
    ``("like"|"nlike", col, pattern)``; the predicate is the OR of the
    conjunctions (r15 — "this window OR that backfill window" is the
    most common non-conjunctive shape on a real ledger). AND binds
    tighter than OR, the SQL precedence. Raises ``ValueError`` on
    anything outside the documented grammar: a predicate the pruning
    core cannot read exactly must fail loudly, never prune wrongly."""
    toks: list[tuple[str, object]] = []
    pos = 0
    while pos < len(s):
        m = _WHERE_TOKEN.match(s, pos)
        if m is None or m.end() == pos:
            if s[pos:].strip():
                raise ValueError(f"where: cannot tokenize at {s[pos:]!r}")
            break
        pos = m.end()
        if m.group("str") is not None:
            toks.append(("lit", m.group("str")[1:-1].replace("''", "'")))
        elif m.group("num") is not None:
            n = m.group("num")
            toks.append(("lit", float(n) if "." in n else int(n)))
        elif m.group("op") is not None:
            op = m.group("op")
            op = {"==": "=", "<>": "!="}.get(op, op)
            toks.append(("op", op))
        elif m.group("punct") is not None:
            toks.append(("punct", m.group("punct")))
        elif m.group("qid") is not None:
            toks.append(("id", m.group("qid")))
        else:
            w = m.group("word")
            u = w.upper()
            if u in ("AND", "IN", "BETWEEN", "NOT", "OR", "IS", "NULL",
                     "LIKE"):
                toks.append(("kw", u))
            elif u in ("TRUE", "FALSE"):
                toks.append(("lit", u == "TRUE"))
            else:
                toks.append(("id", w))
    out: list[list[tuple]] = []
    i = 0

    def expect(kind, val=None):
        nonlocal i
        if i >= len(toks) or toks[i][0] != kind or (
            val is not None and toks[i][1] != val
        ):
            raise ValueError(f"where: unexpected syntax near token {i} in {s!r}")
        tok = toks[i]
        i += 1
        return tok[1]

    def lit_tok():
        # literal position: a typed DATE/TIMESTAMP literal is an
        # identifier word followed by a string. Contextual — a COLUMN
        # named `date` still parses normally, because a bare id is
        # never valid where a literal is required.
        nonlocal i
        if (
            i + 1 < len(toks)
            and toks[i][0] == "id"
            and toks[i][1].upper() in ("DATE", "TIMESTAMP")
            and toks[i + 1][0] == "lit"
            and isinstance(toks[i + 1][1], str)
        ):
            word = toks[i][1].upper()
            raw = toks[i + 1][1]
            i += 2
            return _temporal_literal(word, raw)
        return expect("lit")

    # parentheses around the WHOLE expression strip off (users write
    # `(A OR B)` as naturally as `A OR B`): the opening paren must
    # match exactly the final token — `(a) OR (b)` does not qualify
    # and parses as parenthesized conjuncts instead
    while (
        len(toks) >= 2
        and toks[0] == ("punct", "(")
        and toks[-1] == ("punct", ")")
    ):
        depth = 0
        matched_last = False
        for j, t in enumerate(toks):
            if t == ("punct", "("):
                depth += 1
            elif t == ("punct", ")"):
                depth -= 1
                if depth == 0:
                    matched_last = j == len(toks) - 1
                    break
        if not matched_last:
            break
        toks = toks[1:-1]

    def at_conj_end() -> bool:
        return (
            i >= len(toks)
            or toks[i] == ("kw", "OR")
            or toks[i] == ("punct", ")")
        )

    def parse_term(conj: list) -> None:
        nonlocal i
        col = expect("id")
        neg = False
        if i < len(toks) and toks[i] == ("kw", "NOT"):
            # col NOT IN (...) / col NOT LIKE '...' (r15). NOT BETWEEN
            # stays out: its expansion is a DISJUNCTION (col < lo OR
            # col > hi), which cannot live inside one conjunct — the
            # error below names the rewrite.
            neg = True
            i += 1
            kind, val = toks[i] if i < len(toks) else ("", "")
            if not (kind == "kw" and val in ("IN", "LIKE")):
                raise ValueError(
                    f"where: NOT after {col!r} supports NOT IN and "
                    f"NOT LIKE only (NOT BETWEEN lo AND hi = "
                    f"`{col} < lo OR {col} > hi`)"
                )
        kind, val = toks[i] if i < len(toks) else ("", "")
        if kind == "op":
            i += 1
            conj.append(("cmp", col, val, lit_tok()))
        elif kind == "kw" and val == "IN":
            i += 1
            expect("punct", "(")
            vals = [lit_tok()]
            while i < len(toks) and toks[i] == ("punct", ","):
                i += 1
                vals.append(lit_tok())
            expect("punct", ")")
            # one literal kind per IN list: a mixed list has no one
            # column type to coerce to — fail at parse
            if len({_lit_kind(v) for v in vals}) > 1:
                raise ValueError(
                    f"where: IN list for {col!r} mixes literal types"
                )
            if neg:
                # NOT IN desugars to a conjunction of != terms — the
                # null semantics agree (null NOT IN (...) is null,
                # null != x is null: excluded either way), and the
                # exclusion tier's single-value file pruning applies
                # per excluded value
                conj.extend(("cmp", col, "!=", v) for v in vals)
            else:
                conj.append(("in", col, tuple(vals)))
        elif kind == "kw" and val == "IS":
            i += 1
            neg = False
            if i < len(toks) and toks[i] == ("kw", "NOT"):
                neg = True
                i += 1
            expect("kw", "NULL")
            conj.append(("null", col, neg))  # neg=True => IS NOT NULL
        elif kind == "kw" and val == "BETWEEN":
            i += 1
            lo = lit_tok()
            expect("kw", "AND")
            conj.append(("cmp", col, ">=", lo))
            conj.append(("cmp", col, "<=", lit_tok()))
        elif kind == "kw" and val == "LIKE":
            i += 1
            pat = expect("lit")
            if not isinstance(pat, str):
                raise ValueError(
                    f"where: LIKE pattern for {col!r} must be a string "
                    f"literal (got {pat!r})"
                )
            if "\\" in pat:
                # Spark's LIKE reads \ as its escape char, while the
                # prefix pruning cuts the pattern at the first raw % or
                # _ — an escaped wildcard would prune files holding
                # matches, so fail closed
                raise ValueError(
                    f"where: LIKE pattern {pat!r} contains a backslash "
                    f"— escape sequences are not part of the grammar"
                )
            conj.append(("nlike" if neg else "like", col, pat))
        else:
            raise ValueError(f"where: expected comparison after {col!r}")

    def parse_conj() -> list[tuple]:
        conj: list[tuple] = []
        while True:
            parse_term(conj)
            if at_conj_end():
                return conj
            expect("kw", "AND")
            if at_conj_end():
                # a dangling trailing AND is outside the grammar —
                # fail loudly, don't silently accept (ADVICE r13)
                raise ValueError(f"where: dangling AND in {s!r}")

    while True:
        if i < len(toks) and toks[i] == ("punct", "("):
            i += 1
            conj = parse_conj()
            expect("punct", ")")
        else:
            conj = parse_conj()
        out.append(conj)
        if i >= len(toks):
            break
        expect("kw", "OR")
        if i >= len(toks):
            raise ValueError(f"where: dangling OR at end of {s!r}")
    if not out or not all(out):
        raise ValueError("where: empty predicate")
    return out


#: microseconds since the epoch of a naive UTC datetime
_EPOCH = dt.datetime(1970, 1, 1)
_MICRO = dt.timedelta(microseconds=1)
_CMP = {
    "=": operator.eq,
    "!=": operator.ne,
    ">": operator.gt,
    ">=": operator.ge,
    "<": operator.lt,
    "<=": operator.le,
}


def _lit_column(v, styp: str):
    """One coerced predicate literal as a Spark literal whose meaning
    does not depend on the session time zone. The grammar's canonical
    datetime is naive: the UTC instant for a zoned ``timestamp``
    column, the wall clock for ``timestamp_ntz``. A bare
    ``F.lit(datetime)`` would read it in the Python process's zone and
    shift it by the session zone on an NTZ cast. Dates and decimals
    render as exact typed literals."""
    if isinstance(v, dt.datetime):
        if styp == "timestamp_ntz":
            return F.expr(f"TIMESTAMP_NTZ '{v.isoformat(sep=' ')}'")
        return F.timestamp_micros(F.lit((v - _EPOCH) // _MICRO))
    if isinstance(v, dt.date):
        return F.expr(f"DATE '{v.isoformat()}'")
    if isinstance(v, decimal.Decimal):
        # positional digits: an exponent form (1E+20) would make a
        # negative-scale decimal
        return F.lit(decimal.Decimal(format(v, "f")))
    return F.lit(v)


def _where_column(disjuncts, types: dict):
    """The DNF of :func:`.skipping.conjunct` results as one Spark
    predicate over LOGICAL columns, with Spark's own semantics: Kleene
    AND/OR, NaN above every number, IN, and LIKE with ``%``/``_``
    matching a newline (backslashes were rejected at parse)."""
    out = None
    for conj in disjuncts:
        term = None
        for cond in conj.conds:
            col = F.col(ident(cond[1]))
            styp = types.get(cond[1], "")
            if cond[0] == "cmp":
                m = _CMP[cond[2]](col, _lit_column(cond[3], styp))
            elif cond[0] == "in":
                m = col.isin(*[_lit_column(v, styp) for v in cond[2]])
            elif cond[0] == "null":
                m = col.isNotNull() if cond[2] else col.isNull()
            elif cond[0] == "like":
                m = col.like(cond[2])
            else:  # nlike
                m = ~col.like(cond[2])
            term = m if term is None else term & m
        out = term if out is None else out | term
    return out


def _refresh_view(spark: SparkSession, name: str) -> None:
    """(Re-)mint the registered view ``name`` as a native scan of the
    table's head version. A view pins the version it was minted at, so
    :func:`register_table` mints it and every statement :func:`sql`
    commits to ``name`` re-mints it for the next SELECT; a commit made
    outside :func:`sql` stays invisible until then."""
    root = _tables(spark)[name.lower()]["root"]
    ManifestTable(root).read(spark).createOrReplaceTempView(name)


# ---------------------------------------------------------------------------
# quote-aware lexing helpers
# ---------------------------------------------------------------------------


def _literal_end(s: str, i: int) -> int:
    """Index just past the string literal opening at ``s[i]``, honouring
    backslash escapes (Spark's default ``escapedStringLiterals=false``
    makes ``\\'`` a literal quote inside the string) and doubled-quote
    escaping. Unterminated literals run to end-of-string."""
    q = s[i]
    j = i + 1
    n = len(s)
    while j < n:
        ch = s[j]
        if ch == "\\" and j + 1 < n:
            j += 2
            continue
        if ch == q:
            if j + 1 < n and s[j + 1] == q:  # doubled-quote escape
                j += 2
                continue
            return j + 1
        j += 1
    return n


def _keyword_spans(s: str, word: str) -> list[tuple[int, int]]:
    """(start, end) offsets of every TOP-LEVEL occurrence of keyword
    ``word``: paren depth 0, outside string literals, identifier-
    bounded, case-insensitive."""
    spans: list[tuple[int, int]] = []
    up, word_up, w = s.upper(), word.upper(), len(word)
    depth, i, n = 0, 0, len(s)
    while i < n:
        ch = s[i]
        if ch in ("'", '"'):
            i = _literal_end(s, i)
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif (
            depth == 0
            and up.startswith(word_up, i)
            and (i == 0 or not (s[i - 1].isalnum() or s[i - 1] == "_"))
            and (
                i + w == n or not (s[i + w].isalnum() or s[i + w] == "_")
            )
        ):
            spans.append((i, i + w))
            i += w
            continue
        i += 1
    return spans


def _split_keyword(s: str, word: str) -> list[str]:
    """Split ``s`` on top-level occurrences of keyword ``word``."""
    parts, last = [], 0
    for a, b in _keyword_spans(s, word):
        parts.append(s[last:a])
        last = b
    parts.append(s[last:])
    return [p.strip() for p in parts if p.strip()]


def _split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` at paren/quote depth zero."""
    out, buf, depth = [], [], 0
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch in ("'", '"'):
            j = _literal_end(s, i)
            buf.append(s[i:j])
            i = j
            continue
        if ch == "(":
            depth += 1
            buf.append(ch)
        elif ch == ")":
            depth -= 1
            buf.append(ch)
        elif ch == sep and depth == 0:
            out.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
        i += 1
    if buf:
        out.append("".join(buf))
    return [p.strip() for p in out if p.strip()]


def _rewrite_aliases(text: str, mapping: dict[str, str]) -> str:
    """Rewrite ``alias.`` qualifiers to their canonical names in ONE
    pass, skipping string literals — so swapped aliases (user's ``s``
    meaning the target) rewrite correctly instead of being clobbered
    by a second substitution, and an alias-looking token inside a
    literal is left alone (ADVICE r11)."""
    out: list[str] = []
    prev = ""
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if ch in ("'", '"'):
            j = _literal_end(text, i)
            out.append(text[i:j])
            prev = ch
            i = j
            continue
        m = _IDENT.match(text, i)
        if m:
            word = m.group(0)
            end = m.end()
            if (
                prev != "."
                and text[end : end + 1] == "."
                and word.lower() in mapping
            ):
                out.append(mapping[word.lower()])
            else:
                out.append(word)
            prev = word[-1]
            i = end
            continue
        out.append(ch)
        prev = ch
        i += 1
    return "".join(out)


def _strip_outer_parens(s: str) -> str:
    """Strip one level of wrapping parens if they enclose the whole
    expression (quote-aware)."""
    s = s.strip()
    while s.startswith("(") and s.endswith(")"):
        depth = 0
        closes_at_end = False
        k, n_ = 0, len(s)
        while k < n_:
            ch = s[k]
            if ch in ("'", '"'):
                k = _literal_end(s, k)
                continue
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    closes_at_end = k == n_ - 1
                    break
            k += 1
        if not closes_at_end:
            return s
        s = s[1:-1].strip()
    return s


# ---------------------------------------------------------------------------
# statement grammar
# ---------------------------------------------------------------------------


#: INSERT INTO t ... — the rest (column list, VALUES or a query) is
#: analyzed by Spark against :data:`_INSERT_TARGET`; see
#: :func:`_insert_rows`
_INSERT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(?:TABLE\s+)?(?P<tbl>[A-Za-z_][A-Za-z0-9_]*)\b"
    r"(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+(?P<tbl>[A-Za-z_][A-Za-z0-9_]*)\s+SET\s+(?P<body>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(?P<tbl>[A-Za-z_][A-Za-z0-9_]*)"
    r"(?:\s+WHERE\s+(?P<pred>.*))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
#: a MERGE alias, ``AS`` optional; the keywords around it are no alias
_MERGE_ALIAS = (
    r"(?:AS\s+)?(?!(?:AS|USING|ON|WHEN)\b)(?P<{}>[A-Za-z_][A-Za-z0-9_]*)"
)
_MERGE_HEAD = re.compile(
    r"^\s*MERGE\s+INTO\s+(?P<tbl>[A-Za-z_][A-Za-z0-9_]*)"
    rf"(?:\s+{_MERGE_ALIAS.format('talias')})?"
    r"\s+USING\s+",
    re.IGNORECASE | re.DOTALL,
)
#: ALTER TABLE t PARTITION BY (c1[, c2 ...]) | ()  — partition
#: evolution (Iceberg's ``ALTER TABLE ... ADD PARTITION FIELD``
#: family, collapsed to one declarative REPLACE of the active spec)
_ALTER_PART_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<tbl>[A-Za-z_][A-Za-z0-9_]*)"
    r"\s+PARTITION\s+BY\s*\(\s*(?P<cols>[A-Za-z0-9_,\s]*)\)\s*$",
    re.IGNORECASE,
)
#: ALTER TABLE t ADD COLUMN c <type> — metadata-only ADD
_ALTER_ADD_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<tbl>[A-Za-z_][A-Za-z0-9_]*)"
    r"\s+ADD\s+COLUMN\s+(?P<col>[A-Za-z_][A-Za-z0-9_]*)"
    r"\s+(?P<dtype>[A-Za-z_][A-Za-z0-9_<>,()\s]*?)\s*$",
    re.IGNORECASE,
)
#: ALTER TABLE t RENAME COLUMN a TO b — metadata-only rename
_ALTER_RENAME_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<tbl>[A-Za-z_][A-Za-z0-9_]*)"
    r"\s+RENAME\s+COLUMN\s+(?P<old>[A-Za-z_][A-Za-z0-9_]*)"
    r"\s+TO\s+(?P<new>[A-Za-z_][A-Za-z0-9_]*)\s*$",
    re.IGNORECASE,
)
#: ALTER TABLE t DROP COLUMN c — metadata-only drop
_ALTER_DROP_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<tbl>[A-Za-z_][A-Za-z0-9_]*)"
    r"\s+DROP\s+COLUMN\s+(?P<col>[A-Za-z_][A-Za-z0-9_]*)\s*$",
    re.IGNORECASE,
)
#: OPTIMIZE t [ZORDER BY (c1[, c2 ...])] — Delta's maintenance verb
_OPTIMIZE_RE = re.compile(
    r"^\s*OPTIMIZE\s+(?P<tbl>[A-Za-z_][A-Za-z0-9_]*)"
    r"(?:\s+ZORDER\s+BY\s*\(\s*(?P<cols>[A-Za-z0-9_,\s]+)\))?\s*$",
    re.IGNORECASE,
)
#: VACUUM t [RETAIN n HOURS] — expire aged snapshots past retention
_VACUUM_RE = re.compile(
    r"^\s*VACUUM\s+(?P<tbl>[A-Za-z_][A-Za-z0-9_]*)"
    r"(?:\s+RETAIN\s+(?P<hours>\d+(?:\.\d+)?)\s+HOURS?)?\s*$",
    re.IGNORECASE,
)
#: DESCRIBE HISTORY t — Delta's table-history surface
_HISTORY_RE = re.compile(
    r"^\s*DESCRIBE\s+HISTORY\s+(?P<tbl>[A-Za-z_][A-Za-z0-9_]*)\s*$",
    re.IGNORECASE,
)
#: DESCRIBE DETAIL t — Delta's one-row table-detail surface
_DETAIL_RE = re.compile(
    r"^\s*DESCRIBE\s+DETAIL\s+(?P<tbl>[A-Za-z_][A-Za-z0-9_]*)\s*$",
    re.IGNORECASE,
)


def _split_update_body(body: str) -> tuple[str, str | None]:
    """Split ``SET`` assignments from a trailing top-level WHERE."""
    spans = _keyword_spans(body, "WHERE")
    if not spans:
        return body.strip(), None
    a, b = spans[0]
    return body[:a].strip(), body[b:].strip()


def _parse_assignments(
    assigns_s: str, alias: str | None
) -> dict[str, str]:
    """``col = expr[, ...]`` (optionally ``alias.col``) -> {col: expr
    text}. Raises on malformed shapes."""
    updates: dict[str, str] = {}
    for a in _split_top_level(assigns_s):
        col, eq, expr = a.partition("=")
        col = col.strip()
        if alias:
            prefix = f"{alias.lower()}."
            if col.lower().startswith(prefix):
                col = col[len(prefix) :].strip()
        if not eq or not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", col):
            raise ValueError(f"unsupported SET assignment: {a!r}")
        if col in updates:
            raise ValueError(f"duplicate SET assignment for {col!r}")
        updates[col] = expr.strip()
    if not updates:
        raise ValueError(f"empty SET clause: {assigns_s!r}")
    return updates


def _parse_merge(statement: str) -> dict | None:
    """Parse a MERGE statement head; None if not a MERGE shape. The
    USING source is extracted with balanced, quote-aware parens (a
    subquery with nested parentheses parses exactly)."""
    m = _MERGE_HEAD.match(statement)
    if m is None:
        return None
    rest = statement[m.end() :]
    if rest.startswith("("):
        depth = 0
        end = -1
        k, n_ = 0, len(rest)
        while k < n_:
            ch = rest[k]
            if ch in ("'", '"'):
                k = _literal_end(rest, k)
                continue
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    end = k
                    break
            k += 1
        if end == -1:
            raise ValueError("MERGE USING (...): unbalanced parentheses")
        src, rest = rest[: end + 1], rest[end + 1 :]
    else:
        mi = _IDENT.match(rest)
        if mi is None:
            raise ValueError(
                f"MERGE USING: expected a table name or (subquery), "
                f"got {rest[:40]!r}"
            )
        src, rest = mi.group(0), rest[mi.end() :]
    mt = re.match(
        rf"\s*(?:{_MERGE_ALIAS.format('salias')}\s+)?ON\s",
        rest,
        re.IGNORECASE | re.DOTALL,
    )
    if mt is None:
        raise ValueError("MERGE: expected [[AS] <alias>] ON <condition>")
    rest = rest[mt.end() :]
    whens = _keyword_spans(rest, "WHEN")
    if not whens:
        raise ValueError("MERGE: expected WHEN clauses after ON")
    on = rest[: whens[0][0]].strip()
    bounds = [a for a, _ in whens] + [len(rest)]
    clauses = [
        rest[whens[k][1] : bounds[k + 1]].strip() for k in range(len(whens))
    ]
    return {
        "tbl": m.group("tbl"),
        "talias": m.group("talias"),
        "src": src,
        "salias": mt.group("salias"),
        "on": on,
        "clauses": clauses,
    }


def _parse_on(on: str, talias: str, salias: str) -> list[str]:
    """ON must be AND-ed same-column key equalities across the two
    aliases (either order per equality); returns the key columns."""
    pks: list[str] = []
    for part in _split_keyword(_strip_outer_parens(on), "AND"):
        eq = re.fullmatch(
            r"(?P<l>[A-Za-z_][A-Za-z0-9_]*)\.(?P<lc>[A-Za-z_][A-Za-z0-9_]*)"
            r"\s*=\s*"
            r"(?P<r>[A-Za-z_][A-Za-z0-9_]*)\.(?P<rc>[A-Za-z_][A-Za-z0-9_]*)",
            _strip_outer_parens(part),
        )
        if not eq:
            raise ValueError(
                f"MERGE ON must be AND-ed key equalities "
                f"<target>.k = <source>.k (got {part!r})"
            )
        sides = {
            eq.group("l").lower(): eq.group("lc"),
            eq.group("r").lower(): eq.group("rc"),
        }
        if set(sides) != {talias, salias} or sides[talias] != sides[salias]:
            raise ValueError(
                f"MERGE ON must equate the SAME column across target "
                f"and source aliases (got {part!r})"
            )
        if sides[talias] not in pks:
            pks.append(sides[talias])
    if not pks:
        raise ValueError(f"MERGE ON names no key equality (got {on!r})")
    return pks


def _parse_when(clause: str) -> dict:
    """One WHEN clause body (text after the WHEN keyword) ->
    {"not": bool, "cond": str|None, "action": str}."""
    m = re.match(r"(?:(?P<not>NOT)\s+)?MATCHED\b", clause, re.IGNORECASE)
    if not m:
        raise ValueError(f"unsupported MERGE clause: WHEN {clause!r}")
    rest = clause[m.end() :]
    thens = _keyword_spans(rest, "THEN")
    if not thens:
        raise ValueError(f"MERGE clause missing THEN: WHEN {clause!r}")
    a, b = thens[0]
    cond_s, action = rest[:a].strip(), rest[b:].strip()
    cond = None
    if cond_s:
        ma = re.match(r"AND\b", cond_s, re.IGNORECASE)
        if not ma or not cond_s[ma.end() :].strip():
            raise ValueError(
                f"unsupported MERGE clause condition: {cond_s!r}"
            )
        cond = cond_s[ma.end() :].strip()
    return {"not": bool(m.group("not")), "cond": cond, "action": action}


# ---------------------------------------------------------------------------
# routing
# ---------------------------------------------------------------------------


def _resolve(spark: SparkSession, name: str) -> dict | None:
    return _tables(spark).get(name.lower())


def _insert_rows(spark: SparkSession, root: str, rest: str) -> DataFrame:
    """The rows ``INSERT INTO <table at root>{rest}`` would write, as a
    DataFrame in the table's declared schema. Spark parses and
    analyzes the statement against a ``USING manifest`` relation over
    ``root`` but never executes it, so the rows are shaped by Spark's
    own INSERT rules: ANSI store assignment (a string never casts into
    a number or a date; an overflow raises), by-position or
    column-list targets with omitted nullable columns NULL, and the
    arity checks. The relation supports no overwrite, so Spark refuses
    ``REPLACE WHERE`` and a static partition, and the analyzed plan is
    an append whose query holds the rows."""
    _register_format(spark)
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW {_INSERT_TARGET} "
        f"USING manifest OPTIONS (root {string_lit(root)})"
    )
    try:
        jss = spark._jsparkSession
        state = jss.sessionState()
        plan = state.sqlParser().parsePlan(
            f"INSERT INTO {_INSERT_TARGET}{rest}"
        )
        mode = getattr(state, "executePlan$default$2")()
        append = state.executePlan(plan, mode).analyzed()
    finally:
        spark.catalog.dropTempView(_INSERT_TARGET)
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        jss, append.query()
    )
    return DataFrame(jdf, spark)


def _key_cols(tbl: ManifestTable, declared: list[str], stmt: str) -> list[str]:
    if declared:
        return declared
    entry = tbl._log_entry(tbl.version() or 0) or {}
    dv_keys = list((entry.get("dv") or {}).get("key_cols") or [])
    if dv_keys:
        return dv_keys
    raise ValueError(
        f"{stmt}: no key columns — register_table(..., key_cols=[...]) "
        f"must declare the primary key for merge-on-read DML"
    )


def sql(spark: SparkSession, statement: str, *, retries: int = 3):
    """Execute ``statement``. INSERT INTO / UPDATE / DELETE / MERGE
    INTO against a :func:`register_table`-ed manifest table route to
    the ledger's transactional writers and return the committed
    version (int); an INSERT is :meth:`ManifestTable.append` of the
    rows :func:`_insert_rows` shapes, so CHECK constraints, the
    merge-on-read key guard, partitioning, stats, blooms and the
    change feed are ``append``'s own. Every routed statement re-mints
    the table's view. Anything else falls through to ``spark.sql``
    and returns its DataFrame."""
    m = _INSERT_RE.match(statement)
    if m and _resolve(spark, m.group("tbl")):
        root = _resolve(spark, m.group("tbl"))["root"]
        ver = ManifestTable(root).append(
            _insert_rows(spark, root, m.group("rest"))
        )
        _refresh_view(spark, m.group("tbl"))
        return ver
    m = _UPDATE_RE.match(statement)
    if m and _resolve(spark, m.group("tbl")):
        spec = _resolve(spark, m.group("tbl"))
        tbl = ManifestTable(spec["root"])
        assigns_s, pred = _split_update_body(m.group("body"))
        updates = {
            c: F.expr(e)
            for c, e in _parse_assignments(assigns_s, None).items()
        }
        ver = tbl.update_where(
            spark,
            F.expr(pred) if pred else F.lit(True),
            updates,
            key_cols=_key_cols(tbl, spec["key_cols"], "UPDATE"),
            retries=retries,
        )
        _refresh_view(spark, m.group("tbl"))
        return ver
    m = _DELETE_RE.match(statement)
    if m and _resolve(spark, m.group("tbl")):
        spec = _resolve(spark, m.group("tbl"))
        tbl = ManifestTable(spec["root"])
        pred = m.group("pred")
        ver = tbl.delete_where(
            spark,
            F.expr(pred) if pred else F.lit(True),
            key_cols=_key_cols(tbl, spec["key_cols"], "DELETE"),
            retries=retries,
        )
        _refresh_view(spark, m.group("tbl"))
        return ver
    mh = _MERGE_HEAD.match(statement)
    if mh and _resolve(spark, mh.group("tbl")):
        return _run_merge(spark, _parse_merge(statement), retries)
    m = _ALTER_PART_RE.match(statement)
    if m and _resolve(spark, m.group("tbl")):
        spec = _resolve(spark, m.group("tbl"))
        cols = [c.strip() for c in m.group("cols").split(",") if c.strip()]
        ver = ManifestTable(spec["root"]).evolve_partition(cols)
        _refresh_view(spark, m.group("tbl"))
        return ver
    m = _ALTER_RENAME_RE.match(statement)
    if m and _resolve(spark, m.group("tbl")):
        spec = _resolve(spark, m.group("tbl"))
        ver = ManifestTable(spec["root"]).rename_column(
            m.group("old"), m.group("new")
        )
        _refresh_view(spark, m.group("tbl"))
        return ver
    m = _ALTER_DROP_RE.match(statement)
    if m and _resolve(spark, m.group("tbl")):
        spec = _resolve(spark, m.group("tbl"))
        ver = ManifestTable(spec["root"]).drop_column(m.group("col"))
        _refresh_view(spark, m.group("tbl"))
        return ver
    m = _ALTER_ADD_RE.match(statement)
    if m and _resolve(spark, m.group("tbl")):
        spec = _resolve(spark, m.group("tbl"))
        ver = ManifestTable(spec["root"]).add_column(
            m.group("col"), m.group("dtype").strip()
        )
        _refresh_view(spark, m.group("tbl"))
        return ver
    m = _OPTIMIZE_RE.match(statement)
    if m and _resolve(spark, m.group("tbl")):
        from ..operators.txn import compact_table

        spec = _resolve(spark, m.group("tbl"))
        z = m.group("cols")
        res = compact_table(
            spark,
            spec["root"],
            zorder_by=(
                [c.strip() for c in z.split(",") if c.strip()] if z else None
            ),
        )
        _refresh_view(spark, m.group("tbl"))
        return spark.createDataFrame(
            [
                (
                    bool(res["compacted"]),
                    int(res["version"]),
                    int(res["files_before"]),
                    int(res["files_after"]),
                    int(res["bytes"]),
                )
            ],
            "compacted boolean, version long, files_before long, "
            "files_after long, bytes long",
        )
    m = _VACUUM_RE.match(statement)
    if m and _resolve(spark, m.group("tbl")):
        spec = _resolve(spark, m.group("tbl"))
        tbl = ManifestTable(spec["root"])
        if m.group("hours") is not None:
            tbl.retention_sec = float(m.group("hours")) * 3600.0
        before = {
            e for e in os.listdir(tbl.root) if e.startswith("snap-")
        }
        tbl._gc(keep=2)
        after = {
            e for e in os.listdir(tbl.root) if e.startswith("snap-")
        }
        return spark.createDataFrame(
            [(len(before - after), len(after))],
            "snapshots_removed long, snapshots_kept long",
        )
    m = _HISTORY_RE.match(statement)
    if m and _resolve(spark, m.group("tbl")):
        spec = _resolve(spark, m.group("tbl"))
        hist = ManifestTable(spec["root"]).history()
        return spark.createDataFrame(
            [
                (
                    int(e["version"]),
                    str(e["snapshot"]),
                    float(e.get("ts") or 0.0),
                    json.dumps(list(e.get("partition_by") or [])),
                    bool(e.get("retained", True)),
                )
                for e in hist
            ],
            "version long, snapshot string, ts double, "
            "partition_by string, retained boolean",
        )
    m = _DETAIL_RE.match(statement)
    if m and _resolve(spark, m.group("tbl")):
        spec = _resolve(spark, m.group("tbl"))
        tbl = ManifestTable(spec["root"])
        # resolve the pointer ONCE so version/entry/file-walk all
        # describe the same snapshot even under a racing writer
        ptr = tbl._pointer()
        ver = ptr[1] if ptr else 0
        entry = tbl._log_entry(ver) or {}
        snap = (
            os.path.join(tbl.root, ptr[0]) if ptr else None
        )
        n_files = size = 0
        if snap and os.path.isdir(snap):
            for r_, dirs, fs in os.walk(snap):
                # the _upd merge-on-read delta holds LIVE rows — it is
                # data; _dv/_cdf/_bloom are index/feed metadata and
                # stay excluded (hidden dirs pruned at every level)
                dirs[:] = [
                    d
                    for d in dirs
                    if not d.startswith(("_", "."))
                    or (r_ == snap and d == ManifestTable.UPD_DIR)
                ]
                for f_ in fs:
                    if f_.endswith(".parquet"):
                        n_files += 1
                        try:
                            size += os.path.getsize(os.path.join(r_, f_))
                        except OSError:
                            pass
        return spark.createDataFrame(
            [
                (
                    "manifest",
                    spec["root"],
                    int(ver),
                    json.dumps(list(entry.get("partition_by") or [])),
                    len(entry.get("specs") or []) or 1,
                    # full spec HISTORY (r13 — VERDICT r12 item 8):
                    # what the commit log knows, the SQL surface
                    # reports; None = never evolved (single implicit
                    # spec, partition_by is the whole story)
                    json.dumps(entry.get("specs"))
                    if entry.get("specs")
                    else None,
                    json.dumps(entry.get("bucket"))
                    if entry.get("bucket")
                    else None,
                    # declared write sort order (set_sort_order /
                    # Iceberg write.sort-order), None = undeclared
                    json.dumps(
                        (entry.get("meta") or {}).get("sort_order")
                    )
                    if (entry.get("meta") or {}).get("sort_order")
                    else None,
                    int(n_files),
                    int(size),
                )
            ],
            "format string, location string, version long, "
            "partition_by string, num_specs long, specs string, "
            "bucket string, sort_order string, "
            "num_files long, size_bytes long",
        )
    return spark.sql(statement)


def _run_merge(spark: SparkSession, p: dict, retries: int) -> int:
    spec = _resolve(spark, p["tbl"])
    talias = (p["talias"] or p["tbl"]).lower()
    src_s = p["src"]
    if src_s.startswith("("):
        if not p["salias"]:
            raise ValueError(
                "MERGE USING (subquery) requires AS <alias>"
            )
        source = spark.sql(src_s[1:-1])
    else:
        source = spark.table(src_s)
    salias = (p["salias"] or src_s).lower()
    if talias == salias:
        raise ValueError(
            f"MERGE target and source aliases must differ (both "
            f"{talias!r})"
        )
    pk = _parse_on(p["on"], talias, salias)
    mapping = {talias: "t", salias: "s"}

    def _cond(text: str | None):
        return None if text is None else F.expr(
            _rewrite_aliases(text, mapping)
        )

    # ---- ordered WHEN MATCHED clauses (r13: N clauses, ANSI
    # first-match routing — VERDICT r12 item 4 lifts the old
    # one-clause-per-action restriction)
    matched: list[dict] = []  # {"kind": "U"|"D", "cond", "set"}
    ins: dict | None = None  # {"cond"}
    for c in p["clauses"]:
        w = _parse_when(c)
        action_u = re.sub(r"\s+", " ", w["action"].upper())
        if w["not"]:
            if not action_u.startswith("INSERT") or action_u != "INSERT *":
                raise ValueError(
                    "WHEN NOT MATCHED supports only 'THEN INSERT *'"
                )
            if ins is not None:
                raise ValueError(
                    "at most one WHEN NOT MATCHED clause is supported"
                )
            ins = {"cond": w["cond"]}
        elif action_u == "DELETE":
            matched.append({"kind": "D", "cond": w["cond"], "set": None})
        elif action_u.startswith("UPDATE"):
            mu = re.match(r"UPDATE\s+SET\s+", w["action"], re.IGNORECASE)
            if not mu:
                raise ValueError(
                    f"unsupported MERGE action {w['action']!r}"
                )
            body = w["action"][mu.end() :].strip()
            matched.append(
                {
                    "kind": "U",
                    "cond": w["cond"],
                    "set": (
                        None  # None = SET * (full source row)
                        if body == "*"
                        else _parse_assignments(body, talias)
                    ),
                }
            )
        else:
            raise ValueError(f"unsupported MERGE action {w['action']!r}")
    if not matched and ins is None:
        raise ValueError("MERGE needs at least one WHEN clause")
    # Delta's clause-order rule, generalized: every WHEN MATCHED
    # clause except the LAST must carry a condition (an unconditional
    # earlier clause makes everything after it unreachable)
    for m in matched[:-1]:
        if m["cond"] is None:
            raise ValueError(
                "every WHEN MATCHED clause except the last must have "
                "a condition (later clauses are unreachable otherwise)"
            )

    # first-match semantics: clause i fires iff its condition is TRUE
    # (NULL does not fire) and no earlier clause fired. merge_into's
    # native delete-before-update routing is subsumed — the fired
    # flags are mutually exclusive by construction, so feeding their
    # ORs into matched_delete/matched_update reproduces the declared
    # order exactly (exhaustively model-checked against a pure-Python
    # ANSI reference in tests/test_manifest_sql.py).
    fired: list = []
    prior = F.lit(False)
    for m in matched:
        cnd = _cond(m["cond"])
        ci = (
            F.lit(True)
            if cnd is None
            else F.coalesce(cnd, F.lit(False))
        )
        fired.append(ci & ~prior)
        prior = prior | ci

    def _any(flags):
        out = None
        for f in flags:
            out = f if out is None else (out | f)
        return out

    del_fired = [f for m, f in zip(matched, fired) if m["kind"] == "D"]
    upd_clauses = [
        (m, f) for m, f in zip(matched, fired) if m["kind"] == "U"
    ]
    matched_delete = _any(del_fired)
    # no UPDATE clause: matches are kept unless deleted — a
    # never-true update condition expresses "keep" (merge_into's
    # None would mean "update every match")
    matched_update = (
        _any([f for _m, f in upd_clauses])
        if upd_clauses
        else F.lit(False)
    )
    # per-column assignments: one CASE over the fired flags, falling
    # through to the target value. All-SET-* collapses to None (the
    # full-source-row fast path merge_into already implements).
    # Compiled PER COMMIT ATTEMPT from that attempt's base entry: a
    # SET * expansion reads the target column list, and a concurrent
    # ALTER ADD COLUMN landing between retries must widen the
    # assignment list, not silently null-fill the new column.
    def _compile_matched_set(entry_now: dict):
        if not upd_clauses or all(
            m["set"] is None for m, _f in upd_clauses
        ):
            return None
        import json as _json

        from pyspark.sql import types as _T

        tcols = [
            f.name
            for f in _T.StructType.fromJson(
                _json.loads(entry_now["schema"])
            ).fields
        ]
        assigned: list[str] = []
        for m, _f in upd_clauses:
            cols = (
                [c for c in tcols if c not in pk]  # SET * = all non-key
                if m["set"] is None
                else list(m["set"])
            )
            for c in cols:
                if c not in assigned:
                    assigned.append(c)
        out_set = {}
        for c in assigned:
            expr = F.col(f"t.{c}")
            for m, f in reversed(upd_clauses):
                if m["set"] is None:
                    expr = F.when(f, F.col(f"s.{c}")).otherwise(expr)
                elif c in m["set"]:
                    expr = F.when(
                        f, F.expr(_rewrite_aliases(m["set"][c], mapping))
                    ).otherwise(expr)
            out_set[c] = expr
        return out_set
    # ANSI: no INSERT clause -> source-only rows do nothing
    not_matched_insert = (
        (F.lit(True) if ins["cond"] is None else _cond(ins["cond"]))
        if ins is not None
        else F.lit(False)
    )
    # UPDATE SET * + INSERT *, both unconditional: the plain upsert
    upsert = ins == {"cond": None} and matched == [
        {"kind": "U", "cond": None, "set": None}
    ]

    def clauses(entry_now: dict) -> dict | None:
        if upsert:
            return None
        return {
            "matched_delete": matched_delete,
            "matched_update": matched_update,
            "matched_set": _compile_matched_set(entry_now),
            "not_matched_insert": not_matched_insert,
        }

    ver = merge_commit(
        spark,
        ManifestTable(spec["root"]),
        source,
        pk,
        clauses=clauses,
        unique_matches=f"MERGE INTO {p['tbl']}",
        retries=retries,
    )
    _refresh_view(spark, p["tbl"])
    return ver
