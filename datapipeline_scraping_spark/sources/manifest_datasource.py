"""The ManifestTable as a REGISTERED Spark data source — the
transaction layer readable from PURE SQL (Spark 4 Python DataSource
API), including time travel:

    spark.dataSource.register(ManifestDataSource)
    spark.read.format("manifest").option("root", root).load()
    spark.sql(\"\"\"
      CREATE TEMPORARY VIEW ledger
      USING manifest OPTIONS (root '...', version '3')
    \"\"\")

This is Delta's ``spark.read.format("delta").option("versionAsOf")``
surface re-expressed on the manifest protocol. The reader implements
the FULL merge-on-read visibility composition per task, in Arrow:

- one ``InputPartition`` per data file (a 100 TB snapshot fans out
  file-granular, like any parquet scan);
- hive partition values parsed from the file's directory path and
  attached as constant columns (data files under ``col=value`` dirs
  don't carry the column);
- the deletion vector applied as a per-task Arrow anti-join (the
  ``_dv/`` sidecar is churn-sized by contract — one small file every
  task can afford to load);
- the ``_upd/`` update delta served by its own partitions (post-DV by
  construction);
- metadata-only renames applied by name (``column_map``).

Parity with :meth:`ManifestTable.read` is pinned in
``tests/test_manifest_source.py`` for every sidecar combination —
same rows, same logical schema, through the SQL surface.

Options: ``root`` (required), ``version`` (int, optional — default
head), ``asof`` (float unix ts, optional — Delta ``timestampAsOf``;
mutually exclusive with ``version``), ``where`` (optional — an exact
predicate over the table in disjunctive normal form, OR of
conjunctions of simple comparisons; drives planning-time file
skipping and is applied row-exactly per task, see
:class:`ManifestReader`). Version resolution happens ONCE
at reader construction, so a racing writer cannot redirect the scan
mid-query (same pin the DataFrame API gives), and a GC'd version
raises the documented errors instead of silently reading older state.
"""

from __future__ import annotations

import glob
import json
import os
import re

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from .manifest_log import pointer_version, read_log_entry
from .skipping import conjunct, kept_files, partition_values


def _resolve_version(options) -> tuple[str, int, dict]:
    """(root, version, entry) with Delta-style time-travel semantics.
    Raises on a GC'd or unknown version — never silently older state."""
    root = options["root"]
    if "version" in options and "asof" in options:
        raise ValueError("options version and asof are mutually exclusive")
    if "version" in options:
        ver = int(options["version"])
    elif "asof" in options:
        ts = float(options["asof"])
        live = pointer_version(root)
        ver = None
        for v in range(live, 0, -1):
            e = read_log_entry(root, v)
            if e is not None and e.get("ts", float("inf")) <= ts:
                ver = v
                break
        if ver is None:
            raise FileNotFoundError(f"{root}: no commit at or before ts={ts}")
    else:
        ver = pointer_version(root)
        if not ver:
            raise FileNotFoundError(f"no committed snapshot under {root}")
    entry = read_log_entry(root, ver)
    if entry is None:
        raise FileNotFoundError(f"{root}: no commit log entry for v{ver}")
    snap = os.path.join(root, entry["snapshot"])
    if not os.path.isdir(snap):
        raise FileNotFoundError(
            f"{root}: version {ver} aged past the retention contract and "
            f"its snapshot was garbage-collected"
        )
    return root, ver, entry


#: where-option grammar: DNF — OR of conjunctions of comparisons (r15).
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
#: disjunction — write the two comparisons with OR). LIKE (r15, VERDICT r14 item
#: 3) takes SQL wildcards % (any run) and _ (one char) on STRING
#: columns; backslashes are rejected at parse (escape sequences are
#: where engines' LIKE dialects diverge — fail closed). A pattern's
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
    datetime — the same canonical form :func:`_coerce_literal` gives
    bare ISO strings, so every later tier compares one representation."""
    import datetime as dt

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
    import datetime as dt

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
    """Parse the ``where`` option into DISJUNCTS — a list of
    conjunctions, each a list of conditions ``("cmp", col, op, value)``
    / ``("in", col, values)`` / ``("null", col, not_null)``; the
    predicate is the OR of the conjunctions (r15, VERDICT r14 item 1 —
    "this window OR that backfill window" is the most common
    non-conjunctive shape on a real ledger, and until now it required
    minting one view per disjunct and UNIONing them). AND binds
    tighter than OR, the SQL precedence. Raises ``ValueError`` on
    anything outside the documented grammar: a predicate the reader
    cannot apply EXACTLY must fail loudly, never silently return
    unfiltered rows."""
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
            # one literal kind per IN list: a mixed list cannot build
            # one Arrow value_set — fail at parse, not mid-task
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
                # escape sequences are where LIKE dialects diverge
                # (Spark treats \ as the escape char, Arrow likewise,
                # but quoting layers differ) — fail closed rather than
                # risk the mask matching different rows than Spark
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



#: sentinel: this literal must NOT be pushed into the parquet decode —
#: its decode-level comparison could diverge from the exact Arrow mask
_SKIP_PUSH = object()


def _decode_literal(v, patype):
    """Adapt a canonical where-literal to the FILE's physical Arrow
    type for the parquet decode filter, or ``_SKIP_PUSH`` when the
    decode-level comparison might not be exactly Spark's. Two measured
    pyarrow-16 hazards force this: comparing a tz-aware column to a
    naive datetime raises ArrowInvalid inside the task, and a dataset
    equality between decimals of DIFFERENT scale silently matches
    nothing (``d == Decimal('2')`` on decimal(10,2) returned 0 rows) —
    dropped rows at decode are unrecoverable, unlike extra rows."""
    import datetime as dt
    import decimal

    import pyarrow as pa

    if isinstance(v, dt.datetime) and pa.types.is_timestamp(patype):
        if patype.tz is not None:
            # naive canonical form is the UTC instant by convention
            return v.replace(tzinfo=dt.timezone.utc)
        return v
    if isinstance(v, decimal.Decimal) and pa.types.is_decimal(patype):
        q = decimal.Decimal(1).scaleb(-patype.scale)
        try:
            scaled = v.quantize(q)
        except decimal.InvalidOperation:
            return _SKIP_PUSH  # exceeds precision: mask decides
        if scaled != v:
            return _SKIP_PUSH  # not representable at the file's scale
        return scaled
    return v


def _like_prefix_upper(prefix: str) -> "str | None":
    """The smallest practical string U with ``every string starting
    with prefix < U``: increment the last incrementable codepoint
    (skipping the surrogate range, which cannot encode). None when no
    position can be incremented (all U+10FFFF — no upper bound).
    Codepoint order equals UTF-8 byte order, so the bound holds for
    parquet's byte-wise string stats too."""
    for i in range(len(prefix) - 1, -1, -1):
        c = ord(prefix[i])
        if c >= 0x10FFFF:
            continue
        nxt = c + 1
        if 0xD800 <= nxt <= 0xDFFF:
            nxt = 0xE000
        return prefix[:i] + chr(nxt)
    return None


def _like_re2(pattern: str) -> str:
    """Translate a SQL LIKE pattern to an anchored RE2 regex with the
    exact Spark dialect: ``%`` -> ``.*``, ``_`` -> ``.``, everything
    else literal, compiled DOTALL (``(?s)``) so both wildcards match a
    newline — Spark's LIKE does, Arrow's ``match_like`` translation of
    ``_`` does not (ADVICE r15). Backslash escapes were rejected at
    parse, so every non-wildcard character is a literal."""
    parts = ["(?s)^"]
    for ch in pattern:
        if ch == "%":
            parts.append(".*")
        elif ch == "_":
            parts.append(".")
        elif ch in "\\^$.|?*+()[]{}":
            parts.append("\\" + ch)
        else:
            parts.append(ch)
    parts.append("$")
    return "".join(parts)


def _mask_literal(v, patype):
    """Adapt a canonical where-literal to the DECLARED Arrow type for
    the exact row mask (the table is already cast to the logical
    schema at this point). Only tz-aware timestamp columns need help:
    the canonical naive datetime carries the UTC instant, and Arrow
    refuses to compare naive against tz-aware."""
    import datetime as dt

    import pyarrow as pa

    if (
        isinstance(v, dt.datetime)
        and pa.types.is_timestamp(patype)
        and patype.tz is not None
    ):
        return v.replace(tzinfo=dt.timezone.utc)
    return v


def _decode_terms(conj, phys: dict, cmap: dict) -> list:
    """The parquet-decode filter terms of THIS conjunct against a
    file's physical schema (row-group stats pruning + dictionary
    filtering). Dropping an unpushable term only WEAKENS the
    conjunct (AND of fewer terms keeps a superset), so this is
    purely an optimization — the final Arrow mask re-applies
    everything. A term whose decode-level semantics could DIVERGE
    from Spark's (NaN under `>`, a decimal literal that does not
    rescale exactly, nullness) is simply not pushed."""
    flt = []
    for cond in conj.conds:
        pcol = cmap.get(cond[1], cond[1])
        if pcol not in phys or cond[0] == "null":
            continue  # nullness is checked in the final mask
        if cond[0] == "nlike":
            continue  # exclusion-shaped: mask only
        if cond[0] == "like":
            # a prefix-bearing pattern pushes its prefix INTERVAL
            # into the decode ([prefix, next-prefix) — exact
            # bounds for "starts with prefix", a superset of the
            # matches) so row-group stats prune inside big files;
            # the pattern tail stays mask-only
            prefix = re.split(r"[%_]", cond[2], maxsplit=1)[0]
            if prefix:
                flt.append((pcol, ">=", prefix))
                upper = _like_prefix_upper(prefix)
                if upper is not None:
                    flt.append((pcol, "<", upper))
            continue
        if cond[0] == "cmp":
            if (
                cond[1] in conj.nan_gt_cols
                and cond[2] in (">", ">=")
            ):
                continue  # Arrow would drop NaN rows Spark keeps
            v = _decode_literal(cond[3], phys[pcol])
            if v is _SKIP_PUSH:
                continue
            flt.append(
                (pcol, "==" if cond[2] == "=" else cond[2], v)
            )
        else:
            vals = [_decode_literal(x, phys[pcol]) for x in cond[2]]
            if any(v is _SKIP_PUSH for v in vals):
                continue
            flt.append((pcol, "in", set(vals)))
    return flt

def _conj_mask(conj, tbl, want):
    """This conjunct's exact row mask over the declared-schema
    table: Kleene-AND of term masks (SQL semantics — a null
    comparison is null, and null AND false is false; the caller's
    filter drops non-TRUE rows). Spark's NaN ordering is honoured:
    float `>`/`>=` keeps NaN rows."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ops = {
        "=": pc.equal,
        "!=": pc.not_equal,
        ">": pc.greater,
        ">=": pc.greater_equal,
        "<": pc.less,
        "<=": pc.less_equal,
    }
    out = None
    for cond in conj.conds:
        if cond[0] == "cmp":
            col = tbl.column(cond[1])
            lit = _mask_literal(cond[3], want.field(cond[1]).type)
            m = ops[cond[2]](col, lit)
            if (
                cond[1] in conj.nan_gt_cols
                and cond[2] in (">", ">=")
            ):
                m = pc.or_(m, pc.is_nan(col))
        elif cond[0] == "null":
            m = (
                pc.is_valid(tbl.column(cond[1]))
                if cond[2]  # IS NOT NULL
                else pc.is_null(tbl.column(cond[1]))
            )
        elif cond[0] in ("like", "nlike"):
            # SQL LIKE semantics (% any run, _ one char; null in,
            # null out) — backslash escapes were rejected at
            # parse, the one place LIKE dialects diverge. NOT
            # LIKE inverts with null preserved (pc.invert), so a
            # null still never satisfies either polarity.
            # Translated to an anchored (?s) RE2 by hand rather
            # than pc.match_like: Arrow's own translation maps `_`
            # to a non-DOTALL `.` which does NOT match a newline,
            # while Spark compiles LIKE with DOTALL and keeps
            # 'a\nb' for 'a_b' — match_like would silently drop
            # rows Spark keeps (ADVICE r15).
            m = pc.match_substring_regex(
                tbl.column(cond[1]), _like_re2(cond[2])
            )
            if cond[0] == "nlike":
                m = pc.invert(m)
        else:
            typ = want.field(cond[1]).type
            vals = [_mask_literal(v, typ) for v in cond[2]]
            m = pc.is_in(
                tbl.column(cond[1]), value_set=pa.array(vals)
            )
        out = m if out is None else pc.and_kleene(out, m)
    return out


# One deletion-vector parse per Python worker per snapshot (guide
# §4.5, r17): ManifestReader.read() runs once PER TASK, and before
# this memo every task of an MoR scan re-read and re-concatenated the
# whole ``_dv/`` sidecar — N data files × M DV files parses. The memo
# lives at module level so a reused Python worker
# (spark.python.worker.reuse, default on) keeps it across tasks; the
# PID guard drops it in forked children. Keyed on every DV file's
# path AND a digest of its bytes: snapshot dirs are immutable by the
# commit contract, but a PATH can be reused across table rebuilds in
# one process (tests do this), and a same-size rewrite inside one
# coarse mtime tick leaves (mtime, size) unchanged — only the content
# tells the vectors apart. DVs are churn-sized by contract, so
# reading their bytes per task is cheap next to the parquet decode
# it saves; the cache keeps a handful and clears wholesale rather
# than growing without bound.
_DV_MEMO: dict = {"pid": None, "tables": {}}
_DV_MEMO_MAX = 8


def _dv_table(dv_files):
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    pid = os.getpid()
    if _DV_MEMO["pid"] != pid:
        _DV_MEMO["pid"] = pid
        _DV_MEMO["tables"] = {}
    blobs = []
    for f in dv_files:
        with open(f, "rb") as fh:
            blobs.append(fh.read())
    key = tuple(
        (f, hashlib.blake2b(b, digest_size=16).digest())
        for f, b in zip(dv_files, blobs)
    )
    tables = _DV_MEMO["tables"]
    got = tables.get(key)
    if got is None:
        got = pa.concat_tables(
            [pq.read_table(pa.BufferReader(b)) for b in blobs]
        )
        if len(tables) >= _DV_MEMO_MAX:
            tables.clear()
        tables[key] = got
    return got


class ManifestReader(DataSourceReader):
    """Per-task MoR read: parquet file -> rename map -> attach hive
    partition constants -> DV anti-join -> declared-schema cast -> the
    ``where`` option's row filter. The ``_upd/`` delta files skip the
    anti-join (post-DV rows).

    FILE SKIPPING on the SQL path (r13 redesign): the predicate comes
    from the relation's ``where`` OPTION — OR-of-conjunctions of
    simple comparisons (see :func:`parse_where`) — applied EXACTLY (files
    pruned at planning by the pruning core the DataFrame API shares,
    :func:`.skipping.kept_files` — hive ``col=value`` path segments,
    the commit log's per-file stats, the clustered bucket layout, the
    bloom sidecar; surviving rows filtered in Arrow per task), so

        CREATE TEMPORARY VIEW recent USING manifest
        OPTIONS (root '...', `where` 'ts >= 1700000000')

    is a predicate view that launches O(window) tasks instead of
    O(table) at 100 TB.

    WHY AN OPTION AND NOT ``pushFilters`` (r13, replacing the r12
    design): Spark 4.1 keeps ONE mutable read-info slot per Python
    data source instance (``PythonDataSourceV2.setReadInfo`` /
    ``getOrCreateReadInfo`` — last pushdown wins). When one relation
    is scanned twice in a plan with different predicates (self-join,
    union of two filtered branches, a view referenced twice), every
    scan executes the LAST branch's pushed-filter partition list and
    read function, silently dropping the other branches' rows —
    measured: ``v.filter(a).union(v.filter(b))`` returned only
    ``b``'s rows, and an anti-join's build side came back empty, so
    AQE eliminated the join. A reader whose ``partitions()`` depends
    on ``pushFilters`` state is therefore UNSOUND on this Spark
    version no matter how conservative each individual run is. The
    ``where`` option lives in the relation identity instead: every
    pushdown/plan run of the same relation produces the SAME
    read-info, so the shared-slot collision is harmless by
    construction, and differently-filtered views are different
    relations. Pruning semantics are unchanged from r12: a file is
    dropped only when it provably contains no qualifying row (evolved
    snapshots compose — each file prunes by ITS spec's dirs, falling
    back to stats; the ``_upd`` delta is always scanned)."""

    def __init__(self, options, schema: StructType):
        from pyspark.sql.pandas.types import to_arrow_schema

        root, ver, entry = _resolve_version(options)
        self.snap = os.path.join(root, entry["snapshot"])
        self.cmap = dict(entry.get("column_map") or {})  # logical->physical
        self.dropped = list(entry.get("dropped") or [])  # physical names
        self.dv_keys = list((entry.get("dv") or {}).get("key_cols") or [])
        self.dv_files = (
            sorted(glob.glob(os.path.join(self.snap, "_dv", "*.parquet")))
            if entry.get("dv")
            else []
        )
        self.arrow_schema = to_arrow_schema(schema)
        #: the log entry the planning-time skipping tiers read (file
        #: stats, bucket layout, bloom declaration, schema types)
        self.entry = entry
        #: the where option's DNF — one conjunct per disjunct, literals
        #: validated and coerced against the committed column types AT
        #: PARSE time (a string literal on a bigint column would
        #: otherwise only blow up, or mis-compare, inside an executor
        #: task); the predicate is their OR, so a file survives
        #: planning if ANY conjunct might match a row in it and the
        #: exact row mask is the Kleene-OR of per-conjunct masks.
        #: Empty = no predicate.
        self.disjuncts = [
            conjunct(conds, entry)
            for conds in (
                parse_where(options["where"]) if "where" in options else []
            )
        ]

    def partitions(self):
        kept, _total = kept_files(self.snap, self.entry, self.disjuncts)
        parts = [
            InputPartition((f, partition_values(f, self.snap), True))
            for f in kept
        ]
        # the _upd delta is churn-sized and carries no per-file stats:
        # always scanned (update_where can move rows into any range)
        parts.extend(
            InputPartition((f, {}, False))
            for f in sorted(
                glob.glob(os.path.join(self.snap, "_upd", "*.parquet"))
            )
        )
        if not parts:
            # every file pruned: one zero-row task keeps the contract
            # (the API requires at least one partition)
            parts.append(InputPartition((None, {}, False)))
        return parts

    def read(self, partition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        path, part_vals, apply_dv = partition.value
        want = self.arrow_schema
        if path is None:  # all-pruned placeholder: zero rows
            return
        # push the where conditions into the parquet DECODE (row-group
        # statistics pruning + dictionary filtering) for every column
        # physically present in this file — the third skipping tier
        # under file pruning. Conditions on dir-encoded / renamed-away
        # / evolution-added columns are left to the final Arrow mask,
        # which re-applies everything (idempotent), so this is purely
        # an optimization and never a correctness filter; a condition
        # whose decode-level semantics could DIVERGE from Spark's (NaN
        # under `>`, a decimal literal that does not rescale exactly,
        # nullness) is simply not pushed. The dataset handle supplies
        # both the physical column list and the filtered scan from ONE
        # footer parse (ADVICE r13 — read_table after ParquetFile
        # re-parsed every footer twice per task). DNF (r15): pyarrow's
        # filters accept OR-of-ANDs as a list of lists; dropping an
        # unpushable TERM only weakens its conjunct, but a conjunct
        # with NO pushable term weakens to TRUE and makes the whole
        # disjunction vacuous — push nothing in that case.
        if self.disjuncts:
            import pyarrow.dataset as pds

            dset = pds.dataset(path, format="parquet")
            phys = {f.name: f.type for f in dset.schema}
            dnf = [
                _decode_terms(c, phys, self.cmap) for c in self.disjuncts
            ]
            tbl = dset.to_table(
                filter=pq.filters_to_expression(dnf)
                if all(dnf)
                else None
            )
        else:
            tbl = pq.read_table(path)
        # dropped physical columns go FIRST (metadata-only DROP): a
        # later rename may reuse a dropped name as its logical target,
        # and the stale physical column must be gone before the rename
        # lands or the two names collide (mirrors txn._apply_map)
        if self.dropped:
            keep = [c for c in tbl.schema.names if c not in self.dropped]
            tbl = tbl.select(keep)
        # physical -> logical renames (metadata-only rename commits)
        if self.cmap:
            phys_to_logi = {p: l for l, p in self.cmap.items()}
            tbl = tbl.rename_columns(
                [phys_to_logi.get(c, c) for c in tbl.schema.names]
            )
        # hive partition constants (dir names carry the values)
        for col, raw in part_vals.items():
            if col in tbl.schema.names:
                continue
            typ = want.field(col).type
            arr = pa.array([raw] * tbl.num_rows, type=pa.string()).cast(typ)
            tbl = tbl.append_column(col, arr)
        # deletion vector: per-task Arrow anti-join on the key columns
        # (the DV table itself is parsed once per worker per snapshot
        # and memoized — see _dv_table)
        if apply_dv and self.dv_files and all(
            k in tbl.schema.names for k in self.dv_keys
        ):
            tbl = tbl.join(
                _dv_table(tuple(self.dv_files)),
                keys=self.dv_keys,
                join_type="left anti",
            )
        # align + cast to the declared logical schema (null-fill
        # columns added by later schema evolution)
        if tbl.schema.names != want.names:
            arrays = [
                tbl.column(f.name)
                if f.name in tbl.schema.names
                else pa.nulls(tbl.num_rows, type=f.type)
                for f in want
            ]
            tbl = pa.Table.from_arrays(arrays, names=list(want.names))
        tbl = tbl.cast(want)
        # the `where` option's EXACT row filter (SQL semantics: a null
        # comparison excludes the row; Spark semantics: NaN orders
        # above every number, so float `>`/`>=` keeps NaN rows) —
        # file pruning above is only the coarse pass over the same
        # conditions. DNF (r15): Kleene-OR of per-conjunct Kleene-AND
        # masks, so `a = 1 OR b = 2` keeps a row whose b is null but
        # whose a is 1 (true OR null = true), exactly as SQL does.
        if self.disjuncts:
            import pyarrow.compute as pc

            mask = None
            for conj in self.disjuncts:
                m = _conj_mask(conj, tbl, want)
                mask = m if mask is None else pc.or_kleene(mask, m)
            if mask is not None:
                tbl = tbl.filter(mask)
        yield from tbl.to_batches(max_chunksize=1 << 16)


class ManifestDataSource(DataSource):
    """``format("manifest")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "manifest"

    def schema(self) -> StructType:
        _root, _ver, entry = _resolve_version(self.options)
        sj = entry.get("schema")
        if not sj:
            raise ValueError(f"{self.options['root']}: no committed schema")
        return StructType.fromJson(json.loads(sj))

    def reader(self, schema):
        return ManifestReader(self.options, schema)

    def writer(self, schema, overwrite: bool):
        if "where" in self.options:
            raise ValueError(
                "manifest: a relation with a `where` option is a "
                "filtered READ view — write to the unfiltered table"
            )
        if overwrite:
            raise ValueError(
                "manifest: mode('overwrite') replaces the whole table — "
                "use ManifestTable.commit via the DataFrame API; the SQL "
                "write surface is append-only (INSERT INTO / "
                "mode('append'))"
            )
        return ManifestWriter(self.options)


class _PartsMessage(WriterCommitMessage):
    def __init__(self, path, rows):
        self.path = path
        self.rows = rows


class ManifestWriter(DataSourceArrowWriter):
    """``df.write.format("manifest").mode("append")`` / SQL
    ``INSERT INTO`` on a ``USING manifest`` view — the write half of
    the SQL surface, riding the ledger's ADD-FILE commit: each task
    streams its Arrow batches into one parquet part under a hidden
    staging dir inside the table root (same filesystem — the commit
    adopts the files by rename, zero copies), and the driver-side
    ``commit`` runs :func:`..operators.txn.append_files_local` (the
    datasource's Python worker has no JVM gateway, so the commit is
    pure pyarrow/duckdb), which links the whole base snapshot forward
    and applies every append contract (CHECK constraints, MoR-
    collision refusal, incremental stats/bloom, insert-only change
    feed, CAS). Tasks write the table's PHYSICAL column names
    (metadata-only renames stay metadata)."""

    def __init__(self, options):
        import uuid

        self.root = options["root"]
        self.keep_snapshots = int(options.get("keep_snapshots", 2))
        self.parts_dir = os.path.join(
            self.root, f".dswrite-{uuid.uuid4().hex[:8]}"
        )
        try:
            ver = pointer_version(self.root)
            entry = read_log_entry(self.root, ver) if ver else None
        except (FileNotFoundError, OSError):
            entry = None
        # logical -> physical rename applied task-side
        self.column_map = dict((entry or {}).get("column_map") or {})

    def write(self, iterator):
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        writer = None
        rows = 0
        path = os.path.join(
            self.parts_dir, f"part-{uuid.uuid4().hex}.parquet"
        )
        try:
            for batch in iterator:
                if self.column_map:
                    batch = batch.rename_columns(
                        [
                            self.column_map.get(n, n)
                            for n in batch.schema.names
                        ]
                    )
                if writer is None:
                    os.makedirs(self.parts_dir, exist_ok=True)
                    writer = pq.ParquetWriter(path, batch.schema)
                writer.write_table(pa.Table.from_batches([batch]))
                rows += batch.num_rows
        finally:
            if writer is not None:
                writer.close()
        if rows == 0:
            return _PartsMessage(None, 0)
        return _PartsMessage(path, rows)

    def commit(self, messages):
        import shutil

        from ..operators.txn import append_files_local

        total = sum(m.rows for m in messages if m is not None)
        if total == 0 or not os.path.isdir(self.parts_dir):
            shutil.rmtree(self.parts_dir, ignore_errors=True)
            return
        try:
            append_files_local(
                self.root,
                self.parts_dir,
                keep_snapshots=self.keep_snapshots,
            )
        finally:
            shutil.rmtree(self.parts_dir, ignore_errors=True)

    def abort(self, messages):
        import shutil

        shutil.rmtree(self.parts_dir, ignore_errors=True)


def register(spark) -> None:
    """Idempotent registration of the ``manifest`` format. Within one
    session a re-register only warns, but a SIBLING session
    (``spark.newSession()``) shares the context-wide registry and
    raises DATA_SOURCE_ALREADY_EXISTS — swallow exactly that."""
    try:
        spark.dataSource.register(ManifestDataSource)
    except Exception as exc:  # pragma: no cover - version-dependent
        if "DATA_SOURCE_ALREADY_EXISTS" not in str(exc):
            raise
    # NOTE (r13): the readers deliberately do NOT implement
    # pushFilters — see ManifestReader's docstring for the Spark 4.1
    # shared-read-info collision that makes filter-dependent
    # partitions unsound; predicate pruning rides the `where` OPTION
    # instead, so no filterPushdown conf is needed.
