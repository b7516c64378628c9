"""File skipping for the manifest table — ONE pruning core shared by
both read front ends:

- the DataFrame API (``ManifestTable.pruned_files`` / ``read_where`` /
  ``read_point`` / ``bloom_pruned_files``), which builds a conjunct
  from its ``{col: (lo, hi)}`` or point arguments;
- the SQL surface's ``manifest_sql.predicate_view``, whose predicate
  parses to one conjunct per disjunct.

Both call :func:`kept_files`, which lists the snapshot's data files
once and applies the tiers in order — hive ``col=value`` dirs, the
commit log's per-file ``[min, max, nulls, rows]`` stats, the clustered
bucket layout, the per-file bloom sidecar. Every tier is conservative:
a file is dropped only when it provably holds no qualifying row, so
skipping is an optimization, never a correctness filter.

The bloom hash lives here too, so the sidecar's build (commit time,
:func:`bloom_rows`) and probe (planning time) share one definition.

Imports only the stdlib, pyarrow and, in the bloom kernel and the span
hashing it shares with the dedup kernels, numpy (the bucket hash,
stdlib-only, is imported for clustered snapshots alone):
the manifest data source's Python workers import this module's
listing helpers without a JVM, the bloom build's Spark tasks import
its kernel, and neither must pay the ``operators.txn`` or pandas
import.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os
import re
from urllib.parse import unquote

NUM_TYPES = frozenset(
    {"tinyint", "smallint", "int", "bigint", "long", "float", "double"}
)
TEMPORAL_TYPES = frozenset({"timestamp", "timestamp_ntz"})
#: column types whose Python str() form equals Spark's CAST(col AS
#: STRING) — the only types the bloom sidecar may be built over or
#: probed for
BLOOMABLE_TYPES = frozenset(
    {"tinyint", "smallint", "int", "bigint", "long", "string"}
)
BLOOM_DIR = "_bloom"
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
#: Spark's schema-JSON names of the integral types -> simpleString
_JSON_TYPE_NAMES = {
    "byte": "tinyint",
    "short": "smallint",
    "integer": "int",
    "long": "bigint",
}


# ---------------------------------------------------------------------------
# snapshot listing
# ---------------------------------------------------------------------------
def data_files(snap: str) -> list[str]:
    """Absolute paths of a snapshot's data files, in a stable order.
    Hidden subtrees (the ``_dv``/``_upd``/``_bloom``/``_cdf`` sidecars,
    ``.``-prefixed staging dirs) are not data."""
    out = []
    for d, dirs, fs in os.walk(snap):
        dirs[:] = sorted(x for x in dirs if not x.startswith(("_", ".")))
        out.extend(
            os.path.join(d, f) for f in sorted(fs) if f.endswith(".parquet")
        )
    return out


def partition_values(path: str, snap: str) -> dict:
    """Hive partition values from the file's directory path. Values are
    UNESCAPED (hive URL-encodes special characters into dir names —
    ``a/b`` writes as ``a%2Fb``), matching what Spark's own partition
    discovery reconstructs; the hive null partition maps to None."""
    vals = {}
    rel = os.path.relpath(os.path.dirname(path), snap)
    for seg in rel.split(os.sep):
        if "=" in seg:
            k, _, v = seg.partition("=")
            vals[k] = None if v == _HIVE_NULL else unquote(v)
    return vals


def column_types(entry: dict) -> dict[str, str]:
    """LOGICAL column -> Spark simpleString type, from the log entry's
    committed schema JSON ({} for a schemaless adopted entry)."""
    try:
        fields = json.loads(entry["schema"])["fields"]
    except (KeyError, TypeError, ValueError):
        return {}
    return {
        f["name"]: (
            _JSON_TYPE_NAMES.get(f["type"], f["type"])
            if isinstance(f["type"], str)
            else f["type"].get("type", "")
        )
        for f in fields
    }


# ---------------------------------------------------------------------------
# the range-overlap comparator
# ---------------------------------------------------------------------------
def _bound(x):
    """Temporal values meet as ISO strings: commit-log file stats
    serialize date/datetime to their str() form (``_stat_scalar``) and
    hive dirs carry them as path text."""
    if isinstance(x, dt.datetime):
        return x.isoformat(sep=" ")
    if isinstance(x, dt.date):
        return x.isoformat()
    return x


def _lt(a, b) -> bool:
    """``a < b`` for one stat/dir value and one coerced literal. Strings
    compare under conservative truncation — both sides cut to the
    shorter length, prefix-equal is NOT less: a date bound
    '2024-01-05' against a timestamp stat '2024-01-05 10:00:00' means
    'same day, sub-day resolution unknown'. Decimal columns commit
    their stats (and dir values) as text; a Decimal literal compares
    them as Decimal — text order would put '12.50' below '9.00'."""
    if isinstance(a, str) and isinstance(b, str):
        k = min(len(a), len(b))
        return a[:k] < b[:k]
    if isinstance(a, decimal.Decimal) and isinstance(b, str):
        b = decimal.Decimal(b)
    elif isinstance(b, decimal.Decimal) and isinstance(a, str):
        a = decimal.Decimal(a)
    return a < b


def overlaps(mn, mx, lo, hi) -> bool:
    """Could a file whose values lie in [mn, mx] hold one in [lo, hi]?
    None on any side = unknown/unbounded. Any comparison that fails
    (mixed or incomparable kinds, unparseable decimal text) keeps the
    file."""
    mn, mx, lo, hi = _bound(mn), _bound(mx), _bound(lo), _bound(hi)
    try:
        if lo is not None and mx is not None and _lt(mx, lo):
            return False
        if hi is not None and mn is not None and _lt(hi, mn):
            return False
    except (TypeError, ArithmeticError):
        return True
    return True


# ---------------------------------------------------------------------------
# predicates: literal coercion and the per-disjunct conjunct
# ---------------------------------------------------------------------------
def _coerce_literal(lit, styp: str, col: str):
    """Validate AND canonicalize one predicate literal against the
    column's Spark type, on the driver — a literal that cannot be
    compared exactly must fail HERE, never mid-query, and never
    mis-compare. Canonical forms: numerics stay numeric, decimal
    columns get exact ``decimal.Decimal`` literals, date
    columns get ``datetime.date``, timestamp columns get naive
    ``datetime.datetime`` (ISO strings and epoch-second numerics both
    accepted; zone offsets normalize to UTC)."""
    if isinstance(lit, bool):
        if styp == "boolean":
            return lit
    elif isinstance(lit, dt.datetime):  # before date: datetime IS a date
        if styp in TEMPORAL_TYPES:
            return lit
    elif isinstance(lit, dt.date):
        if styp == "date":
            return lit
        if styp in TEMPORAL_TYPES:  # Spark CAST(date AS timestamp)
            return dt.datetime(lit.year, lit.month, lit.day)
    elif isinstance(lit, decimal.Decimal):
        if styp in NUM_TYPES or styp.startswith("decimal"):
            return lit
    elif isinstance(lit, (int, float)):
        if styp in NUM_TYPES:
            return lit
        if styp.startswith("decimal"):
            return decimal.Decimal(str(lit))
        if styp in TEMPORAL_TYPES:  # epoch seconds, UTC instant
            return dt.datetime.fromtimestamp(
                float(lit), tz=dt.timezone.utc
            ).replace(tzinfo=None)
    elif isinstance(lit, str):
        if styp == "string":
            return lit
        if styp == "date":
            try:
                return dt.date.fromisoformat(lit)
            except ValueError:
                raise ValueError(
                    f"where: {lit!r} is not an ISO date for DATE "
                    f"column {col!r}"
                ) from None
        if styp in TEMPORAL_TYPES:
            try:
                v = dt.datetime.fromisoformat(lit)
            except ValueError:
                raise ValueError(
                    f"where: {lit!r} is not an ISO timestamp for "
                    f"column {col!r} of type {styp}"
                ) from None
            if v.tzinfo is not None:
                v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
            return v
    raise ValueError(
        f"where: literal {lit!r} does not match column {col!r} of "
        f"type {styp} (supported predicate column types: numeric, "
        f"decimal, string, boolean, date, timestamp)"
    )


def _canonical_forms(vals) -> "tuple[set, set] | None":
    """(lowercased string forms, numeric forms) of a literal set for
    matching hive dir values — hive lowercases booleans, numerics may
    render with/without a decimal point. None marks a set with an
    uncanonicalizable member (date/datetime/Decimal): no dir pruning,
    the range envelope still applies."""
    if not all(isinstance(p, (str, int, float, bool)) for p in vals):
        return None
    nums = set()
    for p in vals:
        try:
            nums.add(float(p))
        except (TypeError, ValueError):
            pass
    return {str(p).lower() for p in vals}, nums


def conjunct(conds: list[tuple], entry: dict) -> "_Conjunct":
    """One :class:`_Conjunct` from raw conditions over LOGICAL column
    names — ``("cmp", col, op, value)`` / ``("in", col, values)`` /
    ``("null", col, not_null)`` / ``("like"|"nlike", col, pattern)`` —
    with every literal validated and coerced against the entry's
    committed column type (``ValueError`` on an unknown column or an
    uncoercible literal). A schemaless adopted entry has nothing to
    coerce against: its literals are taken as given."""
    logical = column_types(entry)
    cmap = dict(entry.get("column_map") or {})
    if not logical:
        return _Conjunct(conds, cmap, logical)
    coerced: list[tuple] = []
    for cond in conds:
        if cond[1] not in logical:
            raise ValueError(
                f"where: unknown column {cond[1]!r} (have {sorted(logical)})"
            )
        styp = logical[cond[1]]
        if cond[0] == "null":
            coerced.append(cond)  # IS [NOT] NULL: no literal
        elif cond[0] in ("like", "nlike"):
            # [NOT] LIKE is a string-column predicate; on any other
            # type Spark would implicitly cast, and the prefix pruning
            # compares string envelopes only
            if styp != "string":
                raise ValueError(
                    f"where: LIKE on column {cond[1]!r} of type {styp} "
                    f"— LIKE supports string columns only"
                )
            coerced.append(cond)
        elif cond[0] == "in":
            vals = tuple(_coerce_literal(v, styp, cond[1]) for v in cond[2])
            coerced.append(("in", cond[1], vals))
        else:
            lit = _coerce_literal(cond[3], styp, cond[1])
            coerced.append(("cmp", cond[1], cond[2], lit))
    return _Conjunct(coerced, cmap, logical)


class _Conjunct:
    """Planning state of ONE conjunction of a DNF predicate: the range
    envelopes, equality point sets, nullness and exclusion sets of its
    conditions. A DNF's kept-file set is the UNION of per-conjunct kept
    sets across every skipping tier (see :func:`kept_files`)."""

    def __init__(self, conds: list[tuple], cmap: dict, logical: dict):
        #: coerced conditions, LOGICAL column names
        self.conds = conds
        #: logical float/double columns under `>`/`>=` in THIS
        #: conjunct: Spark orders NaN GREATER than any number, so these
        #: terms keep NaN rows that a file's [min, max] never shows
        self.nan_gt_cols = {
            name
            for name, t in logical.items()
            if t in ("float", "double")
            and any(
                cond[0] == "cmp"
                and cond[1] == name
                and cond[2] in (">", ">=")
                for cond in conds
            )
        }
        #: physical column -> [lo, hi] envelope (AND within the conjunct)
        self.ranges: dict[str, list] = {}
        #: physical column -> exact value SET (= / IN) — prunes
        #: dir-encoded columns tighter than the range envelope
        self.point_sets: dict[str, set] = {}
        #: physical column -> required nullness (True = IS NOT NULL,
        #: False = IS NULL) — prunes hive null-partition dirs
        self.null_conds: dict[str, bool] = {}
        #: physical column -> EXCLUDED values (``!=``): prunes a file
        #: only when it provably holds ONE value and that value is
        #: excluded (a dir-encoded partition, or numeric min == max)
        self.neq_sets: dict[str, set] = {}
        for cond in conds:
            col = cmap.get(cond[1], cond[1])  # logical -> physical
            lo = hi = None
            if cond[0] == "null":
                # IS NOT NULL (cond[2]=True) / IS NULL (False)
                self.null_conds[col] = bool(cond[2])
                continue
            if cond[0] == "nlike":
                continue  # exclusion-shaped: row filter only, no prune
            if cond[0] == "like":
                # the pattern's literal PREFIX before the first
                # wildcard prunes as the range [prefix, prefix]: every
                # match starts with the prefix, and overlaps'
                # prefix-truncated string comparison makes
                # [prefix, prefix] mean exactly "could a string
                # starting with prefix live in this file's [min, max]".
                # A leading wildcard yields an empty prefix: no range.
                prefix = re.split(r"[%_]", cond[2], maxsplit=1)[0]
                if prefix:
                    lo = hi = prefix
            elif cond[0] == "cmp":
                op, v = cond[2], cond[3]
                if op == "=":
                    lo = hi = v
                    prev = self.point_sets.get(col)
                    self.point_sets[col] = (
                        {v} if prev is None else prev & {v}
                    )
                elif op == "!=":
                    self.neq_sets.setdefault(col, set()).add(v)
                    continue  # no range contribution
                elif op in (">", ">="):
                    lo = v
                else:
                    hi = v
            else:  # ("in", col, values)
                pts = set(cond[2])
                prev = self.point_sets.get(col)
                self.point_sets[col] = pts if prev is None else prev & pts
                try:
                    lo, hi = min(pts), max(pts)
                except TypeError:
                    lo = hi = None
            if lo is not None or hi is not None:
                r = self.ranges.setdefault(col, [None, None])
                # AND semantics: intersect with any prior range
                try:
                    if lo is not None and (r[0] is None or lo > r[0]):
                        r[0] = lo
                    if hi is not None and (r[1] is None or hi < r[1]):
                        r[1] = hi
                except TypeError:
                    pass
        #: physical float/double columns whose lo bound must not prune
        #: by stats: parquet writers skip NaN computing min/max, so a
        #: file's [min, max] says nothing about NaN presence, and
        #: Spark's `x > lo` keeps NaN. An upper bound in the same
        #: conjunct (`<`, `<=`, `=`, IN) excludes NaN — NaN orders
        #: above every number — so a two-sided range prunes on both
        #: ends.
        self._nan_lo_phys = {
            cmap.get(c, c)
            for c in self.nan_gt_cols
            if self.ranges.get(cmap.get(c, c), [None, None])[1] is None
        }
        # precompute each point set's comparison forms ONCE (planning
        # runs keep_file per file — O(files), not O(files × points)):
        # lowercased strings (hive lowercases booleans) + numeric set;
        # None marks a set with an uncanonicalizable member (no prune)
        self._point_forms = {
            col: _canonical_forms(pts)
            for col, pts in self.point_sets.items()
        }

    def keep_file(
        self,
        part_vals: dict,
        stats: dict,
        phys_types: dict,
        float_phys: set,
    ) -> bool:
        """Could a row satisfying THIS conjunct exist in the file?
        The dir tier reads ``part_vals`` (the file's hive segments),
        the stats tier its commit-log entry ``stats``. Conservative
        across every tier — any doubt keeps the file."""
        # IS [NOT] NULL against dir-encoded columns: a file under
        # col=__HIVE_DEFAULT_PARTITION__ holds ONLY null values of
        # col, and one under col=value holds none — either side can
        # prune exactly. Data columns prune via the commit log's
        # per-file null counts ([min, max, nulls, rows]; 2-element
        # entries from older commits never prune on nullness):
        # nulls == rows means no IS-NOT-NULL row can exist, nulls == 0
        # means no IS-NULL row.
        for col, want_not_null in self.null_conds.items():
            if col in part_vals:
                is_null_dir = part_vals[col] is None
                if is_null_dir == want_not_null:
                    return False
                continue
            st = stats.get(col)
            if st is not None and len(st) >= 4 and st[2] is not None:
                nulls, rows = st[2], st[3]
                if want_not_null and nulls == rows:
                    return False
                if not want_not_null and nulls == 0:
                    return False
        # point-set pruning on dir-encoded columns: tighter than the
        # range envelope for IN-lists (`IN ('a','z')` keeps only those
        # two dirs, not everything between). Conservative: only prunes
        # when every point has a canonical dir form (str/int/float/
        # bool — _point_forms), matched case-insensitively so
        # Python's str(True)='True' meets hive's 'true'; any column
        # whose points can't be canonicalized keeps all files.
        for col, forms in self._point_forms.items():
            raw = part_vals.get(col)
            if raw is None:  # not dir-encoded here / hive null: keep
                continue
            if forms is None:  # uncanonicalizable point type: keep
                continue
            str_forms, num_forms = forms
            if raw.lower() in str_forms:
                continue
            try:
                if float(raw) in num_forms:
                    continue
            except (TypeError, ValueError):
                pass
            return False
        # != pruning: drop a file only when it PROVABLY holds one
        # single excluded value — a dir-encoded partition equal to an
        # excluded literal, or a numeric column whose min == max (NaN
        # never enters stats, so float/double columns are exempt from
        # the stats form) — or when the column is all-null (null != x
        # is null: excluded). The dir match is EXACT and TYPE-FAITHFUL:
        # the keep-side canonical forms lowercase strings and add
        # float aliases, which here would prune the dir s=g1 for
        # `s != 'G1'` — rows that DO satisfy the predicate under
        # Spark's case-sensitive string comparison. Each column type
        # matches only its own faithful rendering; any type without
        # one (timestamp dirs, uncoercible raws) never prunes.
        for col, excl in self.neq_sets.items():
            raw = part_vals.get(col)
            if raw is not None:
                styp = phys_types.get(col, "")
                try:
                    if styp == "string":
                        if raw in excl:  # exact, case-sensitive
                            return False
                    elif styp == "boolean":
                        # hive lowercases booleans into dir names
                        if raw.lower() in {
                            str(v).lower()
                            for v in excl
                            if isinstance(v, bool)
                        }:
                            return False
                    elif styp in NUM_TYPES:
                        # Python's cross-type numeric == is exact
                        # (no float rounding for big ints)
                        v_raw = (
                            float(raw)
                            if "." in raw or "e" in raw.lower()
                            else int(raw)
                        )
                        if any(v_raw == v for v in excl):
                            return False
                    elif styp.startswith("decimal"):
                        if any(decimal.Decimal(raw) == v for v in excl):
                            return False
                    elif styp == "date":
                        if any(
                            raw == getattr(v, "isoformat", lambda: None)()
                            for v in excl
                        ):
                            return False
                except (
                    TypeError,
                    ValueError,
                    ArithmeticError,
                ):  # unparseable raw: cannot prove equality — keep
                    pass
            st = stats.get(col) if col not in part_vals else None
            if st is None:
                continue
            if len(st) >= 4 and st[2] is not None and st[2] == st[3]:
                return False  # all-null: no row satisfies !=
            if (
                st[0] is not None
                and st[0] == st[1]
                and isinstance(st[0], (int, float))
                and not isinstance(st[0], bool)
                and col not in float_phys
            ):
                for v in excl:
                    try:
                        # exact cross-type equality (int/float/Decimal
                        # compare exactly in Python — no float() cast
                        # that could collide distinct big ints)
                        if not isinstance(v, (bool, str)) and v == st[0]:
                            return False
                    except TypeError:
                        pass
        for col, (lo, hi) in self.ranges.items():
            if col in part_vals:
                raw = part_vals[col]
                if raw is None:  # hive null partition: never prune
                    continue
                v = raw
                # dir values are strings; compare numerically when the
                # bound is numeric (a Decimal bound parses the text
                # itself, in overlaps)
                if isinstance(lo, (int, float)) or isinstance(
                    hi, (int, float)
                ):
                    try:
                        v = float(raw)
                    except (TypeError, ValueError):
                        pass
                if not overlaps(v, v, lo, hi):
                    return False
                continue
            st = stats.get(col)
            if st is None:
                continue
            # an ALL-NULL file (nulls == rows) cannot hold a row
            # satisfying ANY comparison — SQL null comparisons exclude
            # the row — even when min/max are absent
            if len(st) >= 4 and st[2] is not None and st[2] == st[3]:
                return False
            if col in self._nan_lo_phys:
                lo = None
            if not overlaps(st[0], st[1], lo, hi):
                return False
        return True


# ---------------------------------------------------------------------------
# the bloom sidecar: sizing, hash, build kernel, probe
# ---------------------------------------------------------------------------
def _bloom_params(n: int, fpp: float) -> tuple[int, int]:
    """Classic bloom sizing: bits m = -n ln p / (ln 2)^2, hashes
    k = (m/n) ln 2; m rounded up to a whole byte, both floored at
    sane minimums so degenerate inputs (empty file) stay valid."""
    n = max(1, int(n))
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = max(64, (m + 7) // 8 * 8)
    k = max(1, int(round(m / n * math.log(2))))
    return m, min(k, 16)


def _bloom_positions(val: str, m: int, k: int) -> list[int]:
    """The k bit positions of ``val`` via double hashing over the two
    64-bit halves of md5(utf-8). md5 is engine-independent and stable
    across Python/JVM versions — build (executor-side) and probe
    (driver-side) both call THIS function, so there is no
    JVM-vs-Python hash-parity hazard. h2 is forced odd so the stride
    cycles the whole table."""
    d = hashlib.md5(val.encode("utf-8")).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1
    return [(h1 + i * h2) % m for i in range(k)]


#: the sidecar's columns, one row per (data file, indexed column);
#: Spark DDL in :data:`BLOOM_SCHEMA`
_BLOOM_COLS = (
    ("file", "string"),
    ("col", "string"),
    ("m", "long"),
    ("k", "long"),
    ("n", "long"),
    ("bits", "binary"),
)
BLOOM_SCHEMA = ", ".join(f"{c} {t}" for c, t in _BLOOM_COLS)
#: keys hashed per numpy block: bounds the kernel's temporaries
_BLOOM_BLOCK = 1 << 16


def binary_spans(arr) -> "tuple[memoryview, numpy.ndarray]":
    """The data buffer of a pyarrow string or binary array (either
    offset width) as a ``memoryview``, and the int64 numpy offsets of
    the array's elements in it: element i is ``data[offs[i]:offs[i +
    1]]``. A NULL slot spans whatever its offsets say: drop or fill
    NULLs first."""
    import numpy as np
    import pyarrow as pa

    wide = pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type)
    _, offsets, data = arr.buffers()
    offs = np.frombuffer(offsets, np.int64 if wide else np.int32)
    offs = offs[arr.offset : arr.offset + len(arr) + 1].astype(np.int64)
    return memoryview(data if data is not None else b""), offs


def md5_spans(data: memoryview, starts, ends) -> bytes:
    """The md5 digest of each span ``data[s:e]``, concatenated in span
    order, 16 bytes each. Each span hashes by its raw bytes through a
    ``memoryview`` slice, so no span becomes a Python ``bytes`` object
    and a non-UTF-8 string hashes as stored. With
    :func:`binary_spans`, the md5 of every element of an Arrow array;
    the dedup kernels pass the spans of tokens and shingles inside the
    text buffer."""
    md5 = hashlib.md5
    return b"".join(
        [md5(data[a:b]).digest() for a, b in zip(starts.tolist(), ends.tolist())]
    )


def _bloom_of(keys, fpp: float) -> "tuple[int, int, int, bytes] | None":
    """``(m, k, n, bits)`` of one bloom over a pyarrow (chunked) array
    of keys, NULLs and repeats allowed; None when no key is set. Keys
    render as Spark's ``CAST(col AS STRING)`` does (integral values by
    an Arrow cast to string) and hash by their raw bytes, so a
    non-UTF-8 string is indexed too; a ``str`` probe encodes to valid
    UTF-8, so it never matches one. Sets the bits
    :func:`_bloom_positions` probes, ``(h1 + i*h2) mod m``, computed as
    ``(h1 mod m + i*(h2 mod m)) mod m`` in uint64 (no overflow for
    k <= 16)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    vals = pc.unique(keys.drop_null())
    if not len(vals):
        return None
    if pa.types.is_integer(vals.type):
        vals = vals.cast(pa.string())
    m, k = _bloom_params(len(vals), fpp)
    mm = np.uint64(m)
    steps = np.arange(k, dtype=np.uint64)
    seen = np.zeros(m, dtype=bool)
    for i in range(0, len(vals), _BLOOM_BLOCK):
        data, offs = binary_spans(vals.slice(i, _BLOOM_BLOCK))
        d = md5_spans(data, offs[:-1], offs[1:])
        h = np.frombuffer(d, dtype="<u8").reshape(-1, 2)
        h1 = h[:, 0] % mm
        h2 = (h[:, 1] | np.uint64(1)) % mm
        seen[(h1[:, None] + steps * h2[:, None]) % mm] = True
    return m, k, len(vals), np.packbits(seen, bitorder="little").tobytes()


def bloom_rows(paths: list[str], cols: list[str], fpp: float, base: str):
    """The one bloom kernel: the sidecar rows of the data files
    ``paths`` as a pyarrow table of :data:`BLOOM_SCHEMA`, each keyed by
    its file's path relative to the snapshot dir ``base``. Per file it
    reads only the indexed ``cols`` and builds one :func:`_bloom_of`
    per column; a column with no key in a file (all NULL, or absent)
    gets no row, and the probe keeps a file it has no row for. The
    commit-time build runs it in the driver or inside Spark tasks, so
    it imports no pandas."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = []
    for p in paths:
        pf = pq.ParquetFile(p)
        have = [c for c in cols if c in pf.schema_arrow.names]
        tbl = pf.read(columns=have)
        for c in have:
            got = _bloom_of(tbl.column(c), fpp)
            if got is not None:
                rows.append((os.path.relpath(p, base), c) + got)
    arrow = {"string": pa.string(), "long": pa.int64(), "binary": pa.binary()}
    schema = pa.schema([(c, arrow[t]) for c, t in _BLOOM_COLS])
    return pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=schema
    )


def _bloom_key(value) -> str:
    """Canonical probe encoding: must match Spark's CAST(col AS STRING)
    for the column types the index supports (integral + string)."""
    if isinstance(value, bool) or not isinstance(value, (int, str)):
        raise TypeError(
            f"bloom point lookup supports integral and string values "
            f"(got {type(value).__name__}): other types' Python str() "
            f"need not match Spark's CAST AS STRING"
        )
    return str(value)


def bloom_indexed(snap: str, entry: dict, col: str) -> bool:
    """Does the snapshot's bloom sidecar index LOGICAL column ``col``
    soundly? The sidecar keys are CAST(col AS STRING), so only
    integral/string columns probe with str(value) — a legacy sidecar
    over a double column (committed before ``bloom_by`` validated
    types) would hash "5" against build keys "5.0", a false negative."""
    phys = (entry.get("column_map") or {}).get(col, col)
    return (
        phys in ((entry.get("bloom") or {}).get("cols") or [])
        and column_types(entry).get(col) in BLOOMABLE_TYPES
        and os.path.isdir(os.path.join(snap, BLOOM_DIR))
    )


def _bloom_tier(snap: str, entry: dict, types: dict, disjuncts) -> set:
    """RELATIVE paths of data files whose bloom proves that NONE of some
    equality point set's values occur in the indexed column — the tier
    that lets a point lookup on a high-cardinality, non-bucket,
    non-dir column touch O(1) files where wide min/max envelopes keep
    everything. Driver-side only: the sidecar is tiny metadata.
    Conservative everywhere: no sidecar / unindexed or unbloomable
    column (``types``: physical column -> Spark type) / a point the
    bloom key cannot canonicalize / a file missing from the sidecar
    all keep the file. DNF: a file is rejected only when EVERY
    conjunct's bloom evidence rejects it, and a conjunct with no
    probeable point vetoes the whole prune."""
    indexed = set((entry.get("bloom") or {}).get("cols") or [])
    per_conj: list[dict[str, list[str]]] = []
    for conj in disjuncts:
        keys: dict[str, list[str]] = {}
        for c, pts in conj.point_sets.items():
            if c not in indexed or types.get(c) not in BLOOMABLE_TYPES:
                continue
            try:
                keys[c] = [_bloom_key(p) for p in pts]
            except TypeError:
                continue  # uncanonicalizable point type: no prune
        if not keys:
            return set()  # this conjunct can match any file
        per_conj.append(keys)
    if not per_conj:
        return set()
    import pyarrow.parquet as pq

    try:
        tbl = pq.read_table(os.path.join(snap, BLOOM_DIR))
    except (FileNotFoundError, OSError):
        return set()
    rows = list(
        zip(
            *(
                tbl.column(c).to_pylist()
                for c in ("file", "col", "m", "k", "bits")
            )
        )
    )
    rejected: set[str] | None = None
    for keys in per_conj:
        rej = {
            fn
            for fn, c, m, k, bits in rows
            if c in keys
            and not any(
                all(
                    bits[pos >> 3] & (1 << (pos & 7))
                    for pos in _bloom_positions(key, m, k)
                )
                for key in keys[c]
            )
        }
        rejected = rej if rejected is None else rejected & rej
        if not rejected:
            return set()
    return rejected or set()


def _bucket_tier(entry: dict, types: dict, disjuncts) -> "set[int] | None":
    """Bucket ids that can satisfy the equality points on a clustered
    snapshot's bucket column; None = no pruning (not clustered, a
    conjunct that does not pin the bucket column, or a (value, type)
    pair the driver-side hash doesn't cover). Clustered tables refuse
    renames, so the bucket column's logical name is its physical one."""
    col = (entry.get("bucket") or {}).get("col")
    n = int((entry.get("bucket") or {}).get("n") or 0)
    if not col or n <= 0 or types.get(col) is None:
        return None
    from ..functions.bucket_hash import bucket_id

    ids: set[int] = set()
    for conj in disjuncts:
        pts = conj.point_sets.get(col)
        if not pts:
            return None
        for p in pts:
            b = bucket_id(p, types[col], n)
            if b is None:
                return None  # one unhashable point: no prune
            ids.add(b)
    return ids


# ---------------------------------------------------------------------------
# the one decision
# ---------------------------------------------------------------------------
def kept_files(snap: str, entry: dict, disjuncts) -> tuple[list[str], int]:
    """``(kept, total)``: the snapshot's data files (absolute paths)
    that may hold a row satisfying the OR of ``disjuncts`` (a list of
    :func:`conjunct` results; empty = no predicate, keep all), and
    the snapshot's total data-file count. Tiers, in order: hive dirs
    and commit-log stats (per conjunct), the bucket layout, the bloom
    sidecar. Each snapshot file prunes by ITS path — on an evolved
    snapshot the same predicate dir-prunes one spec's files and
    stats-skips another's."""
    files = data_files(snap)
    if not disjuncts:
        return files, len(files)
    cmap = entry.get("column_map") or {}
    types = {cmap.get(n, n): t for n, t in column_types(entry).items()}
    floats = {c for c, t in types.items() if t in ("float", "double")}
    stats = entry.get("file_stats") or {}
    buckets = _bucket_tier(entry, types, disjuncts)
    if buckets is not None:
        from ..functions.bucket_hash import file_bucket_id
    rejected = _bloom_tier(snap, entry, types, disjuncts)
    kept = []
    for f in files:
        rel = os.path.relpath(f, snap)
        pv = partition_values(f, snap)
        st = stats.get(rel) or {}
        if not any(c.keep_file(pv, st, types, floats) for c in disjuncts):
            continue
        if buckets is not None:
            # a clustered data file without a parseable bucket id
            # violates the layout contract — keep it
            fb = file_bucket_id(os.path.basename(f))
            if fb is not None and fb not in buckets:
                continue
        if rel in rejected:
            continue
        kept.append(f)
    return kept, len(files)
