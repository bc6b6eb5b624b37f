"""SQL statement front door for snapshot DML / DDL / maintenance.

The reference warehouse's entire user surface is typed SQL — analysts
submit statements to Redshift (reference: README.md:77, the "Queries"
section; dags/sql/*.sql). This engine's SELECT surface already is
plain ``spark.sql`` over views registered by ``snapshot_register``;
this module closes the remaining parity gap so the WRITE surface is
SQL too: ``DELETE`` / ``UPDATE`` / ``MERGE INTO`` / ``ALTER TABLE`` /
``VACUUM`` / ``DESCRIBE HISTORY`` / ``RESTORE`` / ``OPTIMIZE`` /
``SHOW TBLPROPERTIES`` statements against registered snapshot tables
dispatch to the engine's native manifest-commit functions — same
semantics, same conflict detection, same O(change) write costs.

Spark-first rationale: pure PySpark cannot plug a DataSourceV2
catalog with DML support into a session (that needs a JVM-side
TableCatalog class on the classpath), so the dispatcher sits IN FRONT
of ``spark.sql``: statements the grammar recognizes route to the
engine; everything else — SELECTs, CTEs, EXPLAIN, SHOW, catalog DDL —
passes through to ``spark.sql`` untouched. One front door runs the
whole surface.

The DML grammar is deliberately the restricted shape the engine
executes efficiently at 100 TB (conjunctions of ``col = lit``,
``col IN (...)``, and — the retention/TTL/GDPR sweep — ``col <  <=
>  >=  BETWEEN`` ranges: the forms manifest stats can plan
metadata-only, see ``snapshot_delete`` and ``Range``); anything
outside it fails LOUDLY with the supported form in the message, never
a silent fallback that would scan-and-rewrite the table. MERGE maps
to the equality-delete upsert (``snapshot_append_upsert``) — zero
reads of the target at any table size — and keyed MERGE-DELETE to
``snapshot_delete_keys`` (zero reads AND zero data writes beyond the
key sidecar).

After a successful mutation the front door re-registers every
non-pinned view of the mutated path at the new head, so a follow-up
``SELECT`` through the same session sees the committed state —
version-pinned (time travel) registrations stay pinned and REFUSE to
be mutation targets.
"""

from __future__ import annotations

import hashlib
import re
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from .snapshots import _SQL_REGISTRY

__all__ = ["snapshot_sql", "SqlFrontError"]


class SqlFrontError(ValueError):
    """A statement the snapshot front door owns but cannot execute —
    always carries the supported grammar so the failure is actionable."""


_GRAMMAR = """supported snapshot statements:
  DELETE FROM t WHERE col = lit [AND col IN (lit, ...)] ...
  UPDATE t SET col = lit | expr(other cols) [, ...] WHERE <predicates>
      (expression RHS sees the PRE-update row image: SET a = b, b = a
       swaps; SET email = sha2(email, 256) redacts)
  MERGE INTO t [AS a] USING src|(SELECT ...) [AS b] ON a.k = b.k [AND ...]
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
    | WHEN MATCHED THEN DELETE
  ALTER TABLE t ADD COLUMN name type [DEFAULT lit]
  ALTER TABLE t DROP COLUMN name
  ALTER TABLE t RENAME COLUMN old TO new
  ALTER TABLE t ALTER COLUMN name TYPE type
  ALTER TABLE t SET TBLPROPERTIES ('k' = 'v', ...)
  ALTER TABLE t UNSET TBLPROPERTIES ('k', ...)
  ALTER TABLE t ADD CONSTRAINT name CHECK (expr)
  ALTER TABLE t DROP CONSTRAINT name
  ALTER TABLE t ADD PARTITION FIELD col | DROP PARTITION FIELD col
  ALTER TABLE t SET PARTITIONING (col, ...)    -- () = unpartitioned
  INSERT INTO t [(col, ...)] VALUES (lit, ...), ... | SELECT ...
  INSERT OVERWRITE t SELECT ... | VALUES ...
  CREATE TABLE name LOCATION 'path' [PARTITIONED BY (col, ...)] AS SELECT ...
  CREATE TABLE 'path' [PARTITIONED BY (col, ...)] AS SELECT ...
  ALTER TABLE t CREATE BRANCH b [AS OF VERSION n]
  ALTER TABLE t DROP BRANCH b [RECLAIM]
  ALTER TABLE t PUBLISH BRANCH b [FORCE]   -- WAP fast-forward
  ALTER TABLE t CREATE TAG g [AS OF VERSION n] | DROP TAG g
  SHOW BRANCHES t | SHOW TAGS t
      (branch DML/reads: quote the ref as the table path — 'path#b' —
       or snapshot_register it as a view)
  VACUUM t [RETAIN n HOURS]
  SELECT ... FROM t VERSION AS OF n | TIMESTAMP AS OF 'ts' (time travel)
  DESCRIBE HISTORY t
  RESTORE [TABLE] t TO VERSION AS OF n | TO TIMESTAMP AS OF 'ts'
  OPTIMIZE t
  SHOW TBLPROPERTIES t
  SHOW PARTITIONS t
(t = a name registered via snapshot_register, or a quoted table path;
 predicates are any AND / OR / NOT / parenthesized combination of
 col = lit / col != lit / col <> lit / col IN (...) /
 col NOT IN (...) / col < <= > >= lit / col [NOT] BETWEEN a AND b /
 col IS [NOT] NULL — lowered to a union of conjunctive branches the
 engine plans from manifest stats without scanning)"""


def _fail(msg: str, stmt: str) -> None:
    raise SqlFrontError(
        f"unsupported SQL for the snapshot front door: {msg}\n"
        f"statement: {stmt}\n{_GRAMMAR}"
    )


# ---------------------------------------------------------------- lexer

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<string>'(?:[^']|'')*')
      | (?P<num>[-+]?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
      | (?P<bq>`[^`]+`)
      | (?P<word>[A-Za-z_][A-Za-z_0-9$.]*)
      | (?P<punct>[(),=.*;])
      | (?P<other>\S)
    )""",
    re.X,
)
# ``other`` catches characters the restricted grammar does not model
# (<, >, +, ||, ...). They lex — so raw-sliced regions (CHECK
# expressions, type strings like array<double>) pass through verbatim
# and ownership probes never crash — but no parser rule accepts them,
# so a comparison like ``WHERE a > 3`` fails with the friendly
# "unsupported predicate" message instead of a lexer error.


class _Tok:
    __slots__ = ("kind", "text", "start", "end")

    def __init__(self, kind, text, start, end):
        self.kind, self.text, self.start, self.end = kind, text, start, end


def _tokenize(sql: str) -> list[_Tok]:
    toks, pos = [], 0
    while pos < len(sql):
        m = _TOKEN_RE.match(sql, pos)
        if m is None:
            if sql[pos:].strip() == "":
                break
            raise SqlFrontError(
                f"cannot tokenize statement at offset {pos}: "
                f"{sql[pos:pos + 20]!r}"
            )
        pos = m.end()
        for kind in ("string", "num", "bq", "word", "punct", "other"):
            text = m.group(kind)
            if text is not None:
                toks.append(_Tok(kind, text, m.start(kind), m.end(kind)))
                break
    return toks


class _Parser:
    def __init__(self, stmt: str):
        self.raw = stmt
        self.toks = _tokenize(stmt)
        self.i = 0

    def done(self) -> bool:
        while (
            self.i < len(self.toks)
            and self.toks[self.i].kind == "punct"
            and self.toks[self.i].text == ";"
        ):
            self.i += 1
        return self.i >= len(self.toks)

    def peek(self, k: int = 0) -> _Tok | None:
        j = self.i + k
        return self.toks[j] if j < len(self.toks) else None

    def kw(self, *words: str) -> bool:
        """Consume the case-insensitive keyword sequence if present."""
        for k, w in enumerate(words):
            t = self.peek(k)
            if t is None or t.kind != "word" or t.text.upper() != w:
                return False
        self.i += len(words)
        return True

    def expect_kw(self, *words: str) -> None:
        if not self.kw(*words):
            t = self.peek()
            _fail(
                f"expected {' '.join(words)}, got "
                f"{t.text if t else 'end of statement'!r}",
                self.raw,
            )

    def punct(self, ch: str) -> bool:
        t = self.peek()
        if t is not None and t.kind == "punct" and t.text == ch:
            self.i += 1
            return True
        return False

    def expect_punct(self, ch: str) -> None:
        if not self.punct(ch):
            t = self.peek()
            _fail(
                f"expected {ch!r}, got "
                f"{t.text if t else 'end of statement'!r}",
                self.raw,
            )

    def ident(self) -> str:
        t = self.peek()
        if t is None:
            _fail("expected an identifier, got end of statement", self.raw)
        if t.kind == "bq":
            self.i += 1
            return t.text[1:-1]
        if t.kind == "word":
            self.i += 1
            return t.text
        _fail(f"expected an identifier, got {t.text!r}", self.raw)

    def table_token(self) -> tuple[str, str]:
        """(kind, text) — a table reference: identifier, backquoted
        path, or single-quoted path."""
        t = self.peek()
        if t is None:
            _fail("expected a table name, got end of statement", self.raw)
        if t.kind == "string":
            self.i += 1
            return "path", _unquote(t.text)
        if t.kind == "bq":
            self.i += 1
            txt = t.text[1:-1]
            return ("path" if _looks_like_path(txt) else "name", txt)
        if t.kind == "word":
            self.i += 1
            return "name", t.text
        _fail(f"expected a table name, got {t.text!r}", self.raw)

    def literal(self):
        t = self.peek()
        if t is None:
            _fail("expected a literal, got end of statement", self.raw)
        if t.kind == "string":
            self.i += 1
            return _unquote(t.text)
        if t.kind == "num":
            self.i += 1
            txt = t.text
            return (
                float(txt)
                if ("." in txt or "e" in txt or "E" in txt)
                else int(txt)
            )
        if t.kind == "word":
            up = t.text.upper()
            if up == "TRUE":
                self.i += 1
                return True
            if up == "FALSE":
                self.i += 1
                return False
            if up == "NULL":
                self.i += 1
                return None
        _fail(
            f"expected a literal (string/number/TRUE/FALSE/NULL), got "
            f"{t.text!r}",
            self.raw,
        )

    def rest_raw(self, stop_kw: str | None = None) -> str:
        """The RAW statement text from the current token to the end —
        or to ``stop_kw`` (word token) if present — consumed. Used for
        type strings (``decimal(10,2)``, ``array<double>``) whose
        characters the restricted lexer does not model."""
        if self.i >= len(self.toks):
            return ""
        start = self.toks[self.i].start
        stop_at = None
        if stop_kw is not None:
            for j in range(self.i, len(self.toks)):
                t = self.toks[j]
                if t.kind == "word" and t.text.upper() == stop_kw:
                    stop_at = j
                    break
        if stop_at is None:
            self.i = len(self.toks)
            out = self.raw[start:]
        else:
            out = self.raw[start : self.toks[stop_at].start]
            self.i = stop_at
        return out.strip().rstrip(";").strip()

    def end(self) -> None:
        if not self.done():
            t = self.peek()
            _fail(f"unexpected trailing input at {t.text!r}", self.raw)


def _unquote(s: str) -> str:
    return s[1:-1].replace("''", "'")


def _looks_like_path(s: str) -> bool:
    return "/" in s or s.startswith("file:") or s.startswith("s3:")


# ---------------------------------------------------------- resolution


def _resolve_table(
    spark, kind: str, text: str, stmt: str
) -> tuple[str, bool]:
    """→ (table_path, registered). A name the in-memory registry
    doesn't know falls back to the DURABLE catalog
    (``namecatalog`` — one small read, registered on the spot), so a
    fresh session/CLI invocation resolves ``DELETE FROM trips`` with
    no flags. Loud error when the name resolves to a PINNED
    registration (mutating through a time-travel view would silently
    target the head while the reader sees the past)."""
    if kind == "path" or _looks_like_path(text):
        return text, False
    rec = (
        _SQL_REGISTRY.get(text.lower())
        if _known_name(spark, text)
        else None
    )
    if rec is None:
        known = sorted(
            k for k, r in _SQL_REGISTRY.items() if not r.get("ephemeral")
        ) or ["<none>"]
        _fail(
            f"table {text!r} is not a registered snapshot table "
            f"(registered: {', '.join(known)}); register with "
            "snapshot_register or pass a quoted table path",
            stmt,
        )
    if rec["pinned"]:
        _fail(
            f"view {text!r} is pinned to an old version / timestamp / "
            "partition scope — refusing to mutate the table head "
            "through a time-travel view; register an unpinned name",
            stmt,
        )
    return rec["path"], True


def _resolve_table_read(
    spark, kind: str, text: str, stmt: str
) -> tuple[str, int | None]:
    """Resolution for PURE READ statements (DESCRIBE HISTORY, SHOW
    PARTITIONS/TBLPROPERTIES): pinned time-travel views are legal
    targets here — a version pin forwards so the surface answers for
    THAT version; a timestamp pin resolves to its version first."""
    if kind == "path" or _looks_like_path(text):
        return text, None
    rec = (
        _SQL_REGISTRY.get(text.lower())
        if _known_name(spark, text)
        else None
    )
    if rec is None:
        known = sorted(
            k for k, r in _SQL_REGISTRY.items() if not r.get("ephemeral")
        ) or ["<none>"]
        _fail(
            f"table {text!r} is not a registered snapshot table "
            f"(registered: {', '.join(known)}); register with "
            "snapshot_register or pass a quoted table path",
            stmt,
        )
    version = rec.get("version")
    if version is None and rec.get("at_timestamp") is not None:
        from .snapshots import snapshot_version_at

        version = snapshot_version_at(
            spark, rec["path"], rec["at_timestamp"]
        )
    return rec["path"], version


def _refresh_views(spark: SparkSession, path: str) -> None:
    """Re-register every non-pinned view of ``path`` at the new head,
    so a SELECT after a front-door mutation sees the committed state
    (pinned registrations keep their version — that is their point)."""
    from .snapshots import snapshot_register

    for rec in list(_SQL_REGISTRY.values()):
        if rec["path"] == path and not rec["pinned"]:
            snapshot_register(spark, path, rec["name"])


# ---------------------------------------------------------- predicates


def _cmp_op(p: _Parser) -> str | None:
    """Consume a comparison operator (< <= > >=) if present. The
    restricted lexer emits '<'/'>' as single ``other`` tokens and '='
    as punct; a two-char op is the ADJACENT pair (no whitespace
    between — offsets prove it), exactly how SQL writes them."""
    t = p.peek()
    if t is None or t.kind != "other" or t.text not in ("<", ">"):
        return None
    nxt = p.peek(1)
    if (
        nxt is not None
        and nxt.kind == "punct"
        and nxt.text == "="
        and nxt.start == t.end
    ):
        p.i += 2
        return t.text + "="
    p.i += 1
    return t.text


def _range_lit(p: _Parser, col: str):
    """A literal bound for a range predicate — NULL refuses loudly
    (``col < NULL`` matches nothing in SQL; almost certainly a typo,
    never what a retention sweep means)."""
    v = p.literal()
    if v is None:
        _fail(
            f"NULL is not a valid range bound for {col!r} "
            "(comparisons with NULL match nothing)",
            p.raw,
        )
    return v


def _cmp_lit(p: _Parser, col: str, x, y) -> int:
    """-1/0/1 ordering of two predicate literals for merge-time
    tightening. The merge is TYPE-BLIND (the column's declared type is
    not in scope at parse time), so timestamp-shaped string literals
    are ordered only when the RAW string order and the canonical
    timestamp order AGREE — against a STRING column Spark compares raw
    ('...12:00:00' < '...T05:00:00' because space < 'T'), against a
    TIMESTAMP column chronologically; picking either blindly would
    keep the looser bound and mutate rows the conjunction excludes.
    Ambiguity and incomparable types refuse loudly."""
    from .snapshots import _stat_norm, _ts_canon

    try:
        rx, ry = _stat_norm(x), _stat_norm(y)
        raw = (rx > ry) - (rx < ry)
        cx = _ts_canon(rx) if isinstance(rx, str) else None
        cy = _ts_canon(ry) if isinstance(ry, str) else None
        if cx is not None or cy is not None:
            ax = cx if cx is not None else rx
            ay = cy if cy is not None else ry
            canon = (ax > ay) - (ax < ay)
            if canon != raw:
                _fail(
                    f"ambiguous literal forms on {col!r}: {x!r} and "
                    f"{y!r} order differently as strings and as "
                    "timestamps — write both bounds in one consistent "
                    "form",
                    p.raw,
                )
        return raw
    except TypeError:
        _fail(
            f"cannot combine the predicates on {col!r} — the literal "
            "types do not compare (mixed string/number bounds?)",
            p.raw,
        )


def _merge_range(p: _Parser, col: str, prev, lo=None, hi=None,
                 lo_inc=True, hi_inc=True):
    """Fold one more bound into what the conjunction already said
    about ``col``: Range ∧ Range tightens endpoints; values ∧ Range
    filters the value set. All literal comparisons go through
    ``_cmp_lit`` (ambiguous/incomparable forms refuse loudly rather
    than guess)."""
    from .snapshots import Range

    new = Range(lo=lo, hi=hi, lo_inc=lo_inc, hi_inc=hi_inc)
    if prev is None:
        return new
    if isinstance(prev, Range):
        lo, lo_inc = prev.lo, prev.lo_inc
        hi, hi_inc = prev.hi, prev.hi_inc
        if new.lo is not None:
            if lo is None:
                lo, lo_inc = new.lo, new.lo_inc
            else:
                c = _cmp_lit(p, col, new.lo, lo)
                if c > 0 or (c == 0 and not new.lo_inc):
                    lo, lo_inc = new.lo, new.lo_inc
        if new.hi is not None:
            if hi is None:
                hi, hi_inc = new.hi, new.hi_inc
            else:
                c = _cmp_lit(p, col, new.hi, hi)
                if c < 0 or (c == 0 and not new.hi_inc):
                    hi, hi_inc = new.hi, new.hi_inc
        return Range(lo=lo, hi=hi, lo_inc=lo_inc, hi_inc=hi_inc)
    # prev is a value list: keep the values inside the new range
    kept = []
    for v in prev:
        if v is None:
            continue  # NULL never matches a range (nor an IN, later)
        ok = True
        if new.lo is not None:
            c = _cmp_lit(p, col, v, new.lo)
            ok = c > 0 or (c == 0 and new.lo_inc)
        if ok and new.hi is not None:
            c = _cmp_lit(p, col, v, new.hi)
            ok = c < 0 or (c == 0 and new.hi_inc)
        if ok:
            kept.append(v)
    return kept


# Boolean predicate grammar → DNF. The WHERE surface is the full
# boolean algebra over the plannable leaves — = / IN / < <= > >= /
# BETWEEN plus their negations (!=, <>, NOT IN, NOT BETWEEN, NOT (...))
# and OR/AND/parentheses — lowered at parse time to disjunctive normal
# form: a list of conjunction dicts the manifest planner executes as a
# UNION of per-branch victim sets (one commit, one residual scan — see
# snapshots._plan). Negations desugar to the range
# forms the planner already proves exactly: ``col != v`` becomes
# ``col < v OR col > v`` (verified equivalent under Spark semantics,
# including NaN, which Spark orders greater than any other double —
# NaN > v is TRUE, matching NaN != v); ``col NOT IN (v1 < ... < vn)``
# becomes the n+1 open intervals between sorted values. Both sides of
# every desugared form share SQL's NULL semantics (a NULL row matches
# neither), so the rewrite is exact, never a relaxation. The DNF
# branch count is capped (a pathological (a1 OR b1) AND ... blowup
# refuses loudly rather than planning 2^n branches).

_DNF_MAX = 64


def _ne_op(p: _Parser) -> bool:
    """Consume ``!=`` or ``<>`` if present — adjacent char pairs, same
    offset proof as ``_cmp_op`` (``< >`` with whitespace between is
    not an operator)."""
    t = p.peek()
    if t is None or t.kind != "other" or t.text not in ("!", "<"):
        return False
    nxt = p.peek(1)
    if t.text == "!":
        if (
            nxt is not None
            and nxt.kind == "punct"
            and nxt.text == "="
            and nxt.start == t.end
        ):
            p.i += 2
            return True
        return False
    if (
        nxt is not None
        and nxt.kind == "other"
        and nxt.text == ">"
        and nxt.start == t.end
    ):
        p.i += 2
        return True
    return False


def _parse_in_list(p: _Parser) -> list:
    p.expect_punct("(")
    vals = [p.literal()]
    while p.punct(","):
        vals.append(p.literal())
    p.expect_punct(")")
    return vals


_RESERVED_PRED_WORDS = ("OR", "AND", "NOT", "WHERE", "BETWEEN", "IN")


def _parse_leaf(p: _Parser) -> tuple:
    """One comparison → an AST leaf: ('in', col, vals) / ('notin',
    col, vals) / ('range', col, {lo, hi, lo_inc, hi_inc}) — or a
    ('not', range) for NOT BETWEEN (the NNF pass lands it)."""
    col = p.ident()
    if col.upper() in _RESERVED_PRED_WORDS:
        _fail(f"expected a column name, got keyword {col.upper()}", p.raw)
    if p.kw("NOT"):
        if p.kw("IN"):
            return ("notin", col, _parse_in_list(p))
        if p.kw("BETWEEN"):
            a = _range_lit(p, col)
            p.expect_kw("AND")
            b = _range_lit(p, col)
            return ("not", ("range", col, dict(lo=a, hi=b)))
        _fail(f"expected IN or BETWEEN after {col} NOT", p.raw)
    if p.kw("IS"):
        neg = p.kw("NOT")
        p.expect_kw("NULL")
        return ("notnull" if neg else "isnull", col)
    if p.kw("IN"):
        return ("in", col, _parse_in_list(p))
    if p.punct("="):
        return ("in", col, [p.literal()])
    if _ne_op(p):
        v = p.literal()
        if v is None:
            _fail(
                f"{col} != NULL matches nothing in SQL — almost "
                "certainly a typo (IS NOT NULL is a different "
                "predicate)",
                p.raw,
            )
        return ("notin", col, [v])
    if p.kw("BETWEEN"):
        # BETWEEN binds its own AND before the conjunction's
        a = _range_lit(p, col)
        p.expect_kw("AND")
        b = _range_lit(p, col)
        return ("range", col, dict(lo=a, hi=b))
    if (op := _cmp_op(p)) is not None:
        lit = _range_lit(p, col)
        kw = {
            "<": dict(hi=lit, hi_inc=False),
            "<=": dict(hi=lit),
            ">": dict(lo=lit, lo_inc=False),
            ">=": dict(lo=lit),
        }[op]
        return ("range", col, kw)
    t = p.peek()
    _fail(
        f"unsupported predicate on {col!r} at "
        f"{t.text if t else 'end of statement'!r} "
        "(col = lit / col != lit / col IN (...) / col NOT IN (...) / "
        "col < <= > >= lit / col [NOT] BETWEEN a AND b / "
        "col IS [NOT] NULL, combined with AND / OR / NOT / "
        "parentheses)",
        p.raw,
    )


def _parse_bool_term(p: _Parser) -> tuple:
    if p.kw("NOT"):
        return ("not", _parse_bool_term(p))
    if p.punct("("):
        e = _parse_bool_or(p)
        p.expect_punct(")")
        return e
    return _parse_leaf(p)


def _parse_bool_and(p: _Parser) -> tuple:
    terms = [_parse_bool_term(p)]
    while p.kw("AND"):
        terms.append(_parse_bool_term(p))
    return terms[0] if len(terms) == 1 else ("and", terms)


def _parse_bool_or(p: _Parser) -> tuple:
    terms = [_parse_bool_and(p)]
    while p.kw("OR"):
        terms.append(_parse_bool_and(p))
    return terms[0] if len(terms) == 1 else ("or", terms)


def _nnf(node: tuple, neg: bool = False) -> tuple:
    """Push negations to the leaves (De Morgan) — leaf negation under
    WHERE-match semantics (a NULL row matches NEITHER a predicate nor
    its negation, so complementing the operator is exact): NOT(in) →
    notin; NOT(range) → the complementary open rays."""
    k = node[0]
    if k == "not":
        return _nnf(node[1], not neg)
    if k in ("and", "or"):
        kk = k if not neg else ("or" if k == "and" else "and")
        return (kk, [_nnf(c, neg) for c in node[1]])
    if not neg:
        return node
    if k == "in":
        return ("notin", node[1], node[2])
    if k == "notin":
        return ("in", node[1], node[2])
    if k == "isnull":
        return ("notnull", node[1])
    if k == "notnull":
        return ("isnull", node[1])
    col, kw = node[1], node[2]
    rays = []
    if kw.get("lo") is not None:
        rays.append(
            ("range", col,
             dict(hi=kw["lo"], hi_inc=not kw.get("lo_inc", True)))
        )
    if kw.get("hi") is not None:
        rays.append(
            ("range", col,
             dict(lo=kw["hi"], lo_inc=not kw.get("hi_inc", True)))
        )
    return ("or", rays)


def _expand_notin(p: _Parser, node: tuple) -> tuple:
    """Desugar every notin leaf to plannable forms: boolean values
    complement within the two-value domain (b != TRUE ≡ b = FALSE —
    Spark refuses bool-vs-non-bool comparisons outright, so the
    rewrite can never silently retype); ordered values become the
    sorted gaps ``(-inf,v1) ∪ (v1,v2) ∪ ... ∪ (vn,+inf)``. Literal
    ordering goes through ``_cmp_lit`` — mixed types and ambiguous
    timestamp-string forms refuse loudly, never a guessed order."""
    import functools

    k = node[0]
    if k in ("and", "or"):
        return (k, [_expand_notin(p, c) for c in node[1]])
    if k != "notin":
        return node
    col, vals = node[1], node[2]
    if any(v is None for v in vals):
        _fail(
            f"{col} NOT IN (...) with a NULL literal matches nothing "
            "in SQL — almost certainly a typo",
            p.raw,
        )
    bools = [v for v in vals if isinstance(v, bool)]
    if bools:
        if len(bools) != len(vals):
            _fail(
                f"NOT IN on {col!r} mixes boolean and non-boolean "
                "literals — no column type compares against both",
                p.raw,
            )
        s = set(vals)
        if s == {True, False}:
            return ("or", [])  # neither boolean survives: matches nothing
        return ("in", col, [not next(iter(s))])
    vs = sorted(
        vals, key=functools.cmp_to_key(lambda a, b: _cmp_lit(p, col, a, b))
    )
    uniq = [vs[0]]
    for v in vs[1:]:
        if _cmp_lit(p, col, v, uniq[-1]) != 0:
            uniq.append(v)
    branches: list = [("range", col, dict(hi=uniq[0], hi_inc=False))]
    for a, b in zip(uniq, uniq[1:]):
        branches.append(
            ("range", col, dict(lo=a, lo_inc=False, hi=b, hi_inc=False))
        )
    branches.append(("range", col, dict(lo=uniq[-1], lo_inc=False)))
    return ("or", branches)


def _to_dnf(p: _Parser, node: tuple) -> list[list[tuple]]:
    """Distribute to disjunctive normal form: a list of branches, each
    a list of in/range leaves. Branch count capped at ``_DNF_MAX`` —
    the planner unions per-branch victim sets, and an exponential
    blowup should refuse at parse time, not stall a 100 TB plan."""
    k = node[0]
    if k == "or":
        out: list = []
        for c in node[1]:
            out.extend(_to_dnf(p, c))
            if len(out) > _DNF_MAX:
                _fail(
                    f"predicate expands to more than {_DNF_MAX} OR "
                    "branches — simplify the condition",
                    p.raw,
                )
        return out
    if k == "and":
        prod: list = [[]]
        for c in node[1]:
            nxt: list = []
            for right in _to_dnf(p, c):
                for left in prod:
                    nxt.append(left + right)
                    if len(nxt) > _DNF_MAX * len(prod):
                        break
            prod = nxt
            if len(prod) > _DNF_MAX:
                _fail(
                    f"predicate expands to more than {_DNF_MAX} OR "
                    "branches — simplify the condition",
                    p.raw,
                )
        return prod
    return [[node]]


def _fold_branch(p: _Parser, leaves: list[tuple]) -> dict:
    """One DNF branch → the planner's {col: values | Range} dict, with
    same-column constraints merged exactly as the conjunctive grammar
    always did (ranges tighten; value sets intersect; values filter
    through ranges)."""
    from .snapshots import IS_NOT_NULL, IS_NULL, Range, _NullTest

    def merge_range(col, prev, **kw):
        # a planner value-type refusal (e.g. Range rejecting a bool or
        # NaN bound) must surface as THIS front door's error, with the
        # statement and the supported grammar — and the SELECT fast
        # path catches it and falls back to spark.sql
        try:
            return _merge_range(p, col, prev, **kw)
        except SqlFrontError:
            raise
        except ValueError as e:
            _fail(str(e), p.raw)

    preds: dict = {}
    for leaf in leaves:
        if leaf[0] in ("isnull", "notnull"):
            col = leaf[1]
            want = IS_NULL if leaf[0] == "isnull" else IS_NOT_NULL
            prev = preds.get(col)
            if prev is None:
                preds[col] = want
            elif isinstance(prev, _NullTest):
                # IS NULL ∧ IS NOT NULL: contradiction — empty branch
                preds[col] = prev if prev == want else []
            elif want is IS_NOT_NULL:
                pass  # ranges/values already imply NOT NULL
            else:
                preds[col] = []  # IS NULL ∧ range/values: impossible
            continue
        if leaf[0] == "range":
            col, kw = leaf[1], leaf[2]
            prev = preds.get(col)
            if isinstance(prev, _NullTest):
                if prev == IS_NULL:
                    preds[col] = []  # NULL never matches a range
                    continue
                prev = None  # NOT NULL is implied by the range
            preds[col] = merge_range(col, prev, **kw)
            continue
        col, vals = leaf[1], leaf[2]
        prev = preds.get(col)
        if isinstance(prev, _NullTest):
            if prev == IS_NULL:
                preds[col] = []  # NULL never matches an IN list
            else:
                preds[col] = list(vals)
            continue
        if isinstance(prev, Range):
            # range ∧ values → filter the values by the range
            preds[col] = merge_range(
                col, vals, lo=prev.lo, hi=prev.hi,
                lo_inc=prev.lo_inc, hi_inc=prev.hi_inc,
            )
        elif prev is not None:
            # same column twice → value-set intersection
            preds[col] = [v for v in prev if v in vals]
        else:
            preds[col] = list(vals)
    return preds


def _branch_key(d: dict):
    from .snapshots import Range, _NullTest

    def vk(v):
        if isinstance(v, Range):
            return ("R",) + v._key()
        if isinstance(v, _NullTest):
            return ("N", v.negate)
        return ("V", tuple(repr(x) for x in v))

    return tuple((c, vk(d[c])) for c in sorted(d))


def _parse_predicates(p: _Parser) -> dict | list:
    """Full WHERE parse → the planner predicate: a single {col:
    values | Range} dict for a plain conjunction (every existing
    caller and fast path unchanged), or a LIST of such dicts (DNF)
    when the condition contains OR / a negation that desugars to
    one."""
    tree = _parse_bool_or(p)
    expanded = _expand_notin(p, _nnf(tree))
    branches = []
    seen = set()
    for leaves in _to_dnf(p, expanded):
        b = _fold_branch(p, leaves)
        if not b:
            _fail(
                "predicate is trivially true — refusing an unscoped "
                "full-table mutation",
                p.raw,
            )
        k = _branch_key(b)
        if k not in seen:
            seen.add(k)
            branches.append(b)
    if not branches:
        # e.g. ``b NOT IN (TRUE, FALSE)`` — provably matches nothing;
        # executors treat [] as the no-op it is (same as an emptied
        # IN list: current version, zero rows affected)
        return []
    return branches[0] if len(branches) == 1 else branches


def _one_row(spark: SparkSession, schema: str, row: tuple) -> DataFrame:
    """A statement's one-row result (DML counts, ALTER/OPTIMIZE
    outcomes) as a ``local_frame``: collecting it runs no Spark job."""
    return local_frame(spark, [row], schema)


# ---------------------------------------------------------- executors


def _exec_delete(spark, p: _Parser, stmt: str, mode: str) -> DataFrame:
    from .snapshots import _manifest_at, snapshot_delete

    p.expect_kw("FROM")
    kind, text = p.table_token()
    path, _ = _resolve_table(spark, kind, text, stmt)
    if not p.kw("WHERE"):
        _fail(
            "DELETE without WHERE (full-table delete) refuses — "
            "state the predicate, or drop partitions explicitly",
            stmt,
        )
    preds = _parse_predicates(p)
    p.end()
    if preds == []:  # provably matches nothing: no-op, no commit
        v, n = _manifest_at(path)[0], 0
    else:
        v, n = snapshot_delete(spark, path, preds, mode=mode)
        _refresh_views(spark, path)
    return _one_row(
        spark, "version bigint, num_affected_rows bigint", (v, n)
    )


class _RawExpr:
    """A SET right-hand side that is an EXPRESSION, not a literal —
    the raw statement slice, resolved against the table schema at
    execution (``SET email = sha2(email, 256)``, the SQL spelling of
    the Python API's expression-valued redaction)."""

    __slots__ = ("sql",)

    def __init__(self, sql: str):
        self.sql = sql


def _parse_set_rhs(p: _Parser):
    """One SET value: a plain literal when the next token IS a
    complete literal (followed by ',' / WHERE / end), else the raw
    expression slice to the next top-level ',' or WHERE — paren depth
    tracked so ``coalesce(a, b)``'s comma doesn't split, and string
    tokens keep a literal 'where' inside quotes from ending the
    slice."""
    save = p.i
    try:
        v = p.literal()
        nxt = p.peek()
        if (
            nxt is None
            or (nxt.kind == "punct" and nxt.text in (",", ";"))
            or (nxt.kind == "word" and nxt.text.upper() == "WHERE")
        ):
            return v
    except SqlFrontError:
        pass
    p.i = save
    start = p.peek()
    if start is None:
        _fail("expected a SET value, got end of statement", p.raw)
    depth = 0
    j = p.i
    stop = None
    while j < len(p.toks):
        t = p.toks[j]
        if t.kind == "punct" and t.text == "(":
            depth += 1
        elif t.kind == "punct" and t.text == ")":
            depth -= 1
        elif depth == 0 and (
            (t.kind == "punct" and t.text in (",", ";"))
            or (t.kind == "word" and t.text.upper() == "WHERE")
        ):
            stop = j
            break
        j += 1
    end_off = p.toks[stop].start if stop is not None else len(p.raw)
    sql = p.raw[start.start:end_off].strip()
    if not sql:
        _fail("empty SET expression", p.raw)
    p.i = stop if stop is not None else len(p.toks)
    return _RawExpr(sql)


def _exec_update(spark, p: _Parser, stmt: str, mode: str) -> DataFrame:
    from .snapshots import _manifest_at, snapshot_update

    kind, text = p.table_token()
    path, _ = _resolve_table(spark, kind, text, stmt)
    p.expect_kw("SET")
    set_values: dict = {}
    while True:
        col = p.ident()
        p.expect_punct("=")
        set_values[col] = _parse_set_rhs(p)
        if not p.punct(","):
            break
    if not p.kw("WHERE"):
        _fail(
            "UPDATE without WHERE (full-table update) refuses — "
            "state the predicate",
            stmt,
        )
    preds = _parse_predicates(p)
    p.end()
    raw = {c: v for c, v in set_values.items() if isinstance(v, _RawExpr)}
    if raw:
        # analyze every expression against the TABLE schema before
        # committing anything — unresolvable expressions refuse with
        # the statement, never a half-applied update. The probe is ONE
        # manifest load + an empty local DataFrame (analysis is eager
        # at select()) — never a scan plan, whose driver cost grows
        # with file count. Execution semantics are the engine's
        # pre-update-image rule: every RHS sees the row as it was
        # BEFORE the update (snapshot_update builds one select), so
        # SET a = b, b = a swaps.
        from pyspark.sql.types import StructType

        probe = local_frame(
            spark,
            [],
            StructType.fromJson(_manifest_at(path)[1]["schema"]),
        )
        for c, e in raw.items():
            try:
                probe.select(F.expr(e.sql).alias(c))
            except Exception as ex:
                _fail(
                    f"SET {c} = {e.sql} does not resolve against the "
                    f"table schema: {ex}",
                    stmt,
                )
            set_values[c] = F.expr(e.sql)
    if preds == []:  # provably matches nothing: no-op, no commit
        v, n = _manifest_at(path)[0], 0
    else:
        v, n = snapshot_update(spark, path, preds, set_values, mode=mode)
        _refresh_views(spark, path)
    return _one_row(
        spark, "version bigint, num_affected_rows bigint", (v, n)
    )


def _merge_alias(p: _Parser) -> str | None:
    """Optional [AS] alias after a table/source reference."""
    if p.kw("AS"):
        return p.ident()
    t = p.peek()
    if (
        t is not None
        and t.kind == "word"
        and t.text.upper() not in ("USING", "ON", "WHEN")
    ):
        p.i += 1
        return t.text
    return None


def _merge_rhs(p: _Parser, src_alias, stmt: str):
    """One MERGE assignment value: ``("src", col)`` for a source
    column (``s.col`` or unqualified — unqualified resolves against
    the SOURCE; validated at build time) or ``("lit", v)`` for a
    literal. Anything else (target-side references, expressions)
    needs a target read and refuses."""
    t = p.peek()
    if (
        t is not None
        and t.kind == "word"
        and t.text.upper() not in ("TRUE", "FALSE", "NULL")
    ):
        q = p.ident()
        if "." in q:
            al, _, col = q.rpartition(".")
            if src_alias is not None and al == src_alias:
                return ("src", col)
            _fail(
                f"MERGE value {q} must be a source column "
                f"({src_alias}.col) or a literal — target-side or "
                "expression values need a target read",
                stmt,
            )
        return ("src", q)
    return ("lit", p.literal())


def _merge_set_map(p: _Parser, tgt_alias, src_alias, stmt: str) -> dict:
    """``SET t.c = s.c, t.d = 0, ...`` → {target col: rhs spec}. The
    LHS may be qualified with the target alias only."""
    out: dict = {}
    while True:
        q = p.ident()
        if "." in q:
            al, _, col = q.rpartition(".")
            if tgt_alias is None or al != tgt_alias:
                _fail(
                    f"MERGE SET target {q} must be a target column "
                    f"({tgt_alias}.col)",
                    stmt,
                )
        else:
            col = q
        p.expect_punct("=")
        out[col] = _merge_rhs(p, src_alias, stmt)
        if not p.punct(","):
            break
    return out


def _merge_insert_map(p: _Parser, src_alias, stmt: str) -> dict:
    """``INSERT (c1, c2, ...) VALUES (r1, r2, ...)`` → {target col:
    rhs spec}."""
    p.expect_punct("(")
    cols = [p.ident()]
    while p.punct(","):
        cols.append(p.ident())
    p.expect_punct(")")
    p.expect_kw("VALUES")
    p.expect_punct("(")
    vals = [_merge_rhs(p, src_alias, stmt)]
    while p.punct(","):
        vals.append(_merge_rhs(p, src_alias, stmt))
    p.expect_punct(")")
    if len(cols) != len(vals):
        _fail(
            f"MERGE INSERT names {len(cols)} column(s) but VALUES has "
            f"{len(vals)}",
            stmt,
        )
    return dict(zip(cols, vals))


def _merge_projected_source(
    spark, path: str, src_df, keys: list[str],
    upd_map: dict | None, ins_map: dict | None, stmt: str,
):
    """Project/rename the MERGE source so explicit column mappings run
    through the SAME zero-read eq-upsert as the star forms. The upsert
    replaces whole rows keyed by ``keys``, so a mapping is admissible
    only when it determines EVERY target column (a partial UPDATE
    would need the target's current values — a read) and when the
    UPDATE and INSERT branches agree per column (the upsert applies
    ONE image per key regardless of matched-ness; divergent branches
    cannot be expressed without a read)."""
    from pyspark.sql.types import StructType

    from .snapshots import _manifest_at

    schema = StructType.fromJson(_manifest_at(path)[1]["schema"])
    tcols = [f.name for f in schema.fields]
    keyset = set(keys)

    def check(name: str, m: dict | None) -> dict | None:
        if m is None:
            return None
        unknown = [c for c in m if c not in tcols]
        if unknown:
            _fail(f"MERGE {name} assigns unknown column(s) {unknown}", stmt)
        eff = dict(m)
        for k in keys:
            if k in m and m[k] != ("src", k):
                _fail(
                    f"MERGE {name} reassigns key column {k!r} — keys "
                    "come from the ON clause",
                    stmt,
                )
            eff.setdefault(k, ("src", k))
        missing = [c for c in tcols if c not in eff]
        if missing:
            _fail(
                f"MERGE {name} must determine every target column "
                f"(the zero-read upsert replaces whole rows); "
                f"missing {missing} — list them, or use SET * / "
                "INSERT *",
                stmt,
            )
        return eff

    star = {c: ("src", c) for c in tcols}
    upd = check("UPDATE SET", upd_map) or star
    ins = check("INSERT", ins_map) or star
    diverge = [c for c in tcols if c not in keyset and upd[c] != ins[c]]
    if diverge:
        _fail(
            f"MERGE UPDATE and INSERT branches disagree on {diverge} — "
            "the zero-read upsert applies one image per key; make the "
            "branches assign the same values (or pre-shape the source)",
            stmt,
        )
    sel = []
    for f in schema.fields:
        kind, val = ins[f.name]
        if kind == "src":
            if val not in src_df.columns:
                _fail(
                    f"MERGE source has no column {val!r} "
                    f"(source columns: {sorted(src_df.columns)})",
                    stmt,
                )
            sel.append(F.col(val).alias(f.name))
        else:
            sel.append(F.lit(val).cast(f.dataType).alias(f.name))
    return src_df.select(*sel)


def _exec_merge(spark, p: _Parser, stmt: str) -> DataFrame:
    from .eqdeletes import snapshot_append_upsert, snapshot_delete_keys

    p.expect_kw("INTO")
    kind, text = p.table_token()
    path, _ = _resolve_table(spark, kind, text, stmt)
    tgt_alias = _merge_alias(p) or text
    p.expect_kw("USING")
    if p.punct("("):
        # balanced-paren slice of the raw text: the subquery is
        # arbitrary SQL the restricted lexer cannot model
        depth, j = 1, p.i
        start = p.toks[p.i - 1].end
        while j < len(p.toks) and depth:
            t = p.toks[j]
            if t.kind == "punct" and t.text == "(":
                depth += 1
            elif t.kind == "punct" and t.text == ")":
                depth -= 1
            j += 1
        if depth:
            _fail("unbalanced parentheses in MERGE source", stmt)
        src_df = spark.sql(
            _rewrite_time_travel(spark, p.raw[start : p.toks[j - 1].start])
        )
        p.i = j
        src_name = None
    else:
        src_name = p.ident()
        src_df = spark.table(src_name)
    src_alias = _merge_alias(p) or src_name
    p.expect_kw("ON")
    keys: list[str] = []
    while True:
        a = p.ident()
        p.expect_punct("=")
        b = p.ident()

        def _split(q):
            if "." in q:
                al, _, col = q.rpartition(".")
                return al, col
            return None, q

        aal, acol = _split(a)
        bal, bcol = _split(b)
        tcol = scol = None
        for al, col in ((aal, acol), (bal, bcol)):
            if al == tgt_alias:
                tcol = col
            elif al == src_alias or al is None:
                scol = col
        if tcol is None or scol is None:
            _fail(
                f"MERGE ON clause {a} = {b} must equate a target "
                f"column ({tgt_alias}.col) with a source column",
                stmt,
            )
        if tcol != scol:
            _fail(
                f"MERGE ON {a} = {b}: key columns must share a name "
                "(alias the source column in a subquery)",
                stmt,
            )
        keys.append(tcol)
        if not p.kw("AND"):
            break
    # WHEN clauses — the engine-executable shapes: star forms,
    # explicit column mappings (the shapes real CDC tools emit), and
    # keyed delete. Conditional clauses (WHEN [NOT] MATCHED AND pred)
    # refuse up front: deciding per-row needs a target read, which the
    # zero-read upsert deliberately never does.
    saw_update = saw_insert = saw_delete = False
    upd_map: dict | None = None
    ins_map: dict | None = None
    while p.kw("WHEN"):
        if p.kw("MATCHED", "AND") or p.kw("NOT", "MATCHED", "AND"):
            _fail(
                "conditional MERGE clauses (WHEN [NOT] MATCHED AND "
                "pred) need a target read — pre-filter the source "
                "instead",
                stmt,
            )
        if p.kw("MATCHED", "THEN", "UPDATE", "SET"):
            saw_update = True
            if not p.punct("*"):
                upd_map = _merge_set_map(p, tgt_alias, src_alias, stmt)
        elif p.kw("MATCHED", "THEN", "DELETE"):
            saw_delete = True
        elif p.kw("NOT", "MATCHED", "THEN", "INSERT"):
            saw_insert = True
            if not p.punct("*"):
                ins_map = _merge_insert_map(p, src_alias, stmt)
        else:
            t = p.peek()
            _fail(
                "unsupported MERGE WHEN clause at "
                f"{t.text if t else 'end of statement'!r} — "
                "UPDATE SET */cols / INSERT */( cols ) VALUES / "
                "DELETE only",
                stmt,
            )
    p.end()
    if saw_update and saw_insert and not saw_delete:
        if upd_map is not None or ins_map is not None:
            src_df = _merge_projected_source(
                spark, path, src_df, keys, upd_map, ins_map, stmt
            )
        v, n = snapshot_append_upsert(spark, path, src_df, keys)
        _refresh_views(spark, path)
        return _one_row(
            spark, "version bigint, num_affected_rows bigint", (v, n)
        )
    if saw_delete and not (saw_update or saw_insert):
        v, n = snapshot_delete_keys(
            spark, path, src_df.select(*keys).distinct()
        )
        _refresh_views(spark, path)
        return _one_row(
            spark, "version bigint, num_affected_rows bigint", (v, n)
        )
    _fail(
        "MERGE supports exactly `WHEN MATCHED THEN UPDATE SET * WHEN "
        "NOT MATCHED THEN INSERT *` (keyed upsert) or `WHEN MATCHED "
        "THEN DELETE` (keyed delete)",
        stmt,
    )


def _exec_alter_refs(spark, p: _Parser, path: str, stmt: str) -> DataFrame:
    """Branch/tag/WAP statements — the public Iceberg SQL shapes
    (``ALTER TABLE t CREATE BRANCH b [AS OF VERSION n]``, ``DROP
    BRANCH``, ``CREATE TAG``, ``DROP TAG``) plus the publish verb the
    WAP lifecycle needs (Iceberg spells it as a ``fast_forward``
    procedure call; procedures need a JVM catalog, so the front door
    gives it a first-class statement): ``ALTER TABLE t PUBLISH BRANCH
    b [FORCE]``. All metadata-only at any table size. To READ a
    branch, register its ref as a view: ``snapshot_register(spark,
    f"{path}#{branch}", name)`` — every snapshot function accepts the
    ref, so branch DML works by quoting it as the table path
    (``DELETE FROM 'wh/trips#dev' WHERE ...``)."""
    from .branching import (
        create_branch,
        create_tag,
        delete_tag,
        drop_branch,
        publish_branch,
    )

    if p.kw("CREATE", "BRANCH"):
        name = p.ident()
        at = None
        if p.kw("AS", "OF", "VERSION"):
            at = p.literal()
            if not isinstance(at, int):
                _fail(f"AS OF VERSION wants an integer; got {at!r}", stmt)
        p.end()
        ref = create_branch(spark, path, name, at_version=at)
        return _one_row(spark, "branch_ref string", (ref,))
    if p.kw("DROP", "BRANCH"):
        name = p.ident()
        reclaim = p.kw("RECLAIM")
        p.end()
        n = drop_branch(spark, path, name, reclaim=reclaim)
        return _one_row(
            spark, "branch string, files_reclaimed bigint", (name, n)
        )
    if p.kw("PUBLISH", "BRANCH"):
        name = p.ident()
        force = p.kw("FORCE")
        p.end()
        v = publish_branch(spark, path, name, force=force)
        _refresh_views(spark, path)
        return _one_row(spark, "version bigint", (v,))
    if p.kw("CREATE", "TAG"):
        name = p.ident()
        at = None
        if p.kw("AS", "OF", "VERSION"):
            at = p.literal()
            if not isinstance(at, int):
                _fail(f"AS OF VERSION wants an integer; got {at!r}", stmt)
        p.end()
        v = create_tag(spark, path, name, version=at)
        return _one_row(spark, "tag string, version bigint", (name, v))
    if p.kw("DROP", "TAG"):
        name = p.ident()
        p.end()
        delete_tag(spark, path, name)
        return _one_row(spark, "tag string", (name,))
    t = p.peek()
    _fail(
        f"unsupported branch/tag statement at "
        f"{t.text if t else 'end of statement'!r}",
        stmt,
    )


def _exec_show_branches(spark, p: _Parser, stmt: str) -> DataFrame:
    from .branching import list_branches

    kind, text = p.table_token()
    path, _ = _resolve_table_read(spark, kind, text, stmt)
    p.end()
    names = list_branches(spark, path)
    return local_frame(spark, [(n,) for n in names], "branch string")


def _exec_show_tags(spark, p: _Parser, stmt: str) -> DataFrame:
    from .branching import list_tags

    kind, text = p.table_token()
    path, _ = _resolve_table_read(spark, kind, text, stmt)
    p.end()
    tags = list_tags(spark, path)
    return local_frame(
        spark, sorted(tags.items()), "tag string, version bigint"
    )


def _exec_alter(spark, p: _Parser, stmt: str) -> DataFrame:
    from .snapshots import (
        snapshot_add_column,
        snapshot_add_constraint,
        snapshot_drop_column,
        snapshot_drop_constraint,
        snapshot_rename_column,
        snapshot_set_properties,
        snapshot_widen_column,
    )

    kind, text = p.table_token()
    path, _ = _resolve_table(spark, kind, text, stmt)
    if p.kw("ADD", "PARTITION", "FIELD") or p.kw(
        "DROP", "PARTITION", "FIELD"
    ) or p.kw("SET", "PARTITIONING"):
        return _exec_alter_layout(spark, p, path, stmt)
    if (
        p.peek() is not None
        and p.peek().kind == "word"
        and p.peek().text.upper() in ("CREATE", "DROP", "PUBLISH")
        and p.peek(1) is not None
        and p.peek(1).kind == "word"
        and p.peek(1).text.upper() in ("BRANCH", "TAG")
    ):
        return _exec_alter_refs(spark, p, path, stmt)
    if p.kw("ADD", "COLUMNS") or p.kw("ADD", "COLUMN"):
        name = p.ident()
        rawtype = p.rest_raw(stop_kw="DEFAULT")
        if not rawtype:
            _fail(f"ADD COLUMN {name}: missing type", stmt)
        default = None
        if p.kw("DEFAULT"):
            default = p.literal()
            p.end()
        v = snapshot_add_column(spark, path, name, rawtype, default=default)
    elif p.kw("DROP", "COLUMN"):
        name = p.ident()
        p.end()
        v = snapshot_drop_column(spark, path, name)
    elif p.kw("RENAME", "COLUMN"):
        old = p.ident()
        p.expect_kw("TO")
        new = p.ident()
        p.end()
        v = snapshot_rename_column(spark, path, old, new)
    elif p.kw("ALTER", "COLUMN") or p.kw("CHANGE", "COLUMN"):
        name = p.ident()
        if not (p.kw("TYPE") or p.kw("SET", "DATA", "TYPE")):
            _fail(
                f"ALTER COLUMN {name}: only TYPE widening is supported "
                "(ALTER COLUMN name TYPE t)",
                stmt,
            )
        rawtype = p.rest_raw()
        if not rawtype:
            _fail(f"ALTER COLUMN {name} TYPE: missing type", stmt)
        v = snapshot_widen_column(spark, path, name, rawtype)
    elif p.kw("SET", "TBLPROPERTIES"):
        p.expect_punct("(")
        props: dict = {}
        while True:
            k = p.literal()
            p.expect_punct("=")
            val = p.literal()
            if not isinstance(k, str) or not isinstance(val, str):
                _fail("TBLPROPERTIES keys and values are strings", stmt)
            props[k] = val
            if not p.punct(","):
                break
        p.expect_punct(")")
        p.end()
        v = snapshot_set_properties(spark, path, set_props=props)
    elif p.kw("UNSET", "TBLPROPERTIES"):
        p.expect_punct("(")
        keys = [p.literal()]
        while p.punct(","):
            keys.append(p.literal())
        p.expect_punct(")")
        p.end()
        v = snapshot_set_properties(spark, path, unset=keys)
    elif p.kw("ADD", "CONSTRAINT"):
        name = p.ident()
        p.expect_kw("CHECK")
        # balanced-paren token walk: the CHECK expression is arbitrary
        # Spark SQL sliced raw; trailing tokens after the closing ')'
        # refuse like every other statement form (p.end)
        t = p.peek()
        if t is None or t.text != "(":
            _fail(f"ADD CONSTRAINT {name}: expected CHECK (expr)", stmt)
        depth, j = 0, p.i
        while j < len(p.toks):
            tk = p.toks[j]
            if tk.kind == "punct" and tk.text == "(":
                depth += 1
            elif tk.kind == "punct" and tk.text == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        if depth != 0 or j >= len(p.toks):
            _fail(f"ADD CONSTRAINT {name}: unbalanced CHECK (expr)", stmt)
        expr = p.raw[t.end : p.toks[j].start].strip()
        p.i = j + 1
        p.end()
        v = snapshot_add_constraint(spark, path, name, expr)
    elif p.kw("DROP", "CONSTRAINT"):
        name = p.ident()
        p.end()
        v = snapshot_drop_constraint(spark, path, name)
    else:
        t = p.peek()
        _fail(
            "unsupported ALTER TABLE clause at "
            f"{t.text if t else 'end of statement'!r}",
            stmt,
        )
    _refresh_views(spark, path)
    return _one_row(spark, "version bigint", (v,))


def _exec_alter_layout(spark, p: _Parser, path: str, stmt: str) -> DataFrame:
    """Partition evolution statements (Iceberg's public ALTER syntax,
    plus a direct SET PARTITIONING form) — all metadata-only:

      ALTER TABLE t ADD PARTITION FIELD col
      ALTER TABLE t DROP PARTITION FIELD col
      ALTER TABLE t SET PARTITIONING (col, ...)   -- () = unpartitioned
    """
    from .snapshots import (
        _manifest_at,
        _manifest_partition_cols,
        snapshot_set_layout,
    )

    # the verb tokens were consumed by the caller; re-inspect which:
    # ... ADD|DROP PARTITION FIELD <col>   -> p.i-3 is the verb
    # ... SET PARTITIONING (...)           -> p.i-1 is PARTITIONING
    verb = p.toks[p.i - 3].text.upper()
    if p.toks[p.i - 1].text.upper() == "PARTITIONING":
        cols: list[str] = []
        p.expect_punct("(")
        if not p.punct(")"):
            cols.append(p.ident())
            while p.punct(","):
                cols.append(p.ident())
            p.expect_punct(")")
        p.end()
        v = snapshot_set_layout(spark, path, cols or None)
    else:
        col = p.ident()
        p.end()
        man = _manifest_at(path)[1]
        cur = list(_manifest_partition_cols(man) or [])
        if verb == "ADD":
            if col in cur:
                _fail(f"{col!r} is already a partition field", stmt)
            new_layout = cur + [col]
        else:
            if col not in cur:
                _fail(
                    f"{col!r} is not a partition field (layout is "
                    f"{cur or 'unpartitioned'})",
                    stmt,
                )
            new_layout = [c for c in cur if c != col]
        v = snapshot_set_layout(spark, path, new_layout or None)
    _refresh_views(spark, path)
    return _one_row(spark, "version bigint", (v,))


def _cast_checked(spark, pre: DataFrame, schema, tcols, stmt: str):
    """Cast ``pre`` (checkpointed) to the table types with a NO-SILENT-
    NULL guarantee regardless of the session's ANSI setting: one
    aggregation job counts, per column, rows whose pre-cast value is
    non-null but casts to NULL — loud refusal, matching the engine's
    own add-column default probe. Returns ``(casted_df, row_count)``
    (the count rides the same aggregation, so validation costs no
    extra job over the count the caller needed anyway)."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in tcols:
        aggs.append(
            F.sum(
                F.when(
                    F.col(c).isNotNull()
                    & F.col(c).cast(schema[c].dataType).isNull(),
                    1,
                ).otherwise(0)
            ).alias(c)
        )
    row = pre.agg(*aggs).first()
    bad = [c for c in tcols if row[c]]
    if bad:
        _fail(
            f"INSERT value(s) for column(s) {bad} do not cast to the "
            "table types "
            f"({', '.join(schema[c].dataType.simpleString() for c in bad)})",
            stmt,
        )
    casted = pre.select(
        *[F.col(c).cast(schema[c].dataType).alias(c) for c in tcols]
    )
    return casted, int(row["_n"])


def _exec_insert(spark, p: _Parser, stmt: str, overwrite: bool) -> DataFrame:
    """INSERT INTO/OVERWRITE a snapshot table: VALUES rows build a
    typed DataFrame against the table schema (by-position, or by the
    explicit column list — unlisted columns fill the column's declared
    DEFAULT when one exists, else NULL); a SELECT source (time-travel
    forms included) aligns by position. Invalid literals refuse loudly
    regardless of the session's ANSI setting (``_cast_checked``).
    Appends write under the table's CURRENT layout (partition
    evolution aware); OVERWRITE replaces the whole table."""
    from pyspark.sql.types import StructType

    from .manifestlog import list_versions, load_manifest
    from .snapshots import (
        _colmap,
        _manifest_partition_cols,
        snapshot_write,
    )

    kind, text = p.table_token()
    path, _ = _resolve_table(spark, kind, text, stmt)
    versions = list_versions(path)
    if not versions:
        _fail(
            f"no snapshot table at {path} — create it first "
            "(CREATE TABLE ... LOCATION ... AS SELECT, or snapshot_write)",
            stmt,
        )
    man = load_manifest(path, versions[-1])
    schema = StructType.fromJson(man["schema"])
    tcols = [f.name for f in schema.fields]
    # omitted-column fill: the column's declared DEFAULT when one
    # exists (defaults are keyed by PHYSICAL name), else NULL — the
    # write-side counterpart of the read-boundary initial-default
    # (physically storing NULL would defeat the absence-marked fill)
    cmap = _colmap(man)
    dflts = man.get("defaults") or {}

    def _omitted(c):
        return F.lit(dflts.get(cmap.get(c, c))).cast(schema[c].dataType)

    col_list = None
    if p.punct("("):
        col_list = [p.ident()]
        while p.punct(","):
            col_list.append(p.ident())
        p.expect_punct(")")
        unknown = [c for c in col_list if c not in tcols]
        if unknown:
            _fail(f"INSERT column(s) {unknown} not in table schema", stmt)
        if len(set(col_list)) != len(col_list):
            _fail(f"duplicate INSERT column(s) in {col_list}", stmt)
    if p.kw("VALUES"):
        rows = []
        while True:
            p.expect_punct("(")
            row = [p.literal()]
            while p.punct(","):
                row.append(p.literal())
            p.expect_punct(")")
            rows.append(row)
            if not p.punct(","):
                break
        p.end()
        want = col_list or tcols
        bad = [r for r in rows if len(r) != len(want)]
        if bad:
            _fail(
                f"VALUES row has {len(bad[0])} values for {len(want)} "
                "target column(s)",
                stmt,
            )
        by_name = [dict(zip(want, r)) for r in rows]

        # two-step literal typing (string-form, then cast to the table
        # types, with _cast_checked's no-silent-null guard): python-
        # value schema verification is stricter than SQL literal
        # coercion (an int literal into a double column, a date string
        # into a date column)
        def _sform(v):
            if v is None:
                return None
            if isinstance(v, bool):
                return "true" if v else "false"
            return str(v)

        listed = set(want)
        pre = local_frame(
            spark,
            [
                tuple(_sform(d.get(c)) for c in tcols if c in listed)
                for d in by_name
            ],
            ", ".join(f"`{c}` string" for c in tcols if c in listed),
        )
        for c in tcols:
            if c not in listed:
                pre = pre.withColumn(c, _omitted(c))
    else:
        t = p.peek()
        if t is None or not (
            t.kind == "word" and t.text.upper() in ("SELECT", "WITH")
        ):
            _fail(
                "INSERT wants VALUES (...) or SELECT ...; got "
                f"{t.text if t else 'end of statement'!r}",
                stmt,
            )
        src_sql = p.raw[t.start:].rstrip().rstrip(";")
        pre = spark.sql(_rewrite_time_travel(spark, src_sql))
        p.i = len(p.toks)
        want = col_list or tcols
        if len(pre.columns) != len(want):
            _fail(
                f"INSERT source has {len(pre.columns)} column(s) for "
                f"{len(want)} target column(s)",
                stmt,
            )
        # by-position alignment, then DEFAULT/NULL-fill unlisted columns
        pre = pre.toDF(*want)
        for c in tcols:
            if c not in want:
                pre = pre.withColumn(c, _omitted(c))
    pre = pre.select(*tcols).localCheckpoint(eager=True)
    src, n = _cast_checked(spark, pre, schema, tcols, stmt)
    v = snapshot_write(
        src, path,
        mode="overwrite" if overwrite else "append",
        partition_cols=_manifest_partition_cols(man),
    )
    _refresh_views(spark, path)
    return _one_row(
        spark, "version bigint, num_affected_rows bigint", (v, n)
    )


def _exec_create_table_as(spark, p: _Parser, stmt: str) -> DataFrame:
    """CTAS onto a snapshot table path — completes the SQL lifecycle
    (create -> insert -> select -> alter -> delete -> vacuum). A named
    form with LOCATION also registers the name, so follow-up
    statements can use it immediately. Owned ONLY when the target is a
    path or carries LOCATION — catalog CREATE TABLE passes through."""
    from .snapshots import snapshot_register, snapshot_write

    kind, text = p.table_token()
    name = None
    if kind == "path":
        path = text
    else:
        name = text
        if "." in name:
            # dotted names are catalog-qualified — the ownership probe
            # passes those through, and reaching here with one would
            # write data before snapshot_register crashed on the
            # multi-part temp-view name (half-created table)
            _fail(
                f"CREATE TABLE {name}: catalog-qualified names are not "
                "snapshot CTAS targets — use a single-part name, or "
                "drop LOCATION for catalog DDL",
                stmt,
            )
        if name.lower() in _SQL_REGISTRY:
            _fail(
                f"table name {name!r} is already registered (to "
                f"{_SQL_REGISTRY[name.lower()]['path']}) — real CREATE "
                "TABLE errors on duplicates; pick another name",
                stmt,
            )
        p.expect_kw("LOCATION")
        t = p.peek()
        if t is None or t.kind != "string":
            _fail("LOCATION wants a quoted path", stmt)
        path = _unquote(t.text)
        p.i += 1
    pcols = None
    if p.kw("PARTITIONED", "BY"):
        p.expect_punct("(")
        pcols = [p.ident()]
        while p.punct(","):
            pcols.append(p.ident())
        p.expect_punct(")")
    p.expect_kw("AS")
    t = p.peek()
    if t is None or not (
        t.kind == "word" and t.text.upper() in ("SELECT", "WITH")
    ):
        _fail("CREATE TABLE ... AS wants a SELECT", stmt)
    src = spark.sql(
        _rewrite_time_travel(spark, p.raw[t.start:].rstrip().rstrip(";"))
    )
    if pcols:
        missing = [c for c in pcols if c not in src.columns]
        if missing:
            _fail(
                f"PARTITIONED BY column(s) {missing} not in the SELECT",
                stmt,
            )
    from .manifestlog import list_versions

    if list_versions(path):
        _fail(
            f"a snapshot table already exists at {path} — INSERT "
            "OVERWRITE it, or pick a fresh LOCATION",
            stmt,
        )
    src = src.localCheckpoint(eager=True)
    n = src.count()
    v = snapshot_write(src, path, partition_cols=pcols)
    if name:
        snapshot_register(spark, path, name)
    return _one_row(
        spark, "version bigint, num_affected_rows bigint", (v, n)
    )


def _exec_vacuum(spark, p: _Parser, stmt: str) -> DataFrame:
    import json as _json

    from .snapshots import snapshot_maintain, vacuum_snapshots

    kind, text = p.table_token()
    path, _ = _resolve_table(spark, kind, text, stmt)
    if p.kw("RETAIN"):
        hours = p.literal()
        if not isinstance(hours, (int, float)) or isinstance(hours, bool):
            _fail("VACUUM RETAIN wants a number of hours", stmt)
        p.expect_kw("HOURS")
        p.end()
        out = vacuum_snapshots(
            spark, path, older_than=time.time() - float(hours) * 3600.0
        )
        return _one_row(
            spark,
            "versions_dropped bigint, files_deleted bigint",
            (out["versions_dropped"], out["files_deleted"]),
        )
    p.end()
    # bare VACUUM = property-driven maintenance (the table's own
    # declared retention/compaction policy; undeclared steps no-op)
    report = snapshot_maintain(spark, path)
    return _one_row(
        spark, "report string", (_json.dumps(report, default=str),)
    )


def _exec_restore(spark, p: _Parser, stmt: str) -> DataFrame:
    from .snapshots import snapshot_restore, snapshot_version_at

    p.kw("TABLE")  # optional
    kind, text = p.table_token()
    path, _ = _resolve_table(spark, kind, text, stmt)
    p.expect_kw("TO")
    if p.kw("VERSION", "AS", "OF"):
        ver = p.literal()
        if not isinstance(ver, int) or isinstance(ver, bool):
            _fail("RESTORE ... VERSION AS OF wants an integer", stmt)
    elif p.kw("TIMESTAMP", "AS", "OF"):
        ts = p.literal()
        ver = snapshot_version_at(spark, path, ts)
    else:
        _fail("RESTORE wants TO VERSION AS OF n / TO TIMESTAMP AS OF 'ts'",
              stmt)
    p.end()
    v = snapshot_restore(spark, path, ver)
    _refresh_views(spark, path)
    return _one_row(spark, "version bigint", (v,))


def _exec_optimize(spark, p: _Parser, stmt: str) -> DataFrame:
    from .snapshots import snapshot_compact

    kind, text = p.table_token()
    path, _ = _resolve_table(spark, kind, text, stmt)
    p.end()
    v = snapshot_compact(spark, path)
    _refresh_views(spark, path)
    return _one_row(spark, "version bigint", (v,))


def _exec_describe_history(spark, p: _Parser, stmt: str) -> DataFrame:
    from .snapshots import snapshot_history

    kind, text = p.table_token()
    # history is whole-table (every retained version) — a pinned view
    # is a legal target for this pure read
    path, _ = _resolve_table_read(spark, kind, text, stmt)
    p.end()
    return snapshot_history(spark, path)


def _exec_show_partitions(spark, p: _Parser, stmt: str) -> DataFrame:
    from .snapshots import snapshot_partitions

    kind, text = p.table_token()
    path, version = _resolve_table_read(spark, kind, text, stmt)
    p.end()
    return snapshot_partitions(spark, path, version=version)


def _exec_show_tblproperties(spark, p: _Parser, stmt: str) -> DataFrame:
    from .snapshots import snapshot_properties

    kind, text = p.table_token()
    # properties read the HEAD (they are table-level policy, not
    # versioned data) — still a pure read, so pinned views are legal
    path, _ = _resolve_table_read(spark, kind, text, stmt)
    p.end()
    props = snapshot_properties(spark, path)
    return local_frame(
        spark, sorted(props.items()), "key string, value string"
    )


# ------------------------------------------------------------- dispatch

_OWNED_VERBS = {"DELETE", "UPDATE", "MERGE", "VACUUM", "RESTORE",
                "OPTIMIZE", "INSERT"}


def _probe_target_owned(spark, verb: str, statement: str) -> bool:
    """Whether the statement's TARGET resolves to a snapshot table
    (registered name, durable-catalog name, or a path) — the
    ownership test for the DML / maintenance verbs, mirroring the
    probe ALTER always had. An unresolvable target falls through to
    ``spark.sql`` so sessions with a DML-capable catalog (or plain
    typos) get Spark's own behavior instead of being hijacked."""
    try:
        p = _Parser(statement)
        p.i = 1  # past the verb
        if verb == "DELETE":
            p.expect_kw("FROM")
        elif verb == "MERGE":
            p.expect_kw("INTO")
        elif verb == "RESTORE":
            p.kw("TABLE")  # optional
        elif verb == "INSERT":
            if not (p.kw("INTO") or p.kw("OVERWRITE")):
                return False
            p.kw("TABLE")  # optional
        kind, text = p.table_token()
        return kind == "path" or _known_name(spark, text)
    except SqlFrontError:
        return False


def _known_name(spark, text: str) -> bool:
    """Session registry first (free), then the durable catalog — a hit
    there registers the name on the spot, so the executor's
    ``_resolve_table`` finds it without a second catalog read."""
    if text.lower() in _SQL_REGISTRY:
        return True
    from .namecatalog import catalog_resolve_missing

    return catalog_resolve_missing(spark, text)


def _register_catalog_names(spark, statement: str) -> bool:
    """Best-effort recovery for passthrough statements: register every
    durable-catalog name the statement MENTIONS (word tokens) that
    this session doesn't know yet. Returns whether anything new
    registered. Only called after ``spark.sql`` failed, so the happy
    path (temp views all present) pays zero catalog reads — and the
    one ``catalog_entries`` read here feeds every name (no per-name
    re-read), with the guarded-register semantics applied to each
    (stale bindings resolve False; user-created temp views are never
    hijacked)."""
    from .namecatalog import catalog_entries, catalog_register_guarded

    try:
        entries = catalog_entries(spark)
    except Exception:
        return False
    if not entries:
        return False
    hit = False
    try:
        toks = _tokenize(statement)
    except SqlFrontError:
        return False
    for t in toks:
        if t.kind != "word":
            continue
        k = t.text.lower()
        if k in entries and k not in _SQL_REGISTRY:
            if catalog_register_guarded(spark, entries[k]):
                hit = True
    return hit


def _sql_passthrough(spark: SparkSession, statement: str) -> DataFrame:
    """``spark.sql`` with ONE durable-catalog retry: when analysis
    fails and the statement mentions catalog names the session hasn't
    registered, register them and re-run — re-entering the
    time-travel rewriter, which only sees registered names. A fresh
    CLI invocation thus resolves ``SELECT ... FROM trips`` (and
    ``trips VERSION AS OF n``) with no flags."""
    try:
        return spark.sql(_rewrite_time_travel(spark, statement))
    except Exception:
        if not _register_catalog_names(spark, statement):
            raise
        return spark.sql(_rewrite_time_travel(spark, statement))


_EPHEMERAL_CAP = 128


def _register_ephemeral(
    spark: SparkSession, path: str, alias: str, **pin
) -> str:
    """Register a time-travel view minted by the rewriter, marked
    ephemeral: excluded from 'registered:' error listings, and bounded
    — past the cap the oldest ephemeral view (and its registry entry)
    drops, so ad-hoc TIMESTAMP AS OF exploration never accumulates
    unboundedly in a long-lived session. Returns the alias actually
    used: a USER-owned view that happens to share the minted name —
    whether snapshot_register'd (registry-tracked) or a plain
    createOrReplaceTempView the registry never saw — is never
    clobbered; the ephemeral view keeps moving to suffixed names until
    one is free."""
    from .snapshots import snapshot_register

    def user_owns(name: str) -> bool:
        rec = _SQL_REGISTRY.get(name.lower())
        if rec is not None:
            return not rec.get("ephemeral")
        try:  # resolves but untracked → the user's own temp view
            spark.table(name)
            return True
        except Exception:
            return False

    base = alias
    n = 0
    while user_owns(alias):
        n += 1
        alias = f"{base}__eph{'' if n == 1 else n}"
    # a REUSED ephemeral alias must refresh its recency before the
    # cap's oldest-first eviction below: dict key reassignment keeps
    # the old position, so a statement reusing the oldest alias while
    # minting one more view would evict the view it just registered
    _SQL_REGISTRY.pop(alias.lower(), None)
    snapshot_register(spark, path, alias, **pin)
    _SQL_REGISTRY[alias.lower()]["ephemeral"] = True
    eph = [k for k, r in _SQL_REGISTRY.items() if r.get("ephemeral")]
    for k in eph[: max(0, len(eph) - _EPHEMERAL_CAP)]:
        rec = _SQL_REGISTRY.pop(k)
        try:
            spark.catalog.dropTempView(rec["name"])
        except Exception:
            pass
    return alias


def _rewrite_time_travel(spark: SparkSession, statement: str) -> str:
    """SELECT-side time travel over registered snapshot tables:
    rewrite ``name [FOR] VERSION AS OF n`` / ``name [FOR] TIMESTAMP AS
    OF 'ts'`` (the public Delta/Iceberg SQL forms) to a PINNED temp
    view registered on the fly, leaving everything else byte-identical.
    Unregistered names pass through untouched (Spark reports them)."""
    try:
        toks = _tokenize(statement)
    except SqlFrontError:
        return statement
    out = []
    last = 0
    i = 0
    while i < len(toks):
        t = toks[i]
        if (
            t.kind == "word"
            and t.text.lower() in _SQL_REGISTRY
            and i + 3 < len(toks)
        ):
            j = i + 1
            if (
                toks[j].kind == "word" and toks[j].text.upper() == "FOR"
                and j + 3 < len(toks)
            ):
                j += 1
            k1, k2, k3 = toks[j], toks[j + 1], (
                toks[j + 2] if j + 2 < len(toks) else None
            )
            kind_word = k1.text.upper() if k1.kind == "word" else ""
            if (
                kind_word in ("VERSION", "TIMESTAMP")
                and k2.kind == "word" and k2.text.upper() == "AS"
                and k3 is not None
                and k3.kind == "word" and k3.text.upper() == "OF"
                and j + 3 < len(toks)
            ):
                lit = toks[j + 3]
                rec = _SQL_REGISTRY[t.text.lower()]
                if kind_word == "VERSION":
                    if lit.kind != "num":
                        _fail("VERSION AS OF wants an integer", statement)
                    ver = int(lit.text)
                    alias = f"{t.text.lower()}__v{ver}"
                    alias = _register_ephemeral(
                        spark, rec["path"], alias, version=ver
                    )
                else:
                    if lit.kind not in ("string", "num"):
                        _fail(
                            "TIMESTAMP AS OF wants a quoted timestamp "
                            "or epoch seconds",
                            statement,
                        )
                    raw = (
                        _unquote(lit.text)
                        if lit.kind == "string"
                        else lit.text
                    )
                    # injective alias: a sanitized prefix for
                    # readability plus a hash of the EXACT literal —
                    # distinct timestamps that sanitize identically
                    # (+02:00 vs -02:00) must never share a view
                    h = hashlib.md5(str(raw).encode()).hexdigest()[:10]
                    alias = (
                        f"{t.text.lower()}__ts_"
                        + re.sub(r"[^A-Za-z0-9]", "_", str(raw))[:40]
                        + f"_{h}"
                    )
                    alias = _register_ephemeral(
                        spark, rec["path"], alias, at_timestamp=raw
                    )
                out.append(statement[last : t.start])
                out.append(alias)
                last = lit.end
                i = j + 4
                continue
        i += 1
    if not out:
        return statement
    out.append(statement[last:])
    return "".join(out)


_AGG_KWS = ("COUNT", "MIN", "MAX", "SUM")


def _parse_mixed_select(p: "_Parser"):
    """The select list as items — ``("agg", func, arg, alias|None)``
    for MIN/MAX/SUM/COUNT calls over plain columns (COUNT(*) and
    COUNT(1) both store arg ``"*"``), ``("col", name)`` for bare
    identifiers — or None when anything else appears (DISTINCT,
    expressions, multi-arg calls, implicit AS-less aliases): the
    caller restores the cursor; reads always have the spark.sql
    fallback. A word is an aggregate only when ``(`` follows, so a
    column literally named ``min`` stays a column."""
    items: list[tuple] = []
    while True:
        func = None
        for cand in _AGG_KWS:
            nxt = p.peek(1)
            if (
                nxt is not None
                and nxt.kind == "punct"
                and nxt.text == "("
                and p.kw(cand)
            ):
                func = cand.lower()
                break
        if func is not None:
            p.expect_punct("(")
            if p.punct("*"):
                if func != "count":
                    return None
                arg = "*"
            else:
                t = p.peek()
                if (
                    func == "count"
                    and t is not None
                    and t.kind == "num"
                    and t.text == "1"
                ):
                    p.i += 1
                    arg = "*"
                elif t is not None and t.kind in ("word", "bq"):
                    arg = p.ident()
                else:
                    return None
            if not p.punct(")"):
                return None
            alias = p.ident() if p.kw("AS") else None
            items.append(("agg", func, arg, alias))
        else:
            t = p.peek()
            if t is None or t.kind not in ("word", "bq"):
                return None
            items.append(("col", p.ident()))
        if not p.punct(","):
            return items


def _resolve_agg_specs(spark, path, aggs, version, gcols=None):
    """Resolve parsed aggregate items (and, for GROUP BY shapes, the
    group columns) against the snapshot schema: ``([(func,
    canonical_col, raw_arg, alias, dataType)], [(canonical_gcol,
    dataType)] | None, version, manifest)`` with the head pinned to a
    concrete version (types and values must come from the SAME
    manifest; the loaded manifest is returned so the executor doesn't
    load it twice), or ``(None, None, version, None)`` when the fast
    path should fall through — unknown or case-ambiguous column, SUM
    over a non-numeric, a group column that isn't a partition column
    — so spark.sql reports (or resolves) it exactly as a passthrough
    scan would. A table with no such version raises
    ``FileNotFoundError`` (``_manifest_at``), which also falls
    through."""
    from pyspark.sql.types import NumericType, StructType

    from .snapshots import _manifest_at, _manifest_partition_cols, _phys

    version, man = _manifest_at(path, version)
    by_lower: dict[str, list] = {}
    for fld in StructType.fromJson(man["schema"]).fields:
        by_lower.setdefault(fld.name.lower(), []).append(fld)
    specs = []
    for func, arg, alias in aggs:
        if arg == "*":
            specs.append((func, "*", "*", alias, None))
            continue
        cands = by_lower.get(arg.lower())
        if cands is None or len(cands) != 1:
            return None, None, version, None
        fld = cands[0]
        if func == "sum" and not isinstance(fld.dataType, NumericType):
            return None, None, version, None
        specs.append((func, fld.name, arg, alias, fld.dataType))
    gspecs = None
    if gcols is not None:
        part_cols = set(_manifest_partition_cols(man) or ())
        gspecs = []
        for g in gcols:
            cands = by_lower.get(g.lower())
            if cands is None or len(cands) != 1:
                return None, None, version, None
            fld = cands[0]
            if _phys(man, fld.name) not in part_cols:
                # only directory-provable group values plan from
                # metadata; everything else scans via passthrough
                return None, None, version, None
            gspecs.append((fld.name, fld.dataType))
    return specs, gspecs, version, man


def _agg_out_field(func, raw, alias, dt):
    """The output StructField for one aggregate select item — the ONE
    place encoding Spark's probed auto-alias (lowercase func over the
    arg text as written; COUNT(*)/COUNT(1) both render ``count(1)``),
    result types (count→bigint, sum→``_sum_result_type``), and
    nullability (count non-null, the rest nullable), matching a
    ``spark.sql`` passthrough of the same select item."""
    from pyspark.sql.types import LongType, StructField

    if func == "count":
        out_dt, nullable = LongType(), False
    elif func == "sum":
        out_dt, nullable = _sum_result_type(dt), True
    else:
        out_dt, nullable = dt, True
    name = alias or ("count(1)" if raw == "*" else f"{func}({raw})")
    return StructField(name, out_dt, nullable)


def _sum_result_type(dt):
    """Spark's SUM result type (probed, Spark 4.1): integral →
    bigint, float/double → double, decimal(p,s) → decimal(p+10,s)
    capped at 38 precision."""
    from pyspark.sql.types import (
        ByteType,
        DecimalType,
        DoubleType,
        IntegerType,
        LongType,
        ShortType,
    )

    if isinstance(dt, DecimalType):
        return DecimalType(min(dt.precision + 10, 38), dt.scale)
    if isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        return LongType()
    return DoubleType()


def _try_select_fastpath(
    spark: SparkSession, statement: str
) -> DataFrame | None:
    """Metadata-planned SELECT routing — the read-side twin of the DML
    dispatch. The restricted shapes

        SELECT COUNT(*) [AS a] FROM t [time travel] [WHERE preds]
        SELECT agg [, agg ...] FROM t [time travel] [WHERE preds]
            (agg = MIN|MAX|SUM|COUNT(col) | COUNT(*|1), opt. AS a)
        SELECT [pcol |] agg [, ...] FROM t [time travel] [WHERE preds]
            GROUP BY pcol [, pcol ...]   (pcols = partition columns)
        SELECT * | col [, col ...] FROM t [time travel] [WHERE preds]
            [LIMIT n]

    (t = a registered/durable-catalog snapshot name or a quoted table
    path; preds = the front door's plannable grammar) route to
    ``snapshot_agg`` / ``read_snapshot(where=)``: a COUNT or
    MIN/MAX/SUM under a retention cutoff answers from manifest stats
    opening only boundary files, and a predicate read opens only the
    files whose stats admit a match — the analyst typing SQL gets the
    engine's best read plan, not a full-view scan. Anything else returns None
    and passes through to ``spark.sql`` untouched (CTEs, joins,
    aggregations, expressions, unresolvable names — reads always have
    the safe fallback, so unlike DML nothing refuses here).

    Parity rules, so routing is never observable in results:
    - a registered NAME answers at the view's ``resolved_version`` —
      exactly what a passthrough scan of the temp view reflects, even
      when later commits moved the head (paths answer at head);
    - explicit ``VERSION AS OF`` / ``TIMESTAMP AS OF`` wins over the
      registration pin, mirroring ``_rewrite_time_travel``;
    - a session temp view the registry does NOT own shadows the
      durable catalog (the catalog is only consulted for names with
      no existing view — the same precedence ``_sql_passthrough``'s
      analysis-failure retry gives);
    - partition-scoped registrations fall through (the fast path does
      not model a file-subset view)."""
    from .snapshots import _agg_at, read_snapshot, snapshot_version_at

    try:
        p = _Parser(statement)
        p.expect_kw("SELECT")
        cols: list[str] | None = None
        items: list[tuple] | None = None
        if p.punct("*"):
            cols = None
        else:
            items = _parse_mixed_select(p)
            if items is None:
                return None
            if not any(it[0] == "agg" for it in items):
                # plain projection — the read_snapshot(where=) path
                cols = [it[1] for it in items]
                items = None
        p.expect_kw("FROM")
        kind, text = p.table_token()
        rec = None
        if kind == "path" or _looks_like_path(text):
            path = text
        else:
            if text.lower() not in _SQL_REGISTRY:
                # an existing view/table we did not register shadows
                # the durable catalog for reads — never hijack it
                try:
                    if spark.catalog.tableExists(text):
                        return None
                except Exception:
                    return None
            if not _known_name(spark, text):
                return None
            rec = _SQL_REGISTRY.get(text.lower())
            if rec is None or rec.get("partitions"):
                return None
            # the live temp view must still BE the plan we registered:
            # a view the user replaced (createOrReplaceTempView) or
            # dropped after snapshot_register wins for reads exactly
            # as passthrough would serve (or report) it
            vdf = rec.get("view_df")
            if vdf is None:
                return None
            try:
                if not spark.table(rec["name"]).sameSemantics(vdf):
                    return None
            except Exception:
                return None  # dropped view: spark reports it
            path = rec["path"]
        version = None
        explicit_tt = False
        save = p.i
        p.kw("FOR")
        if p.kw("VERSION", "AS", "OF"):
            t = p.peek()
            if t is None or t.kind != "num" or not t.text.isdigit():
                return None
            version = int(t.text)
            p.i += 1
            explicit_tt = True
        elif p.kw("TIMESTAMP", "AS", "OF"):
            ts = p.literal()
            if ts is None:
                return None
            version = snapshot_version_at(spark, path, ts)
            explicit_tt = True
        else:
            p.i = save
        if not explicit_tt and rec is not None:
            version = rec.get("resolved_version")
            if version is None:
                return None  # empty table / legacy rec: passthrough
        preds = None
        if p.kw("WHERE"):
            preds = _parse_predicates(p)
        gcols: list[str] | None = None
        if p.kw("GROUP", "BY"):
            gcols = [p.ident()]
            while p.punct(","):
                gcols.append(p.ident())
        limit = None
        if p.kw("LIMIT"):
            t = p.peek()
            if t is None or t.kind != "num" or not t.text.isdigit():
                return None
            limit = int(t.text)
            p.i += 1
        if not p.done():
            return None
        # dotted identifiers (qualified columns, struct fields — the
        # word lexer folds 'trips.fare' into ONE token) resolve under
        # spark.sql's rules, not df.select's: pass them through
        if cols is not None and any("." in c for c in cols):
            return None
        if preds is not None:
            for b in [preds] if isinstance(preds, dict) else preds:
                if any("." in c for c in b):
                    return None
        if gcols is not None and (
            items is None or any("." in g for g in gcols)
        ):
            # GROUP BY without aggregates (or with *): passthrough
            return None
        agg_man = agg_plan = None
        if items is not None:
            for it in items:
                if it[0] == "agg":
                    _k, _f, _a, _al = it
                    if (_a != "*" and "." in _a) or (
                        _al is not None and "." in _al
                    ):
                        return None
                elif "." in it[1]:
                    return None
            if gcols is None and any(it[0] == "col" for it in items):
                return None  # bare col without GROUP BY: invalid
            agg_specs, gspecs, version, agg_man = _resolve_agg_specs(
                spark,
                path,
                [it[1:] for it in items if it[0] == "agg"],
                version,
                gcols=gcols,
            )
            if agg_specs is None:
                return None
            # each bare select column must BE a group column
            # (case-insensitively); anything else is invalid SQL
            # that passthrough reports properly
            gidx = {c.lower(): i for i, (c, _dt) in enumerate(gspecs or ())}
            plan = []
            ai = 0
            for it in items:
                if it[0] == "col":
                    i = gidx.get(it[1].lower())
                    if i is None:
                        return None
                    plan.append(("g", i, it[1]))
                else:
                    plan.append(("a", ai))
                    ai += 1
            agg_plan = (plan, gspecs, agg_specs)
    except ValueError:
        # SqlFrontError (unsupported shape/predicate) and the planner
        # value-type refusals (e.g. a bool range bound) alike: reads
        # always have the safe spark.sql fallback
        return None
    except FileNotFoundError:
        return None  # unresolvable version/timestamp: spark reports
    # shape recognized and target resolved — execute without catching:
    # from here an error is a real error, identical in kind to what
    # the passthrough scan would raise (missing column, bad path)
    if agg_plan is not None:
        from pyspark.sql.types import StructField, StructType

        plan, gspecs, specs = agg_plan
        rows = _agg_at(
            spark,
            path,
            agg_man,
            [(f, c) for f, c, _raw, _al, _dt in specs],
            by=None if gspecs is None else [c for c, _dt in gspecs],
            where=preds,
        )
        nby = len(gspecs or ())
        fields = []
        for step in plan:
            if step[0] == "g":
                # a selected group column: as-written name, the
                # partition column's type, nullable (probed: Spark
                # reads partition values as nullable)
                fields.append(
                    StructField(step[2], gspecs[step[1]][1], True)
                )
            else:
                f, _c, raw, alias, dt = specs[step[1]]
                fields.append(_agg_out_field(f, raw, alias, dt))
        data = [
            tuple(
                r[step[1]] if step[0] == "g" else r[nby + step[1]]
                for step in plan
            )
            for r in rows
        ]
        out = local_frame(spark, data, StructType(fields))
        return out.limit(limit) if limit is not None else out
    if preds == []:
        df = read_snapshot(spark, path, version=version).limit(0)
    else:
        df = read_snapshot(spark, path, version=version, where=preds)
    if cols is not None:
        df = df.select(*cols)
    if limit is not None:
        df = df.limit(limit)
    return df


def snapshot_sql(
    spark: SparkSession, statement: str, mode: str = "auto"
) -> DataFrame:
    """Run ``statement`` — snapshot DML/DDL/maintenance dispatches to
    the manifest-commit engine; everything else passes through to
    ``spark.sql`` untouched. Always returns a DataFrame (DML returns
    ``(version, num_affected_rows)``; ALTER/RESTORE/OPTIMIZE return
    ``(version)``; the caller collects).

    ``mode`` forwards to the DELETE/UPDATE strategy dispatch
    (``auto`` | ``dv`` | ``rewrite`` — see ``snapshot_delete``).
    """
    head = statement.lstrip()
    m = re.match(r"[A-Za-z_]+", head)
    verb = m.group(0).upper() if m else ""
    if verb in _OWNED_VERBS:
        if _probe_target_owned(spark, verb, statement):
            p = _Parser(statement)
            p.i = 1  # past the verb
            if verb == "DELETE":
                return _exec_delete(spark, p, statement, mode)
            if verb == "UPDATE":
                return _exec_update(spark, p, statement, mode)
            if verb == "MERGE":
                return _exec_merge(spark, p, statement)
            if verb == "VACUUM":
                return _exec_vacuum(spark, p, statement)
            if verb == "RESTORE":
                return _exec_restore(spark, p, statement)
            if verb == "OPTIMIZE":
                return _exec_optimize(spark, p, statement)
            if verb == "INSERT":
                overwrite = p.kw("OVERWRITE")
                if not overwrite:
                    p.expect_kw("INTO")
                p.kw("TABLE")  # optional
                return _exec_insert(spark, p, statement, overwrite)
        # unresolvable target: pass through — but if Spark can't run
        # it either, surface BOTH facts (plain sessions have no
        # DML-capable catalog, so Spark's bare error would bury the
        # likely fix: registering the snapshot table)
        try:
            return _sql_passthrough(spark, statement)
        except Exception as e:
            known = sorted(
                k
                for k, r in _SQL_REGISTRY.items()
                if not r.get("ephemeral")
            ) or ["<none>"]
            raise SqlFrontError(
                f"{verb} target is not a registered snapshot table "
                f"(registered: {', '.join(known)}; register with "
                "snapshot_register or pass a quoted table path), and "
                f"spark.sql also failed: {e}"
            ) from e
    if verb == "CREATE":
        # ours only for CREATE TABLE with a path target or a LOCATION
        # clause AND an AS SELECT tail — catalog DDL passes through.
        # The probe is isolated from the executor so the executor's
        # own refusals (existing table, bad PARTITIONED BY) stay loud
        # instead of degrading into a spark.sql passthrough.
        owned = False
        try:
            p = _Parser(statement)
            p.i = 1
            if p.kw("TABLE"):
                kind, text = p.table_token()
                if kind == "name" and "." in text:
                    raise SqlFrontError("catalog-qualified")  # passthrough
                has_loc = kind == "path" or p.kw("LOCATION")
                has_as = any(
                    tk.kind == "word" and tk.text.upper() == "AS"
                    for tk in p.toks[p.i:]
                )
                owned = has_loc and has_as
        except SqlFrontError:
            owned = False
        if owned:
            p2 = _Parser(statement)
            p2.i = 1
            p2.expect_kw("TABLE")
            return _exec_create_table_as(spark, p2, statement)
    if verb == "ALTER":
        # ours only when the target resolves to a snapshot table —
        # catalog ALTERs (real Spark tables) pass through
        try:
            p = _Parser(statement)
            p.i = 1
            p.expect_kw("TABLE")
            kind, text = p.table_token()
            owned = kind == "path" or _known_name(spark, text)
        except SqlFrontError:
            owned = False
        if owned:
            p = _Parser(statement)
            p.i = 1
            p.expect_kw("TABLE")
            return _exec_alter(spark, p, statement)
    if verb in ("DESCRIBE", "DESC"):
        p = _Parser(statement)
        p.i = 1
        if p.kw("HISTORY"):
            t = p.peek()
            if t is not None and (
                t.kind == "string"
                or (t.kind == "bq" and _looks_like_path(t.text[1:-1]))
                or (t.kind == "word" and _known_name(spark, t.text))
            ):
                return _exec_describe_history(spark, p, statement)
    if verb == "SHOW":
        p = _Parser(statement)
        p.i = 1
        what = (
            "props" if p.kw("TBLPROPERTIES")
            else "parts" if p.kw("PARTITIONS")
            else "branches" if p.kw("BRANCHES")
            else "tags" if p.kw("TAGS")
            else None
        )
        if what:
            t = p.peek()
            if t is not None and (
                t.kind in ("string",)
                or (t.kind == "bq" and _looks_like_path(t.text[1:-1]))
                or (t.kind == "word" and _known_name(spark, t.text))
            ):
                if what == "props":
                    return _exec_show_tblproperties(spark, p, statement)
                if what == "branches":
                    return _exec_show_branches(spark, p, statement)
                if what == "tags":
                    return _exec_show_tags(spark, p, statement)
                return _exec_show_partitions(spark, p, statement)
    if verb == "SELECT":
        fast = _try_select_fastpath(spark, statement)
        if fast is not None:
            return fast
    return _sql_passthrough(spark, statement)
