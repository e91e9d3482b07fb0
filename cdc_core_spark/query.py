"""DataStore read API: keyed point lookup + Q-query search with paging.

Reference surface (persistence module):
* ``Q{where, sort, params}`` parsed to entity-mapped HQL and scrolled —
  AbstractDataStore.java:43-70 (Q), :249-298 (search/doSearch),
  impl/rdbms/SqlQueryParser.java:64-168;
* keyed point lookup — AbstractDataStore.find, :228-247;
* server-side paging cursor — Cursor.java:32-46 (nextPage),
  impl/rdbms/HibernateCursor.java.

Spark-first: the where/sort strings are handed to Catalyst (``F.expr``) —
the analyzer/optimizer replaces SqlQueryParser entirely, and predicate
pushdown into the parquet scan is what the reference delegated to the
backing database. Parameter binding substitutes into literals up front
(named ``:param`` style), so the expression stays a static plan.

Paging note for 100 TB: ``Cursor`` materializes page boundaries with
``offset``/``limit`` semantics via monotonic ordering — each page is an
independent job with pushdown intact. For repeated scans of the same query
prefer one job + ``toLocalIterator``; the page API exists for reference
parity (UI-style scrolling).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class Q:
    """Query spec: SQL-expression predicate + sort keys + named params.
    Mirrors AbstractDataStore.Q (where/sort/params)."""
    where: str | None = None
    sort: list[tuple[str, str]] = field(default_factory=list)  # (col, "asc"|"desc")
    params: dict = field(default_factory=dict)

    def bound_where(self) -> str | None:
        """Bind named params into the predicate text in ONE regex pass —
        word-boundary alternation, longest name first so `:p` never corrupts
        `:p2`, and a single pass so a `:token` inside an already-substituted
        string VALUE can never be rewritten by a later parameter. String
        values escape BOTH the backslash and the quote (Spark SQL string
        literals process backslash escapes, so quote-doubling alone leaves
        `C:\\temp\\` ending in an escape that swallows the closing quote —
        a parse error at best, predicate injection at worst), and the
        common typed params (date/datetime/Decimal, IN-lists) render as
        their SQL literal forms instead of a repr() Catalyst can't parse."""
        if self.where is None:
            return None
        if not self.params:
            return self.where
        import re

        def lit(v) -> str:
            import datetime
            import decimal
            if v is None:
                return "NULL"
            if isinstance(v, bool):
                return "true" if v else "false"
            if isinstance(v, str):
                return ("'" + v.replace("\\", "\\\\")
                            .replace("'", "\\'") + "'")
            if isinstance(v, (int, float)):
                import math
                if isinstance(v, float) and not math.isfinite(v):
                    # repr(inf/nan) is a bare identifier Catalyst resolves
                    # as a COLUMN reference (or worse, silently binds a
                    # real column named inf) — refuse instead
                    raise ValueError(
                        f"non-finite float parameter {v!r}: write the "
                        "predicate explicitly (e.g. CAST('Infinity' AS "
                        "DOUBLE)) instead of binding it")
                return repr(v)
            if isinstance(v, decimal.Decimal):
                return str(v)
            if isinstance(v, datetime.datetime):
                return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
            if isinstance(v, datetime.date):
                return f"DATE '{v.isoformat()}'"
            if isinstance(v, (list, tuple, set)):
                items = sorted(v) if isinstance(v, set) else v
                return "(" + ", ".join(lit(x) for x in items) + ")"
            raise TypeError(
                f"unsupported query parameter type {type(v).__name__}: "
                "pass str/bool/int/float/Decimal/date/datetime or a "
                "list/tuple for IN-lists")

        names = sorted(self.params, key=len, reverse=True)
        pat = re.compile(":(" + "|".join(re.escape(k) for k in names) + r")\b")
        return pat.sub(lambda m: lit(self.params[m.group(1)]), self.where)


def search(df: DataFrame, q: Q, max_results: int | None = None) -> DataFrame:
    """AbstractDataStore.search analog: filter + sort (+ limit), fully
    declarative so Catalyst pushes the predicate into the scan."""
    out = df
    bw = q.bound_where()
    if bw:
        out = out.filter(F.expr(bw))
    if q.sort:
        out = out.orderBy(*[
            F.col(c).desc() if d.lower().startswith("d") else F.col(c).asc()
            for c, d in q.sort
        ])
    if max_results is not None:
        out = out.limit(max_results)
    return out


def find_by_key(df: DataFrame, key: dict) -> DataFrame:
    """Keyed point lookup (AbstractDataStore.find): conjunctive equality on
    the key columns — with a bucketed/partitioned layout Catalyst prunes to
    the single file group. Key names are quoted (``lake.ident``): a dot or
    space stays part of the name."""
    from cdc_core_spark.lake import ident
    cond = None
    for c, v in key.items():
        p = F.col(ident(c)) == F.lit(v)
        cond = p if cond is None else (cond & p)
    return df.filter(cond)


class KeysetCursor:
    """Seek-method paging — the scale-correct cursor.

    Page N+1 filters ``(sort_col, tiebreak) > (last seen)`` instead of
    using OFFSET: the seek predicate pushes into the scan, so every page
    costs O(page) while offset paging re-computes and discards N·page rows
    per page (O(N²) over a full scroll). This is the stateless distributed
    equivalent of the reference's server-side scrolled cursor
    (HibernateCursor / Cursor.nextPage, persistence/.../Cursor.java:32-46);
    the plain ``Cursor`` below keeps the offset semantics for parity.

    Supports one sort column (asc/desc) plus a unique ascending tiebreak —
    the shape UI scrolling and export jobs actually use.

    NULL sort values are handled: Spark orders nulls FIRST under asc and
    LAST under desc, so the seek predicate runs in two phases — while the
    cursor is inside the null segment it seeks on the tiebreak alone
    (``isNull() AND tiebreak > last``), and across the segment boundary it
    includes the other segment wholesale. A naive ``col > lit(None)``
    comparison would evaluate to NULL and silently drop every remaining
    page. The tiebreak column itself must be non-null unique.
    """

    def __init__(self, df: DataFrame, q: Q, page_size: int = 1000,
                 tiebreak: str = "id"):
        if len(q.sort) > 1:
            raise ValueError("KeysetCursor supports one sort column + tiebreak")
        self._sort_col, d = q.sort[0] if q.sort else (tiebreak, "asc")
        self._desc = d.lower().startswith("d")
        self._tiebreak = tiebreak
        base = df
        bw = q.bound_where()
        if bw:
            base = base.filter(F.expr(bw))
        order = [F.col(self._sort_col).desc() if self._desc
                 else F.col(self._sort_col).asc()]
        if tiebreak != self._sort_col:
            order.append(F.col(tiebreak).asc())
        self._base = base.orderBy(*order)
        self._page_size = page_size
        self._last = None          # (sort_value, tiebreak_value)
        self._exhausted = False    # partial page seen -> no more jobs

    def _seek_pred(self):
        s, t = self._last
        sc, tc = F.col(self._sort_col), F.col(self._tiebreak)
        if self._tiebreak == self._sort_col:
            if s is None:
                raise ValueError(
                    "KeysetCursor tiebreak column contains NULLs — the "
                    "tiebreak must be a non-null unique column")
            return (sc < F.lit(s)) if self._desc else (sc > F.lit(s))
        if t is None:
            raise ValueError(
                "KeysetCursor tiebreak column contains NULLs — the "
                "tiebreak must be a non-null unique column")
        tie_ahead = tc > F.lit(t)
        if s is None:
            # inside the null segment: seek on the tiebreak alone; under asc
            # (nulls first) every non-null row is still ahead, under desc
            # (nulls last) only later nulls remain
            in_null = sc.isNull() & tie_ahead
            return in_null if self._desc else (in_null | sc.isNotNull())
        ahead = (sc < F.lit(s)) if self._desc else (sc > F.lit(s))
        pred = ahead | ((sc == F.lit(s)) & tie_ahead)
        if self._desc:
            pred = pred | sc.isNull()  # desc: the null segment is still ahead
        return pred

    def next_page(self) -> list:
        if self._exhausted:
            return []
        df = self._base
        if self._last is not None:
            df = df.filter(self._seek_pred())
        rows = df.limit(self._page_size).collect()
        if len(rows) < self._page_size:
            # a partial page proves nothing remains — remember it so a full
            # scroll never pays one extra whole scan job just to observe an
            # empty page (an exactly-page-sized tail still needs the probe)
            self._exhausted = True
        if rows:
            last = rows[-1]
            self._last = (last[self._sort_col], last[self._tiebreak])
        return rows

    def __iter__(self):
        while True:
            rows = self.next_page()
            if not rows:
                return
            yield rows


class Cursor:
    """OFFSET-paged scroll over a search result (Cursor.nextPage analog) —
    kept for reference parity; prefer ``KeysetCursor`` at scale (see its
    docstring for the cost asymmetry).

    Requires a total order: if ``q.sort`` doesn't already end in a unique
    column, pass ``tiebreak`` to make paging deterministic.
    """

    def __init__(self, df: DataFrame, q: Q, page_size: int = 1000,
                 tiebreak: str | None = None):
        sort = list(q.sort)
        if tiebreak and tiebreak not in [c for c, _ in sort]:
            sort = sort + [(tiebreak, "asc")]
        self._ordered = search(df, Q(q.where, sort, q.params))
        self._page_size = page_size
        self._page = 0

    def next_page(self) -> list:
        rows = (self._ordered
                .offset(self._page * self._page_size)
                .limit(self._page_size)
                .collect())
        self._page += 1
        return rows

    def __iter__(self):
        while True:
            rows = self.next_page()
            if not rows:
                return
            yield rows
